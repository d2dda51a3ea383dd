"""Vector-search queries (SURVEY §2.6: V1-V4, T1) on the ``embeddings`` table.

The query vectors are deterministic stub embeddings (functions/vector.py
``hash_embed``) so the Spark side and the DuckDB oracle share an identical
float64 literal. DuckDB oracle uses ``list_cosine_similarity`` over
``DOUBLE[]`` — same sequential accumulation order as our ``aggregate``-based
formula, so values agree bit-for-bit before the 6-digit round.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chatdata_spark.functions.vector import hash_embed, vector_literal_sql
from chatdata_spark.operators.knn import knn
from chatdata_spark.queries.dialect import _duck_vec
from chatdata_spark.registry import query

DIM = 64
Q1 = hash_embed("q1", DIM)
Q2 = hash_embed("q2", DIM)

# ---- Containment rank margins for the approximate-ANN soundness oracles
# (FIXTURES.md 'Empirically-pinned soundness oracles') -----------------------
# ONE place to re-measure after a testdata regeneration or operating-point
# change (recipe: tools/recall_curves.py / tests/test_lsh.py / tests/test_pq.py
# report the observed max rank; keep a ~3x margin over it). The margins bound
# how deep in the EXACT ranking an approximate result may legally sit; the
# expected n_results / containment counts themselves are replay-derived in
# the lazy oracles below (regeneration-proof), so only these depths are
# empirical knobs.
LSH_PROBE_RANK_MARGIN = 90  # observed max candidate rank <=26 (sf0.01/sf0.1)
PQ_ADC_RANK_MARGIN = 45     # observed max reranked rank <=16 (sf0.01/sf0.1)
OPQ_ADC_RANK_MARGIN = 45    # observed max reranked rank <=14 (sf0.01/sf0.1)
IVFPQ_RANK_MARGIN = 60      # observed max reranked rank <=24 (sf0.01/sf0.1)
KNN_JOIN_RANK_MARGIN = 45   # observed max pruned-pair rank <=19 (sf0.01/sf0.1)
# Fraction of queries whose pruned (n_probe=2) best distance must equal the
# exact top-1 — a RECALL property, so thresholded rather than pinned:
# observed 50/50 on the committed fixtures, 49/50 on a different-seed
# regeneration probe (the dry-run that motivated the threshold).
KNN_JOIN_TOP1_MIN_FRAC = 0.9


def _oracle_sf_dir() -> str:
    """Shared override-able fixture dir for lazy replay oracles — ONE
    definition in catalog.py (see its docstring)."""
    from chatdata_spark.catalog import oracle_sf_dir

    return oracle_sf_dir()


def _duck_cos(col: str, vec) -> str:
    return f"ROUND(1.0 - list_cosine_similarity(CAST({col} AS DOUBLE[]), {_duck_vec(vec)}), 6)"


_ = vector_literal_sql  # re-exported for dialect tests


@query(
    "knn_topk",
    oracle=f"""
    SELECT vec_id, label, {_duck_cos('embedding', Q1)} AS dist
    FROM embeddings
    ORDER BY dist ASC, vec_id ASC
    LIMIT 10
    """,
)
def knn_topk(spark, sf_dir):
    """V3/T1: unfiltered exact top-10 by cosine distance
    (myscale_without_metadata.py:19-36 template, no PREWHERE)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return knn(emb, "embedding", Q1, k=10, select=["vec_id", "label"], id_col="vec_id")


@query(
    "knn_filtered",
    oracle=f"""
    SELECT vec_id, label, {_duck_cos('embedding', Q2)} AS dist
    FROM embeddings
    WHERE label IN (1, 3, 5) AND vec_id % 2 = 0
    ORDER BY dist ASC, vec_id ASC
    LIMIT 20
    """,
)
def knn_filtered(spark, sf_dir):
    """V3 + P3/P7 (PREWHERE slot, myscale_without_metadata.py:23-26):
    filter is pushed into the parquet scan by Catalyst."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    where = F.col("label").isin(1, 3, 5) & (F.col("vec_id") % 2 == 0)
    return knn(emb, "embedding", Q2, k=20, where=where, select=["vec_id", "label"], id_col="vec_id")


@query(
    "knn_l2",
    oracle=f"""
    SELECT vec_id, ROUND(list_distance(CAST(embedding AS DOUBLE[]), {_duck_vec(Q1)}), 6) AS dist
    FROM embeddings
    ORDER BY dist ASC, vec_id ASC
    LIMIT 10
    """,
)
def knn_l2(spark, sf_dir):
    """V1 variant: euclidean metric (MyScale supports L2 via index
    metric_type; docs/vector-sql.md:217 family)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return knn(emb, "embedding", Q1, k=10, metric="l2", select=["vec_id"], id_col="vec_id")


def _ivf_index(spark, sf_dir, n_clusters=8):
    from chatdata_spark.operators.ivf import build_or_load_ivf

    from chatdata_spark.catalog import shared_cache_path

    path = shared_cache_path("ivf", sf_dir, f"k{n_clusters}")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return build_or_load_ivf(spark, emb, path, "vec_id", "embedding", n_clusters=n_clusters)


def _pq_index(spark, sf_dir, opq_iters=0):
    """The m=8 PQ index (``opq_iters > 0``: OPQ) over the embeddings,
    built once into the shared cache (``pq/..._m8`` or ``opq/..._m8i6``)."""
    from chatdata_spark.catalog import shared_cache_path
    from chatdata_spark.operators.pq import build_or_load_pq

    kind, tag = ("opq", f"m8i{opq_iters}") if opq_iters else ("pq", "m8")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return build_or_load_pq(
        spark, emb, shared_cache_path(kind, sf_dir, tag), "vec_id", "embedding",
        m=8, opq_iters=opq_iters,
    )


def _ivfpq_index(spark, sf_dir, residual=False, opq_iters=0):
    """The m=8 IVF-PQ index over ``_ivf_index``'s k=8 layout, built once
    into the shared cache (``ivfpq/..._k8m8``; residual + OPQ adds
    ``r1o{opq_iters}``)."""
    from chatdata_spark.catalog import shared_cache_path
    from chatdata_spark.operators.ivfpq import build_or_load_ivfpq

    tag = "k8m8" + ("r1" if residual else "") + (f"o{opq_iters}" if opq_iters else "")
    return build_or_load_ivfpq(
        _ivf_index(spark, sf_dir), shared_cache_path("ivfpq", sf_dir, tag), m=8,
        residual=residual, opq_iters=opq_iters,
    )


def _ann_soundness(res, emb, q, margin):
    """The soundness invariant every approximate-search query reports, one
    row: ``n_results``; ``n_in_top{margin}``, how many results sit in the
    exact top-``margin`` (a full-scan :func:`knn` semi-joined — the count
    drops if the screen lets a far row through); ``min_dist``, the best
    returned distance; and ``found_true_nn``, whether that equals the
    exact minimum over ``emb``. Approximate results have no exact id set
    to compare, so the oracles pin these stats instead."""
    topm = knn(emb, "embedding", q, k=margin, select=["vec_id"], id_col="vec_id")
    n_in = f"n_in_top{margin}"
    stats = res.agg(
        F.count(F.lit(1)).alias("n_results"), F.min("dist").cast("double").alias("min_dist")
    )
    contained = (
        res.join(F.broadcast(topm.select("vec_id")), "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias(n_in))
    )
    exact_min = topm.agg(F.min("dist").alias("exact_min"))
    return (
        stats.join(F.broadcast(contained))
        .join(F.broadcast(exact_min))
        .select(
            "n_results", n_in, "min_dist",
            (F.col("min_dist") == F.col("exact_min")).alias("found_true_nn"),
        )
    )


def _ann_soundness_literal(q, k, margin) -> str:
    """Oracle of :func:`_ann_soundness` for a search whose page is always
    full and inside the exact top-``margin`` with the true NN found."""
    return f"""
    SELECT CAST({k} AS BIGINT) AS n_results,
           CAST({k} AS BIGINT) AS n_in_top{margin},
           CAST(MIN({_duck_cos('embedding', q)}) AS DOUBLE) AS min_dist,
           TRUE AS found_true_nn
    FROM embeddings
    """


def _ann_soundness_replayed(cand_ids, q, k, margin) -> str:
    """Oracle of :func:`_ann_soundness` from a replayed candidate id set:
    the exact top-``k`` of the candidates, ranked by DuckDB's own cosine,
    checked against DuckDB's exact top-``margin`` and global minimum. The
    ids are integers, so no float crosses from the replay into the SQL."""
    id_list = ",".join(str(int(i)) for i in sorted(cand_ids))
    return f"""
    WITH cand AS (
        SELECT vec_id, {_duck_cos('embedding', q)} AS dist
        FROM embeddings WHERE vec_id IN ({id_list})
    ),
    topk AS (SELECT vec_id, dist FROM cand ORDER BY dist ASC, vec_id ASC LIMIT {k}),
    topm AS (SELECT vec_id FROM embeddings
             ORDER BY {_duck_cos('embedding', q)} ASC, vec_id ASC
             LIMIT {margin})
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM topk) AS n_results,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM topk t JOIN topm USING (vec_id))
               AS n_in_top{margin},
           (SELECT CAST(MIN(dist) AS DOUBLE) FROM topk) AS min_dist,
           (SELECT MIN(dist) FROM topk)
               = (SELECT MIN({_duck_cos('embedding', q)}) FROM embeddings)
               AS found_true_nn
    """


@query(
    "knn_ip",
    oracle=f"""
    SELECT vec_id, label,
           ROUND(list_inner_product(CAST(embedding AS DOUBLE[]), {_duck_vec(Q2)}), 6) AS dist
    FROM embeddings
    ORDER BY dist DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_ip(spark, sf_dir):
    """V1 variant: maximum-inner-product search (MyScale metric_type=IP) —
    the ``dist_order DESC`` branch of the reference's retrieval template
    (myscale_without_metadata.py:33-34): the inner product is a
    SIMILARITY, so the top-k heap ranks descending. Same JVM fold, same
    TakeOrderedAndProject plan, opposite sort direction."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return knn(emb, "embedding", Q2, k=10, metric="ip", select=["vec_id", "label"], id_col="vec_id")


@query(
    "ann_ivf_full_probe",
    oracle=f"""
    SELECT vec_id, label, {_duck_cos('embedding', Q2)} AS dist
    FROM embeddings
    ORDER BY dist ASC, vec_id ASC
    LIMIT 15
    """,
)
def ann_ivf_full_probe(spark, sf_dir):
    """V6/S6 (MSTG index role): IVF layout searched with n_probe=all —
    must equal the exact scan (the oracle-checkable configuration)."""
    idx = _ivf_index(spark, sf_dir)
    return idx.search(Q2, k=15, n_probe=idx.n_clusters, select=["vec_id", "label"])


@query("ann_ivf_pruned", oracle=_ann_soundness_literal(Q2, 15, 45))
def ann_ivf_pruned(spark, sf_dir):
    """IVF pruned search (n_probe=4 of 8): reads only probed cluster
    partitions from disk; returned distances are exact, recall traded for
    scan fraction like MSTG's nprobe. Approximate by design, so the oracle
    checks SOUNDNESS invariants instead of the id set: 15 results, all
    within the exact top-(k+30) (:func:`_ann_soundness` — the literal 15s
    go red if pruning drops candidates or mis-ranks), and the best
    returned distance equals the global exact minimum (real SQL on the
    DuckDB side; ``found_true_nn`` TRUE). Recall itself is pinned in
    tests/test_ivf.py; the raw pruned-scan timing lives in bench.py."""
    idx = _ivf_index(spark, sf_dir)
    res = idx.search(Q2, k=15, n_probe=4, select=["vec_id"])
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ann_soundness(res, emb, Q2, 45)


@query(
    "vector_brute_force_scores",
    oracle=f"""
    SELECT label,
           CAST(MIN({_duck_cos('embedding', Q1)}) AS DOUBLE) AS min_dist,
           COUNT(*) AS n
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
)
def vector_brute_force_scores(spark, sf_dir):
    """Distance as a first-class expression feeding a relational agg —
    the 'vector ops compose with SQL' property MyScale markets
    (docs/vector-sql.md:77-93)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from chatdata_spark.functions.vector import cosine_distance

    return (
        emb.withColumn("dist", F.round(cosine_distance("embedding", Q1), 6))
        .groupBy("label")
        .agg(F.min("dist").cast("double").alias("min_dist"), F.count(F.lit(1)).alias("n"))
        .orderBy("label")
    )


def _lsh_indexed(spark, sf_dir, n_tables, n_bits):
    from chatdata_spark.operators.dedup import _spread
    from chatdata_spark.operators.lsh import with_lsh_keys

    emb = _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return with_lsh_keys(emb, "embedding", DIM, n_tables=n_tables, n_bits=n_bits)


@query(
    "ann_lsh_exact",
    oracle=f"""
    SELECT vec_id, label, {_duck_cos('embedding', Q1)} AS dist
    FROM embeddings
    ORDER BY dist ASC, vec_id ASC
    LIMIT 12
    """,
)
def ann_lsh_exact(spark, sf_dir):
    """Hyperplane-LSH ANN in its oracle-checkable configuration (n_bits=0:
    every row collides with the query in every table, so probe + rerank
    must equal the exact scan — the full end-to-end plumbing of
    operators/lsh.py under an exact contract, mirroring
    ann_ivf_full_probe)."""
    from chatdata_spark.operators.lsh import lsh_search

    idx = _lsh_indexed(spark, sf_dir, n_tables=4, n_bits=0)
    return lsh_search(idx, "embedding", Q1, k=12, n_tables=4, n_bits=0, select=["vec_id", "label"])


def _lsh_probe_expected() -> str:
    """Lazy replay-derived oracle for ann_lsh_probe (de-brittled per the r5
    verdict): the hyperplane signatures are deterministic shared code, so a
    driver-side numpy replay over the driver's sf0.01 embeddings yields the
    exact CANDIDATE ID SET at the registered operating point (an integer
    set — no float-parity hazard). The expected stats are then derived in
    DuckDB SQL from that set: n_results = LEAST(k, |C|) via LIMIT, the
    containment count against DuckDB's own exact top-M (M =
    LSH_PROBE_RANK_MARGIN), and min_dist = best candidate distance — all
    float math stays on the proven _duck_cos path. Survives a testdata
    regeneration by construction: a red here means the Spark plumbing
    (scan-stage predicate, Arrow signature pass, rerank) disagrees with
    the replay, never fixture drift."""
    import duckdb
    import numpy as np

    from chatdata_spark.operators.lsh import _hyperplanes, _pack_keys, query_keys

    rows = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"read_parquet('{_oracle_sf_dir()}/embeddings.parquet')"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    m = np.array([list(r[1]) for r in rows], dtype=np.float64)
    planes = _hyperplanes(DIM, 16, 6, seed=7)
    bits = (m @ planes.T) > 0.0
    keys = _pack_keys(bits, 16, 6)
    qk = set(query_keys(Q1, 16, 6, seed=7))
    cand = ids[np.array([any(int(k) in qk for k in row) for row in keys])]
    return _ann_soundness_replayed(cand, Q1, 12, LSH_PROBE_RANK_MARGIN)


@query("ann_lsh_probe", oracle=_lsh_probe_expected)
def ann_lsh_probe(spark, sf_dir):
    """LSH bucket-probe ANN at a real operating point (16 tables × 6 bits,
    ~25% candidate fraction): scan-stage arrays_overlap candidate filter,
    exact rerank. Approximate by design, so the oracle checks SOUNDNESS
    invariants (the ann_ivf_pruned pattern): result count, containment of
    every result within the exact top-LSH_PROBE_RANK_MARGIN (Spark
    full-scan kNN semi-join vs DuckDB's own exact ranking), the best
    returned distance, and ``found_true_nn`` — whether the probe's best
    equals the corpus-wide exact minimum, computed INDEPENDENTLY on each
    side (Spark vs its own full scan, the oracle vs the replay's
    candidate set), so an implementation regression that drops the true
    NN goes red while a fixture regeneration — where both sides recompute
    — stays green. Expected values are REPLAY-DERIVED (see
    _lsh_probe_expected); only the containment depth is an empirical knob
    (LSH_PROBE_RANK_MARGIN — observed max rank ≤26 at both compare
    scales). Recall curves live in tests/test_lsh.py and RECALL.md."""
    from chatdata_spark.operators.lsh import lsh_search

    idx = _lsh_indexed(spark, sf_dir, n_tables=16, n_bits=6)
    res = lsh_search(idx, "embedding", Q1, k=12, n_tables=16, n_bits=6, select=["vec_id"])
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ann_soundness(res, emb, Q1, LSH_PROBE_RANK_MARGIN)


def _embed_batch_expected() -> str:
    """Lazy oracle for embed_documents_batch: the hash embedder is
    deterministic, so a sequential driver-side recomputation over the
    driver's sf0.01 documents yields an exact expected table — comparing
    it against the distributed Arrow path verifies worker pickling, batch
    shapes, and the float32 round-trip (the embedder itself is shared, so
    this checks the Spark plumbing, not the math). Emulates Spark's
    rounding exactly: left-fold float64 sum of the float32 vector, HALF_UP
    decimal(27,6) per row, exact decimal sum, HALF_UP round-4 double."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import numpy as np

    from chatdata_spark.functions.vector import hash_embed

    rows = duckdb.sql(
        f"SELECT lang, text FROM read_parquet('{_oracle_sf_dir()}/documents.parquet')"
    ).fetchall()
    per_lang: dict[str, list] = {}
    q6 = Decimal("0.000001")
    for lang, text in rows:
        v32 = np.array(hash_embed(text if text is not None else "", DIM), dtype=np.float32)
        acc = 0.0
        for x in v32.astype(np.float64):
            acc = acc + float(x)
        per_lang.setdefault(lang, []).append(Decimal(acc).quantize(q6, ROUND_HALF_UP))
    values = []
    for lang in sorted(per_lang):
        ds = per_lang[lang]
        total = float(sum(ds, Decimal(0)))
        checksum = float(Decimal(total).quantize(Decimal("0.0001"), ROUND_HALF_UP))
        values.append(f"('{lang}', CAST({len(ds)} AS BIGINT), CAST({checksum!r} AS DOUBLE))")
    return (
        "SELECT * FROM (VALUES " + ", ".join(values) + ") AS t(lang, n, vec_checksum) ORDER BY lang"
    )


@query("embed_documents_batch", oracle=_embed_batch_expected)
def embed_documents_batch(spark, sf_dir):
    """V5 batch embedding throughput surface: Arrow-batched embedder over
    the documents table (deterministic hash embedder standing in for the
    sentence-transformer; identical Spark plumbing), rolled up per lang
    with a checksum so repeated runs verify byte-stable output. Oracled
    against a sequential driver-side recomputation (lazy VALUES literal,
    sf0.01 — the scale the driver and tests compare at)."""
    from chatdata_spark.functions.vector import make_embed_text_udf

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from chatdata_spark.operators.dedup import _spread

    embedded = _spread(d.select("doc_id", "lang", "text")).withColumn(
        "vector", make_embed_text_udf(DIM)(F.col("text"))
    )
    return (
        embedded.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.aggregate(F.col("vector").cast("array<double>"), F.lit(0.0), lambda a, x: a + x).cast("decimal(27,6)")).cast("double"),
                4,
            ).alias("vec_checksum"),
        )
        .orderBy("lang")
    )


@query(
    "knn_join_exact",
    oracle="""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    b AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings),
    p AS (
        SELECT q_id, b_id,
               ROUND(1.0 - list_cosine_similarity(qv, bv), 6) AS dist
        FROM q, b
    ),
    r AS (
        SELECT q_id, b_id, dist,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, b_id) AS rn
        FROM p
    )
    SELECT q_id, b_id, dist FROM r WHERE rn <= 5 ORDER BY q_id, dist, b_id
    """,
)
def knn_join_exact(spark, sf_dir):
    """Batch kNN join (top-5 base neighbors for every 10th embedding row)
    in the provably exact configuration: n_probe = n_clusters, so every
    (query, base) pair meets in exactly one co-located (cluster, salt)
    group — same IVF layout and GEMM-screen/exact-rescore plan as the
    pruned scale path, checked pair-for-pair against the brute-force
    window oracle."""
    from chatdata_spark.operators.knnjoin import knn_join

    idx = _ivf_index(spark, sf_dir)
    queries = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 10 == 0)
    )
    return knn_join(
        queries, idx, "vec_id", "embedding", k=5, n_probe=idx.n_clusters
    ).orderBy("q_id", "dist", "b_id")


@query(
    "knn_join_pruned",
    oracle="""
    WITH q AS (SELECT COUNT(*) AS n_queries FROM embeddings WHERE vec_id % 10 = 0)
    SELECT n_queries, n_queries * 5 AS n_pairs,
           n_queries * 5 AS n_in_top45, TRUE AS top1_ok
    FROM q
    """,
)
def knn_join_pruned(spark, sf_dir):
    """Batch kNN join at a real IVF operating point (n_probe=2 of 8): each
    query scans ~1/4 of the corpus. Approximate by design, so the oracle
    checks SOUNDNESS invariants (the ann_ivf_pruned pattern) against the
    full-probe join — itself verified pair-for-pair by knn_join_exact's
    brute-force oracle: every query keeps exactly 5 pairs, every pruned
    pair lands in that query's exact top-KNN_JOIN_RANK_MARGIN (the one
    empirical knob — observed max rank ≤19 at both compare scales; the
    IVF centroids come from MLlib KMeans, which has no driver-side numpy
    replay, so unlike ann_lsh_probe/ann_pq_adc this oracle keeps its
    population-derived pins — triage a red per FIXTURES.md before
    suspecting the operator), and at least KNN_JOIN_TOP1_MIN_FRAC of the
    queries' best pruned distance equals their exact top-1 distance (a
    recall property, so thresholded — the regeneration dry-run measured
    49/50 at a different seed, which a hard pin would misreport as a
    bug). The DuckDB side derives the counts from the query population,
    so a dropped query, short result page, escaped candidate, or a
    top-1 recall collapse all go red. Recall curves: RECALL.md."""
    from chatdata_spark.operators.knnjoin import knn_join

    idx = _ivf_index(spark, sf_dir)
    queries = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 10 == 0)
    )
    pruned = knn_join(queries, idx, "vec_id", "embedding", k=5, n_probe=2)
    exact45 = knn_join(
        queries, idx, "vec_id", "embedding", k=KNN_JOIN_RANK_MARGIN,
        n_probe=idx.n_clusters,
    )
    exact_top1 = exact45.groupBy("q_id").agg(F.min("dist").alias("exact_min"))
    per_q = pruned.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_pairs"), F.min("dist").alias("pruned_min")
    )
    contained = pruned.join(
        exact45.select("q_id", "b_id"), ["q_id", "b_id"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_in_top45"))
    stats = per_q.join(exact_top1, "q_id").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("n_pairs").alias("n_pairs"),
        F.sum(F.when(F.col("pruned_min") == F.col("exact_min"), 1).otherwise(0)).alias(
            "n_top1_match"
        ),
    )
    return stats.join(F.broadcast(contained)).select(
        "n_queries",
        "n_pairs",
        "n_in_top45",
        (
            F.col("n_top1_match")
            >= F.ceil(F.col("n_queries") * F.lit(KNN_JOIN_TOP1_MIN_FRAC))
        ).alias("top1_ok"),
    )


def _pq_adc_expected() -> str:
    """Lazy replay-derived oracle for ann_pq_adc (de-brittled per the r5
    verdict): the PQ build is deterministic (file-order bounded training
    sample, fixed-seed numpy Lloyd k-means — operators/pq.py), so a
    driver-side replay over the driver's sf0.01 embeddings reproduces the
    codebooks, codes, ADC table and hence the exact SURVIVOR ID SET of
    the k·refine screen (identical numpy expressions on identical floats
    → identical argmin/ordering). The expected stats are then derived in
    DuckDB SQL from that integer set — all final float math stays on the
    proven _duck_cos path. Survives a testdata regeneration by
    construction; a red means the distributed path (code scan, Arrow ADC
    pass, rerank semi-join) disagrees with the replay."""
    import numpy as np
    import pyarrow.parquet as pa_pq

    from chatdata_spark.operators.pq import _kmeans_1d

    t = pa_pq.read_table(
        f"{_oracle_sf_dir()}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = np.array(t.column("vec_id").to_pylist(), dtype=np.int64)
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    m, train_rows, iters, seed, k, refine = 8, 4096, 12, 42, 10, 4
    sample = x[:train_rows].copy()
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    dsub = x.shape[1] // m
    books = np.stack(
        [_kmeans_1d(sample[:, j * dsub: (j + 1) * dsub], 256, iters, seed + j) for j in range(m)]
    )
    if books.shape[1] < 256:
        books = np.concatenate(
            [books, np.repeat(books[:, :1, :], 256 - books.shape[1], axis=1)], axis=1
        )
    # encode (same expressions as operators/pq.py::encode_codes, incl. the
    # float32 round-trip of the Spark cast)
    xe = x.astype(np.float32).astype(np.float64)
    xe /= np.linalg.norm(xe, axis=1, keepdims=True)
    codes = np.empty((xe.shape[0], m), dtype=np.int64)
    for j in range(m):
        sub = xe[:, j * dsub: (j + 1) * dsub]
        cb = books[j]
        codes[:, j] = (-2.0 * (sub @ cb.T) + (cb**2).sum(axis=1)[None, :]).argmin(axis=1)
    q = np.asarray(Q1, dtype=np.float64)
    q = q / np.linalg.norm(q)
    table = np.stack(
        [((q[j * dsub: (j + 1) * dsub][None, :] - books[j]) ** 2).sum(axis=1) for j in range(m)]
    )
    adc = table[np.arange(m)[None, :], codes].sum(axis=1)
    order = np.lexsort((ids, adc))[: k * refine]  # (__adc asc, vec_id asc)
    return _ann_soundness_replayed(ids[order], Q1, k, PQ_ADC_RANK_MARGIN)


@query("ann_pq_adc", oracle=_pq_adc_expected)
def ann_pq_adc(spark, sf_dir):
    """PQ/ADC compressed-scan ANN: 8-byte codes replace 256-byte vectors
    (the scan reads ONLY the code column), distance = m table lookups per
    row via one Arrow fancy-index pass, exact cosine rerank of the top
    k·4 survivors. Approximate by design, so the oracle checks SOUNDNESS
    invariants (the ann_ivf_pruned pattern): result count, containment of
    every reranked result within the exact top-PQ_ADC_RANK_MARGIN, the
    best returned distance, and ``found_true_nn`` computed INDEPENDENTLY
    on each side (see ann_lsh_probe — implementation regressions red,
    fixture regenerations green). Expected values are REPLAY-DERIVED (see
    _pq_adc_expected) so a testdata regeneration cannot go red without a
    code bug; only the containment depth is an empirical knob
    (PQ_ADC_RANK_MARGIN — observed max rank ≤16 at both compare scales).
    Ordering by true distance within the page holds by construction (the
    rerank sort key IS the exact distance). Recall and the 32x
    compression ratio are pinned in tests/test_pq.py; the raw
    compressed-scan timing lives in bench.py."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = _pq_index(spark, sf_dir).search(e, Q1, k=10, refine=4, select=["vec_id"])
    return _ann_soundness(res, e, Q1, PQ_ADC_RANK_MARGIN)


def _opq_adc_expected() -> str:
    """Lazy replay-derived oracle for ann_opq_adc: replays
    :func:`chatdata_spark.operators.pq.opq_train` (deterministic — fixed
    seeds, fixed-order sample, Procrustes SVD over a fixed product) plus
    the rotated float32-round-trip encode, reproducing the exact ADC
    survivor ID set; the final float stats derive in DuckDB from that
    integer set (the _pq_adc_expected convention)."""
    import numpy as np
    import pyarrow.parquet as pa_pq

    from chatdata_spark.operators.pq import _encode_np, opq_train

    t = pa_pq.read_table(
        f"{_oracle_sf_dir()}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = np.array(t.column("vec_id").to_pylist(), dtype=np.int64)
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    m, train_rows, k, refine = 8, 4096, 10, 4
    sample = x[:train_rows].copy()
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    rot, books = opq_train(sample, m, iters=12, seed=42, opq_iters=6)
    # encode (same expressions as operators/pq.py::encode_codes with rotation,
    # incl. the float32 round-trip of the Spark cast)
    xe = x.astype(np.float32).astype(np.float64)
    xe /= np.linalg.norm(xe, axis=1, keepdims=True)
    codes = _encode_np(xe @ rot, books)
    q = np.asarray(Q1, dtype=np.float64)
    q = q / np.linalg.norm(q)
    qr = q @ rot
    dsub = x.shape[1] // m
    table = np.stack(
        [((qr[j * dsub: (j + 1) * dsub][None, :] - books[j]) ** 2).sum(axis=1) for j in range(m)]
    )
    adc = table[np.arange(m)[None, :], codes].sum(axis=1)
    order = np.lexsort((ids, adc))[: k * refine]  # (__adc asc, vec_id asc)
    return _ann_soundness_replayed(ids[order], Q1, k, OPQ_ADC_RANK_MARGIN)


@query("ann_opq_adc", oracle=_opq_adc_expected)
def ann_opq_adc(spark, sf_dir):
    """OPQ/ADC compressed-scan ANN (Ge et al. CVPR'13; the FAISS
    OPQMatrix pre-transform): an orthonormal rotation learned by
    Procrustes alternation precedes the PQ codebooks, cutting
    quantization error ~24% on this corpus at the SAME 32x code budget
    and scan shape — codes-only column scan, m table lookups per row in
    one Arrow fancy-index pass, exact cosine rerank of the top k·4 in
    the ORIGINAL space (the rotation is search-transparent: it preserves
    norms/inner products, only the query gets rotated for the table).
    Oracle is replay-derived like ann_pq_adc (see _opq_adc_expected);
    containment depth OPQ_ADC_RANK_MARGIN is the empirical knob.
    Rotation quality/orthonormality/determinism pinned in
    tests/test_pq.py."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = _pq_index(spark, sf_dir, opq_iters=6).search(e, Q1, k=10, refine=4, select=["vec_id"])
    return _ann_soundness(res, e, Q1, OPQ_ADC_RANK_MARGIN)


@query("ann_ivfpq_search", oracle=_ann_soundness_literal(Q2, 15, IVFPQ_RANK_MARGIN))
def ann_ivfpq_search(spark, sf_dir):
    """IVF-PQ composed index (FAISS IVFPQ shape, Jégou et al. PAMI'11;
    the reference's MSTG couples routing with compressed storage the same
    way — myscale_tables.py:35,63): centroid-route to n_probe=4 of 8
    clusters, ADC-scan ONLY those clusters' code partitions (parquet
    directory pruning on the shared cluster_id layout), exact cosine
    rerank of the top k·4 survivors. Approximate by design, so the oracle
    checks SOUNDNESS invariants (the ann_ivf_pruned pattern): 15 results,
    all within the exact top-IVFPQ_RANK_MARGIN (computed by a Spark
    full-scan kNN and semi-joined — the literal 15s go red if routing or
    the ADC screen drops a top candidate), and the best returned distance
    equal to the global exact minimum (``found_true_nn`` TRUE,
    :func:`_ann_soundness`). The count/containment literals and
    the margin are fixture-empirical knobs (observed max exact rank ≤24
    at both compare scales) — on a testdata regeneration triage a red
    here as fixture drift first. Recall and the layout are pinned in
    tests/test_ivfpq.py; bench times the routed compressed scan."""
    res = _ivfpq_index(spark, sf_dir).search(Q2, k=15, n_probe=4, refine=4, select=["vec_id"])
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ann_soundness(res, emb, Q2, IVFPQ_RANK_MARGIN)


@query(
    "ann_ivfpq_residual_search", oracle=_ann_soundness_literal(Q2, 15, IVFPQ_RANK_MARGIN)
)
def ann_ivfpq_residual_search(spark, sf_dir):
    """Residual + OPQ IVF-PQ composed (the full FAISS IVFPQ training
    recipe: codes quantize the rotated WITHIN-CLUSTER displacement
    ``(x_norm − centroid[cluster]) @ R`` — operators/ivfpq.py
    ``residual=True, opq_iters=6``): same routed, partition-pruned scan
    as ann_ivfpq_search but the ADC screen reads one small per-probed-
    cluster table instead of a global one. Same soundness-invariant
    oracle (15 results, all within the exact top-IVFPQ_RANK_MARGIN,
    best distance equal to the global exact minimum, ``found_true_nn``
    TRUE — observed max
    exact rank 26 at both compare scales vs plain's 24). Quantization-
    error mechanics pinned in tests/test_ivfpq.py."""
    idx = _ivfpq_index(spark, sf_dir, residual=True, opq_iters=6)
    res = idx.search(Q2, k=15, n_probe=4, refine=4, select=["vec_id"])
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ann_soundness(res, emb, Q2, IVFPQ_RANK_MARGIN)


MQ = [hash_embed(f"mq{i}", DIM) for i in range(3)]


@query(
    "maxsim_late_interaction",
    oracle=f"""
    SELECT label, ROUND(MAX(s0) + MAX(s1) + MAX(s2), 6) AS score
    FROM (
        SELECT label,
               list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_duck_vec(MQ[0])}) AS s0,
               list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_duck_vec(MQ[1])}) AS s1,
               list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_duck_vec(MQ[2])}) AS s2
        FROM embeddings
    )
    GROUP BY label ORDER BY score DESC, label ASC LIMIT 5
    """,
)
def maxsim_late_interaction(spark, sf_dir):
    """ColBERT-style multi-vector retrieval: a 3-vector query scored
    against each label's vector SET by Σ_i max_j cos — one decomposable
    aggregation, shuffle carries 3 doubles per group (operators/maxsim.py)."""
    from chatdata_spark.operators.maxsim import maxsim_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return maxsim_topk(emb, "label", "embedding", MQ, k=5)


@query(
    "ann_ivf_append_search",
    oracle=f"""
    SELECT vec_id, label, {_duck_cos('embedding', Q1)} AS dist
    FROM embeddings
    ORDER BY dist ASC, vec_id ASC
    LIMIT 12
    """,
)
def ann_ivf_append_search(spark, sf_dir):
    """Incremental index maintenance (the ALTER TABLE ... ADD VECTOR INDEX
    lifecycle under continuous ingest): build IVF on 2/3 of the corpus,
    append the remaining 1/3 via centroid assignment (no rebuild), then a
    full-probe search over the merged layout must equal the exact scan of
    the WHOLE corpus — proving appended rows are searchable and exact."""
    import tempfile

    from chatdata_spark.operators.ivf import IVFIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    root = tempfile.mkdtemp(prefix="chatdata_ivf_append_")
    idx = IVFIndex.build(
        emb.filter(F.col("vec_id") % 3 != 0), root, "vec_id", "embedding", n_clusters=8
    )
    idx.append(emb.filter(F.col("vec_id") % 3 == 0))
    return idx.search(Q1, k=12, n_probe=idx.n_clusters, select=["vec_id", "label"])


@query(
    "ann_ivf_delete_search",
    oracle=f"""
    SELECT vec_id, label, {_duck_cos('embedding', Q1)} AS dist
    FROM embeddings WHERE vec_id % 7 <> 0
    ORDER BY dist ASC, vec_id ASC
    LIMIT 12
    """,
)
def ann_ivf_delete_search(spark, sf_dir):
    """Index DELETE lifecycle (completing the build/append/split CRUD of
    the ADD VECTOR INDEX stand-in): build IVF on the full corpus,
    tombstone every vec_id % 7 == 0 (operators/ivf.py::delete — append-only
    tombstones, searches anti-join them immediately, no rewrite), COMPACT
    (versioned tree rewrite + atomic meta pointer swap), and a full-probe
    search over the compacted layout must equal the exact scan of the
    surviving rows — proving deletes are both immediately invisible and
    durably reclaimed."""
    import tempfile

    from chatdata_spark.operators.ivf import IVFIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    root = tempfile.mkdtemp(prefix="chatdata_ivf_delete_")
    idx = IVFIndex.build(emb, root, "vec_id", "embedding", n_clusters=8)
    idx.delete(emb.filter(F.col("vec_id") % 7 == 0).select("vec_id"))
    idx = idx.compact()
    return idx.search(Q1, k=12, n_probe=idx.n_clusters, select=["vec_id", "label"])


@query(
    "ann_ivf_merge_search",
    oracle=f"""
    SELECT vec_id, label, {_duck_cos('embedding', Q1)} AS dist
    FROM embeddings
    ORDER BY dist ASC, vec_id ASC
    LIMIT 12
    """,
)
def ann_ivf_merge_search(spark, sf_dir):
    """Index RE-BALANCE lifecycle (r9 verdict item 8 — the merge/re-train
    half completing split_skewed): build IVF with enough clusters that
    some land under the median size, merge_underfull at that floor
    (operators/ivf.py — thin clusters' rows reassigned to their nearest
    surviving centroids, receivers rewritten under fresh ids, receiving
    centroids re-trained as exact post-merge means), then a full-probe
    search over the re-balanced layout must equal the exact scan of the
    whole corpus — proving merge is a pure layout operation: no row
    lost, duplicated, or made unreachable. Deterministic end to end
    (KMeans seed 42, exact-mean retrain, euclidean reassignment)."""
    import tempfile

    from chatdata_spark.operators.ivf import IVFIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    root = tempfile.mkdtemp(prefix="chatdata_ivf_merge_")
    idx = IVFIndex.build(emb, root, "vec_id", "embedding", n_clusters=24)
    sizes = (
        spark.read.parquet(f"{root}/data")
        .groupBy("cluster_id").count().collect()
    )
    floor = sorted(r["count"] for r in sizes)[len(sizes) // 2]
    idx = idx.merge_underfull(min_rows=floor, retrain=True)
    return idx.search(Q1, k=12, n_probe=idx.n_clusters, select=["vec_id", "label"])


@query(
    "bitext_margin_pairs",
    oracle="""
    WITH a AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE label = 0),
    b AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE label = 1),
    pairs AS (SELECT a.id AS a_id, b.id AS b_id,
                     ROUND(1.0 - list_cosine_similarity(a.v, b.v), 6) AS dist
              FROM a, b),
    fwd AS (SELECT a_id, b_id, 1.0 - dist AS sim,
                   ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dist ASC, b_id ASC) AS rn
            FROM pairs),
    bwd AS (SELECT a_id, b_id, 1.0 - dist AS sim,
                   ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY dist ASC, a_id ASC) AS rn
            FROM pairs),
    f AS (SELECT a_id, b_id, sim FROM fwd WHERE rn <= 4),
    w AS (SELECT a_id, b_id, sim FROM bwd WHERE rn <= 4),
    sa AS (SELECT a_id, SUM(CAST(sim AS DECIMAL(18,6))) AS sum_a FROM f GROUP BY a_id),
    sb AS (SELECT b_id, SUM(CAST(sim AS DECIMAL(18,6))) AS sum_b FROM w GROUP BY b_id),
    cand AS (SELECT DISTINCT a_id, b_id, sim FROM
             (SELECT * FROM f UNION ALL SELECT * FROM w)),
    scored AS (SELECT c.a_id, c.b_id, c.sim,
                      ROUND(c.sim * 8.0 / CAST(sa.sum_a + sb.sum_b AS DOUBLE), 6)
                          AS margin
               FROM cand c JOIN sa USING (a_id) JOIN sb USING (b_id)),
    rk AS (SELECT *,
                  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id ASC) AS ra,
                  ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY margin DESC, a_id ASC) AS rb
           FROM scored)
    SELECT a_id, b_id, sim, margin FROM rk
    WHERE ra = 1 AND rb = 1 AND margin >= 1.0
    ORDER BY a_id, b_id
    """,
)
def bitext_margin_pairs(spark, sf_dir):
    """Margin-based bitext mining (operators/bitext.py — Artetxe &
    Schwenk 2019 ratio margin, mutual-argmax "intersection" strategy):
    label-0 embeddings as side A, label-1 as side B, k=4 neighborhoods,
    full-probe IVF kNN joins both directions (exact — the oracle is the
    all-pairs brute force), exact-decimal neighborhood sums, one double
    division per pair rounded 6. The corpus-construction twin of the
    reference's multilingual retrieval (myscale_tables.py:19,45)."""
    from chatdata_spark.operators.bitext import margin_mine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.filter(F.col("label") == 0)
    b = emb.filter(F.col("label") == 1)
    return margin_mine(a, b, "vec_id", "embedding", k=4, threshold=1.0)


@query(
    "matryoshka_knn",
    oracle=f"""
    SELECT vec_id, label,
           ROUND(1.0 - list_cosine_similarity(CAST(embedding[1:16] AS DOUBLE[]),
                                              {_duck_vec(Q1[:16])}), 6) AS dist
    FROM embeddings
    ORDER BY dist ASC, vec_id ASC
    LIMIT 10
    """,
)
def matryoshka_knn(spark, sf_dir):
    """Matryoshka-style truncated-dimension search: score on the FIRST 16
    of 64 dims (MRL-trained embeddings keep semantics in the prefix) —
    cosine is scale-invariant so no renormalization is needed for ranking.
    At 100 TB this is the cheap first pass of a two-stage funnel: 4x less
    arithmetic and scan traffic per row (with a sliced-column layout),
    exact rerank on the survivors. The slice happens before the distance
    expression, so the JVM fold runs over 16 elements, not 64."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sliced = emb.select("vec_id", "label", F.slice("embedding", 1, 16).alias("e16"))
    return knn(sliced, "e16", Q1[:16], k=10, select=["vec_id", "label"], id_col="vec_id")


def _dimred_expected() -> str:
    """Lazy oracle for dimred_rp_knn (the embed_documents_batch pattern):
    no SQL twin exists for the BLAS GEMM, but the projection is
    deterministic — the driver replays it in numpy over the sf0.01
    embeddings with the SAME seeded matrix, the same query projection
    (project_query_vector — shared function, so the literal matches the
    plan's), the JVM's sequential L2 fold emulated float-by-float, and
    Spark's HALF_UP round-6 emulated on the shortest-repr decimal. BLAS
    dgemm keeps the k-loop order fixed regardless of batch (M) blocking,
    so the driver-side one-shot GEMM is bit-identical to the workers'
    per-Arrow-batch GEMMs (pinned by tests/test_dimred.py parity)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import numpy as np

    from chatdata_spark.operators.dimred import (
        project_query_vector,
        projection_matrix,
    )

    rows = duckdb.sql(
        "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e "
        f"FROM read_parquet('{_oracle_sf_dir()}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    mat = projection_matrix(DIM, 16, seed=7)
    x = np.array([r[2] for r in rows], dtype=np.float64) @ mat
    q16 = [float(v) for v in project_query_vector(Q1, in_dim=DIM, out_dim=16, seed=7)]
    q6 = Decimal("0.000001")
    scored = []
    for (vec_id, label, _), proj in zip(rows, x):
        acc = 0.0
        for a, b in zip(proj, q16):
            d = float(a) - b
            acc = acc + d * d
        dist = float(Decimal(repr(math.sqrt(acc))).quantize(q6, ROUND_HALF_UP))
        scored.append((dist, vec_id, label))
    scored.sort()
    values = ", ".join(
        f"(CAST({vid} AS BIGINT), CAST({lab} AS INTEGER), CAST({d!r} AS DOUBLE))"
        for d, vid, lab in scored[:10]
    )
    return (
        "SELECT * FROM (VALUES " + values + ") AS t(vec_id, label, dist) "
        "ORDER BY dist, vec_id"
    )


@query("dimred_rp_knn", oracle=_dimred_expected)
def dimred_rp_knn(spark, sf_dir):
    """JL random-projection search: reduce 64 -> 16 dims with a seeded
    Gaussian matrix (one Arrow GEMM per batch, no shuffle), then exact L2
    top-10 in the reduced space against the identically-projected query
    vector. The 100 TB shape: project once at ingest, store the short
    vectors, scan 4x fewer bytes per search; numpy-parity and
    distance-preservation are pytest-asserted (tests/test_dimred.py);
    the driver oracle is a full numpy replay (lazy VALUES, sf0.01)."""
    from chatdata_spark.functions.vector import l2_distance
    from chatdata_spark.operators.dimred import project_query_vector, random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    proj = random_projection(emb, "embedding", in_dim=DIM, out_dim=16, seed=7)
    q16 = project_query_vector(Q1, in_dim=DIM, out_dim=16, seed=7)
    return (
        proj.select(
            "vec_id", "label", F.round(l2_distance("proj", q16), 6).alias("dist")
        )
        .orderBy(F.asc("dist"), F.asc("vec_id"))
        .limit(10)
    )


def _duck_sign_word(w: int) -> str:
    """DuckDB packing of sign-bit word ``w`` (32 bits) from `embedding`."""
    return (
        "list_sum([CASE WHEN embedding[" + str(w * 32) + " + i] > 0 "
        "THEN 1::BIGINT << (i - 1) ELSE 0::BIGINT END "
        "for i in generate_series(1, 32)])"
    )


_QBIN = __import__("chatdata_spark.operators.binquant", fromlist=["_pack_query"])._pack_query(Q1)

@query(
    "binary_quant_knn",
    oracle=f"""
    SELECT vec_id, label,
           CAST(bit_count(xor({_duck_sign_word(0)}, {_QBIN[0]}::BIGINT))
              + bit_count(xor({_duck_sign_word(1)}, {_QBIN[1]}::BIGINT)) AS INT) AS hamming
    FROM embeddings
    ORDER BY hamming ASC, vec_id ASC
    LIMIT 12
    """,
)
def binary_quant_knn(spark, sf_dir):
    """Binary-quantized vector search (MSTG metric_type=Hamming parity):
    sign bits packed into two 32-bit BIGINT words, Hamming = Σ popcount(
    xor) — an all-integer whole-stage-codegen ranking, 32x smaller than
    float storage (operators/binquant.py). This is the oracle config (the
    binary ranking IS the answer under quantization); the Hamming-screen +
    exact-cosine-rerank funnel is pinned by recall tests."""
    from chatdata_spark.operators.binquant import binary_knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return binary_knn(emb, "embedding", Q1, dim=DIM, k=12, id_col="vec_id",
                      select=["vec_id", "label"])


def _mmr_expected() -> str:
    """Lazy oracle for mmr_diversified_knn: recompute the candidate screen
    in DuckDB with the SAME rounded-cosine + id tie-break convention the
    knn oracles prove, then replay the shared deterministic greedy
    (operators/mmr.py:mmr_greedy) on those vectors — the oracle checks the
    distributed screen feeds the right candidates and the selection is
    byte-stable end to end."""
    import duckdb

    import numpy as np

    from chatdata_spark.operators.mmr import mmr_greedy

    rows = duckdb.sql(
        f"""
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM read_parquet('{_oracle_sf_dir()}/embeddings.parquet')
        ORDER BY ROUND(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_duck_vec(Q1)}), 6) ASC,
                 vec_id ASC
        LIMIT 100
        """
    ).fetchall()
    ids = [r[0] for r in rows]
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    chosen = mmr_greedy(ids, vecs, Q1, k=10, lam=0.5)
    values = ", ".join(
        f"(CAST({i} AS BIGINT), CAST({rank} AS INTEGER), CAST({score!r} AS DOUBLE))"
        for rank, (i, score) in enumerate(chosen)
    )
    return (
        "SELECT * FROM (VALUES " + values + ") AS t(vec_id, mmr_rank, mmr_score) ORDER BY mmr_rank"
    )


@query("mmr_diversified_knn", oracle=_mmr_expected)
def mmr_diversified_knn(spark, sf_dir):
    """MMR-diversified top-10 (lambda=0.5 over a 100-candidate exact
    screen): the distributed heap feeds a bounded driver greedy — the
    search_type='mmr' retriever variant of the LangChain interface the
    reference builds on (operators/mmr.py). Oracle replays the screen in
    DuckDB and the shared greedy on its candidates (sf0.01, the compare
    scale)."""
    from chatdata_spark.operators.mmr import mmr_select

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return mmr_select(emb, "embedding", Q1, k=10, id_col="vec_id", fetch_n=100, lam=0.5)


@query("mmr_diversified_knn_distributed", oracle=_mmr_expected)
def mmr_diversified_knn_distributed(spark, sf_dir):
    """The MMR scale path through the driver compare: same screen and
    selection as mmr_diversified_knn but the greedy runs EXECUTOR-side in
    one mapInPandas task (operators/mmr.py:mmr_select_distributed —
    fetch_n can be 10⁴-10⁵ there; 100 here so the shared oracle applies).
    Same oracle as the driver-greedy variant — the two paths are
    bit-identical by construction and this row proves it through the
    driver's own comparison."""
    from chatdata_spark.operators.mmr import mmr_select_distributed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return mmr_select_distributed(
        emb, "embedding", Q1, k=10, id_col="vec_id", fetch_n=100, lam=0.5
    )


@query(
    "hard_negative_mining",
    oracle="""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    pos AS (
        SELECT q_id, q_id AS b_id FROM q
        UNION ALL
        SELECT q_id, q_id + 1 FROM q
    ),
    b AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings),
    p AS (
        SELECT q.q_id, b.b_id,
               ROUND(1.0 - list_cosine_similarity(qv, bv), 6) AS dist
        FROM q, b
        WHERE NOT EXISTS (SELECT 1 FROM pos WHERE pos.q_id = q.q_id AND pos.b_id = b.b_id)
    ),
    r AS (
        SELECT q_id, b_id, dist,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, b_id) AS rn
        FROM p
    )
    SELECT q_id, b_id, dist FROM r WHERE rn <= 5 ORDER BY q_id, dist, b_id
    """,
)
def hard_negative_mining(spark, sf_dir):
    """Contrastive hard negatives: every 10th embedding is an anchor,
    positives are (self, self+1), and the result is each anchor's top-5
    nearest NON-positive rows — knn_join over-fetched by the positive
    bound, anti-joined, re-ranked (operators/knnjoin.py:
    hard_negative_mining; full-probe = provably exact, the oracle is the
    brute-force window with NOT EXISTS)."""
    from chatdata_spark.operators.knnjoin import hard_negative_mining as mine

    idx = _ivf_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") % 10 == 0)
    positives = anchors.select(
        F.col("vec_id").alias("q_id"), F.col("vec_id").alias("b_id")
    ).unionByName(
        anchors.select(F.col("vec_id").alias("q_id"), (F.col("vec_id") + 1).alias("b_id"))
    )
    return mine(
        anchors, positives, idx, "vec_id", "embedding", k=5, n_probe=idx.n_clusters
    ).orderBy("q_id", "dist", "b_id")


def _kmeans_expected() -> str:
    """Lazy oracle for kmeans_embedding_clusters: a single-node numpy
    replay of the EXACT integer fixed-point Lloyd recurrence
    (operators/kmeans.py::kmeans_replay — quantize, assign, floor-divide
    update, n_iter rounds, final assign). Every quantity is int64-exact
    and order-independent, so the distributed path must match this VALUES
    table bit-for-bit; what the comparison verifies is the DISTRIBUTED
    machinery — partition-invariant sums, the k*d collect/update loop,
    Arrow batch assignment — against the straightforward sequential
    formulation."""
    import duckdb

    from chatdata_spark.operators.kmeans import kmeans_replay

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{_oracle_sf_dir()}/embeddings.parquet') "
        "WHERE embedding IS NOT NULL ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    clusters, dist2 = kmeans_replay(ids, [r[1] for r in rows], k=8, n_iter=4)
    values = ", ".join(
        f"(CAST({i} AS BIGINT), CAST({int(c)} AS INT), CAST({int(d)} AS BIGINT))"
        for i, c, d in zip(ids, clusters, dist2)
    )
    return (
        "SELECT * FROM (VALUES "
        + values
        + ") AS t(vec_id, cluster_id, dist2) ORDER BY vec_id"
    )


@query("kmeans_embedding_clusters", oracle=_kmeans_expected)
def kmeans_embedding_clusters(spark, sf_dir):
    """Distributed Lloyd's k-means (k=8, 4 rounds, smallest-id seeds) over
    the embeddings table in integer fixed-point
    (operators/kmeans.py::kmeans_fixed_point): per-vector final
    (cluster_id, dist2) where dist2 is the exact int64 squared distance in
    the quantized space. The centroid trajectory is bit-reproducible
    across engines and partitionings (the operators/graph.py PageRank
    determinism recipe applied to Lloyd's), so the oracle is an exact
    single-node replay. Scale shape: one Arrow quantize pass persisted,
    per-round GEMM assignment (no shuffle) + a map-side-combined
    groupBy(cluster, dim) collecting k*d scalars; clustering primitive for
    SemDeDup groups / IVF coarse quantizers / mixture balancing."""
    from chatdata_spark.operators.dedup import _spread
    from chatdata_spark.operators.kmeans import kmeans_fixed_point

    emb = _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return kmeans_fixed_point(emb, "vec_id", "embedding", k=8, n_iter=4).orderBy("vec_id")


def _cluster_sample_expected() -> str:
    """Lazy oracle for cluster_balanced_sample: cluster assignments come
    from the SAME exact fixed-point replay the kmeans oracle uses
    (operators/kmeans.py::kmeans_replay — bit-deterministic), embedded as
    VALUES; the per-cluster quota ranking itself is computed IN SQL from
    DuckDB's own md5, so the sampling half of the query is verified by a
    fully independent engine-side evaluation."""
    import duckdb

    from chatdata_spark.operators.kmeans import kmeans_replay

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{_oracle_sf_dir()}/embeddings.parquet') "
        "WHERE embedding IS NOT NULL ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    clusters, _ = kmeans_replay(ids, [r[1] for r in rows], k=8, n_iter=4)
    vals = ", ".join(
        f"(CAST({i} AS BIGINT), CAST({int(c)} AS INT))" for i, c in zip(ids, clusters)
    )
    return f"""
    WITH a AS (SELECT * FROM (VALUES {vals}) AS t(vec_id, cluster_id)),
    r AS (
        SELECT cluster_id, vec_id,
               row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY CAST(('0x' || substr(md5('cbs' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                            vec_id
               ) AS rk
        FROM a
    )
    SELECT cluster_id, vec_id, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 25 ORDER BY cluster_id, rk
    """


@query("cluster_balanced_sample", oracle=_cluster_sample_expected)
def cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced data selection: k-means the embedding corpus
    (operators/kmeans.py, bit-deterministic), then take a fixed
    per-cluster quota in deterministic md5-hash order — the
    diversity-preserving sampling step of SemDeDup-style pipelines (equal
    quotas flatten the cluster-size skew a uniform sample would inherit).
    Scale shape: the quota is ONE row_number window per cluster over the
    already cluster-keyed assignment (no join, no global sort); quotas are
    engine-reproducible because the rank key is md5, not an RNG. The
    oracle embeds the exact replay's assignments and re-derives the
    quota ranking in DuckDB SQL."""
    from chatdata_spark.operators.dedup import _spread
    from chatdata_spark.operators.kmeans import kmeans_fixed_point
    from chatdata_spark.operators.sampling import hash_bucket
    from pyspark.sql import Window

    emb = _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    assigned = kmeans_fixed_point(emb, "vec_id", "embedding", k=8, n_iter=4)
    win = Window.partitionBy("cluster_id").orderBy(
        hash_bucket("vec_id", "cbs").asc(), F.col("vec_id").asc()
    )
    return (
        assigned.withColumn("rk", F.row_number().over(win).cast("int"))
        .filter(F.col("rk") <= 25)
        .select("cluster_id", "vec_id", "rk")
        .orderBy("cluster_id", "rk")
    )


def _pca_expected() -> str:
    """Lazy oracle for pca_embedding_knn: single-node replay of the EXACT
    integer-moment PCA fit (operators/pca.py::pca_replay_model — same
    arbitrary-precision sums, same shared covariance/eigh construction)
    plus the fixed-point projection twin. Every projected coordinate and
    the sequential dist2 fold are bit-identical to the distributed path by
    construction, so the VALUES comparison verifies the distributed
    machinery: partition-invariant decimal moment sums and the Arrow
    integer-matmul projection."""
    import duckdb

    from chatdata_spark.operators.pca import pca_project_rows, pca_replay_model

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{_oracle_sf_dir()}/embeddings.parquet') "
        "WHERE embedding IS NOT NULL ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    model = pca_replay_model([r[1] for r in rows], r=8)
    proj = pca_project_rows([r[1] for r in rows], model, fixed_point=True)
    probe = proj[0]  # smallest vec_id — row-independent, equals the query's

    def d2(y):
        acc = 0.0
        for a, b in zip(y, probe):
            acc = acc + (a - b) * (a - b)  # the JVM fold's exact op order
        return acc

    top = sorted(((d2(y), int(i)) for i, y in zip(ids, proj)))[:10]
    values = ", ".join(
        f"(CAST({i} AS BIGINT), CAST({repr(d)} AS DOUBLE))" for d, i in top
    )
    return (
        f"SELECT * FROM (VALUES {values}) AS t(vec_id, dist2) "
        "ORDER BY dist2, vec_id"
    )


@query("pca_embedding_knn", oracle=_pca_expected)
def pca_embedding_knn(spark, sf_dir):
    """Distributed PCA (operators/pca.py): exact integer-moment fit (one
    pass, d²/2 decimal scalars collected — never rows), fixed-point
    projection to the top-8 principal components, then top-10 nearest to
    the smallest-vec_id row's projection by squared L2 in PCA space (JVM
    fold). The data-driven reducer next to dimred.py's JL and Matryoshka;
    bit-reproducible across engines and partitionings, so the oracle is
    an exact single-node replay."""
    from chatdata_spark.functions.vector import vector_literal_sql
    from chatdata_spark.operators.dedup import _spread
    from chatdata_spark.operators.pca import (
        pca_fit,
        pca_project,
        pca_project_rows,
    )

    emb = _spread(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
            F.col("embedding").isNotNull()
        )
    )
    model = pca_fit(emb, "embedding", r=8)
    v0 = (
        emb.orderBy("vec_id").select("embedding").head()[0]
    )  # bounded 1-row collect: the probe row
    probe = pca_project_rows([list(v0)], model, fixed_point=True)[0]
    proj = pca_project(emb, "embedding", model, "pca", fixed_point=True)
    probe_sql = vector_literal_sql(probe)
    scored = proj.select(
        "vec_id",
        F.expr(
            f"aggregate(zip_with(pca, {probe_sql}, (x, y) -> (x - y) * (x - y)), "
            "0D, (acc, x) -> acc + x)"
        ).alias("dist2"),
    )
    return scored.orderBy("dist2", "vec_id").limit(10)


def _sq8_dist_sql() -> str:
    """Shared SQ8 oracle machinery: derive the SAME per-dimension
    [min,max]→[0,255] grid from the oracle-scale embeddings (min/max are
    data-element selections — identical in both engines; the step
    division is done ONCE here in Python float64 and the resulting
    literals drive both this SQL and, by construction, the Spark plan),
    and return the integer symmetric-distance SQL expression."""
    import duckdb

    from chatdata_spark.operators.sq8 import LEVELS, sq8_code_query

    sf = _oracle_sf_dir()
    rows = duckdb.sql(
        "SELECT "
        + ", ".join(
            f"MIN(CAST(embedding[{d + 1}] AS DOUBLE)), MAX(CAST(embedding[{d + 1}] AS DOUBLE))"
            for d in range(DIM)
        )
        + f" FROM read_parquet('{sf}/embeddings.parquet') WHERE embedding IS NOT NULL"
    ).fetchall()[0]
    los = [float(rows[2 * d]) for d in range(DIM)]
    steps = [
        (float(rows[2 * d + 1]) - float(rows[2 * d])) / LEVELS
        if float(rows[2 * d + 1]) > float(rows[2 * d])
        else 0.0
        for d in range(DIM)
    ]
    qcodes = sq8_code_query(Q1, los, steps)
    terms = []
    for d in range(DIM):
        if steps[d] == 0.0:
            code = "0"
        else:
            code = (
                f"LEAST(GREATEST(CAST(FLOOR((CAST(embedding[{d + 1}] AS DOUBLE) - {los[d]!r})"
                f" / {steps[d]!r} + 0.5) AS INT), 0), {LEVELS})"
            )
        terms.append(f"({qcodes[d]} - {code}) * ({qcodes[d]} - {code})")
    return " + ".join(terms)


def _sq8_expected() -> str:
    """Lazy oracle for sq8_quant_knn: replay encode + the integer
    symmetric distance + tie-broken top-k entirely in SQL (grid
    derivation shared with the rerank twin via :func:`_sq8_dist_sql`)."""
    dist = _sq8_dist_sql()
    return f"""
    SELECT vec_id, label, {dist} AS sq8_dist
    FROM embeddings WHERE embedding IS NOT NULL
    ORDER BY sq8_dist ASC, vec_id ASC
    LIMIT 12
    """


def _sq8_rerank_expected() -> str:
    """Lazy oracle for sq8_rerank_knn: replay the integer quantized
    screen (top-50 by sq8_dist, vec_id) then the exact float64 cosine
    rerank (round 6, tie-broken top-10) — the full production funnel in
    SQL."""
    dist = _sq8_dist_sql()
    return f"""
    WITH scored AS (
        SELECT vec_id, label, embedding, {dist} AS sq8_dist
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    cand AS (
        SELECT * FROM scored ORDER BY sq8_dist ASC, vec_id ASC LIMIT 50
    )
    SELECT vec_id, label, {_duck_cos('embedding', Q1)} AS dist
    FROM cand ORDER BY dist ASC, vec_id ASC LIMIT 10
    """


@query("sq8_rerank_knn", oracle=_sq8_rerank_expected)
def sq8_rerank_knn(spark, sf_dir):
    """The SQ8 PRODUCTION funnel (operators/sq8.py::sq8_knn rerank=m —
    the two-stage shape every quantized index really runs, the
    reference's fp16+rerank posture, myscale_tables.py:35,63): the
    all-integer symmetric-distance screen keeps top-50 in scan-stage
    codegen (TakeOrderedAndProject — the cheap pass over ALL vectors),
    then ONLY those 50 pay the exact float64 cosine, tie-broken top-10.
    At 100 TB the screen is the corpus pass (4x compressed codes,
    integer ALU) and the rerank cost is O(m·d) regardless of corpus
    size. Deterministic end to end: the screen's candidate SET is
    integer-exact and (sq8_dist, vec_id)-ordered, the rerank follows
    the float64/round-6 distance convention, so the oracle replays both
    stages verbatim. Recall vs exact search pinned in
    tests/test_sq8.py."""
    from chatdata_spark.operators.sq8 import sq8_knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sq8_knn(emb, "embedding", Q1, dim=DIM, k=10, id_col="vec_id",
                   select=["vec_id", "label"], rerank=50)


@query("sq8_quant_knn", oracle=_sq8_expected)
def sq8_quant_knn(spark, sf_dir):
    """SQ8 scalar-quantized vector search (operators/sq8.py — the
    codebook-free 4x compression member of the quantization family;
    faiss QT_8bit role, the reference's fp16_storage/disk_mode trade one
    step further, myscale_tables.py:35,63): per-dimension min/max grid
    from ONE aggregate, 8-bit codes, all-integer symmetric distance in
    whole-stage codegen, tie-broken top-12. The quantized ranking is the
    answer under quantization (the binary_quant_knn convention); the
    oracle derives the identical grid and replays encode+distance+top-k
    exactly in SQL. Recall vs the exact ranking is pinned in
    tests/test_sq8.py."""
    from chatdata_spark.operators.sq8 import sq8_knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sq8_knn(emb, "embedding", Q1, dim=DIM, k=12, id_col="vec_id",
                   select=["vec_id", "label"])


BQ = [hash_embed(f"batch-q{i}", DIM) for i in range(4)]


@query(
    "knn_batch_queries",
    oracle=" UNION ALL ".join(
        f"""
    SELECT * FROM (
        SELECT {i} AS query_id, vec_id, label,
               {_duck_cos('embedding', q)} AS dist
        FROM embeddings WHERE embedding IS NOT NULL
        ORDER BY dist ASC, vec_id ASC LIMIT 8
    )"""
        for i, q in enumerate(BQ)
    )
    + " ORDER BY query_id, dist, vec_id",
)
def knn_batch_queries(spark, sf_dir):
    """BATCHED kNN (operators/knn.py::knn_batch): four independent query
    vectors answered in ONE corpus scan — each row emits its four
    (query_id, dist) pairs from a single Generate, and per-query top-8
    runs through the salted two-phase grouped_topk (4 corpus-sized
    groups would serialize onto 4 tasks under a plain window — the
    grouptopk design case). The production batch-serving shape: corpus
    I/O paid once instead of Q times, with each query's answer
    bit-identical to its single-query knn_topk twin (same float64
    distance, round 6, (dist, vec_id) tie-break — the oracle is
    literally four single-query blocks UNION ALL'd)."""
    from chatdata_spark.operators.knn import knn_batch

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return knn_batch(emb, "embedding", BQ, k=8, select=["vec_id", "label"],
                     id_col="vec_id")


def _kcenter_expected() -> str:
    """Lazy oracle for kcenter_coreset_embeddings: sequential replay
    (operators/coreset.py::kcenter_greedy_py) over the same 4-decimal
    fixed-point integers — Decimal(repr(double)).quantize(HALF_UP)
    mirrors Spark's double→DECIMAL(18,4) shortest-repr cast."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.operators.coreset import kcenter_greedy_py

    q4 = Decimal("0.0001")
    rows = duckdb.sql(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM read_parquet("
        f"'{oracle_sf_dir()}/embeddings.parquet')"
        " WHERE embedding IS NOT NULL"
    ).fetchall()
    vectors = {
        int(vid): [
            int(Decimal(repr(c)).quantize(q4, ROUND_HALF_UP) * 10_000)
            for c in vec
        ]
        for vid, vec in rows
    }
    sel = kcenter_greedy_py(vectors, k=12)
    values = ", ".join(
        f"({r}, CAST({v} AS BIGINT), CAST({d} AS BIGINT))" for r, v, d in sel
    )
    return (
        "SELECT CAST(rank AS INT) AS rank, vec_id, d2_prev FROM (VALUES "
        + values
        + ") AS t(rank, vec_id, d2_prev) ORDER BY rank"
    )


@query("kcenter_coreset_embeddings", oracle=_kcenter_expected)
def kcenter_coreset_embeddings(spark, sf_dir):
    """k-center greedy coreset selection (Gonzalez farthest-first;
    Sener & Savarese 2018) — 12 maximally-diverse embedding vectors with
    the non-increasing coreset radius sequence d2_prev
    (operators/coreset.py). The geometry-covering dual of semantic_dedup:
    that PRUNES redundant vectors, this SELECTS spanning ones — the
    data-pruning/active-learning step a curation pipeline runs on the
    embedding column. Exact integer distances (4-decimal fixed-point, the
    embedding_norm_anomaly idiom) make every argmax total-ordered; the
    sequential oracle replays selection bit-for-bit."""
    from chatdata_spark.operators.coreset import kcenter_greedy

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kcenter_greedy(e, "vec_id", "embedding", k=12).orderBy("rank")

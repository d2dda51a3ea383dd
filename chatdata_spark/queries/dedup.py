"""Driver queries for the dedup operator family (north-star extension).

DuckDB oracles recompute shingles/jaccard/simhash/cosine from scratch with
plain SQL; the MinHash-LSH entry is intentionally given the **exact**
join's oracle — at the default parameters its recall at the 0.4 threshold
is 1 - O(1e-5), and the data is fixed, so verified-LSH output ≡ exact
output (asserted in tests/test_dedup.py too). SimHash's oracle re-derives
the fingerprint in DuckDB from the md5-prefix token hash both engines
share (the xxhash64 default isn't DuckDB-computable)."""

from __future__ import annotations

from pyspark.sql import functions as F

from chatdata_spark.operators.dedup import (
    embedding_near_dup_clustered,
    exact_dedup,
    jaccard_similarity_join,
    minhash_lsh_pairs,
    prefix_filter_jaccard_join,
    simhash_pairs,
)
from chatdata_spark.registry import query

# DuckDB: distinct word-3-gram shingles of lower(text)
_DUCK_SHINGLES = """
SELECT doc_id,
       list_distinct([array_to_string(w[i:i+2], ' ')
                      for i in generate_series(1, greatest(len(w)-2, 1))]) AS sh
FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents)
"""


def _duck_jaccard_pairs(threshold: float) -> str:
    """SELECT of the (i, j, jaccard) doc pairs of the CTE ``sh`` (doc_id,
    shingle list) whose shingle Jaccard is >= ``threshold`` (> 0). Only
    pairs sharing a shingle can pass, so the candidates come from an
    equi-join on the unnested shingles instead of the all-pairs cross
    product. The intersection size ``n`` is computed once per candidate
    and MATERIALIZED: written into both the score and the filter, DuckDB
    evaluated ``list_intersect`` four times per pair (~2x the oracle's
    time)."""
    return f"""
WITH g AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM sh),
cand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
    FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
),
jp AS MATERIALIZED (
    SELECT c.i, c.j, len(a.sh) + len(b.sh) AS l,
           len(list_intersect(a.sh, b.sh)) AS n
    FROM cand c JOIN sh a ON a.doc_id = c.i JOIN sh b ON b.doc_id = c.j
)
SELECT i, j, ROUND(n * 1.0 / (l - n), 6) AS jaccard
FROM jp
WHERE n * 1.0 / (l - n) >= {threshold}
"""


def _duck_jaccard_oracle(threshold: float) -> str:
    """Brute-force oracle of every exact Jaccard pair query."""
    return f"WITH sh AS ({_DUCK_SHINGLES}) SELECT * FROM ({_duck_jaccard_pairs(threshold)}) ORDER BY i, j"


def _duck_components(pairs: str) -> str:
    """CTEs ``pairs`` (the SELECT ``pairs`` of (i, j) edges), ``edges``,
    ``reach`` and ``comp`` (v, c): every vertex of a pair with its
    component minimum, the recursive-CTE twin of operators/components.py.
    ``pairs`` is MATERIALIZED because ``edges`` reads it twice and both
    ``reach`` arms read ``edges``: inlined, the all-pairs similarity join
    ran once per reference (~30 s vs ~10 s for the Jaccard closure at
    sf0.01). The caller's WITH must be RECURSIVE and must not define these
    names; the join alias ``nb`` stays clear of the callers' own CTEs."""
    return f"""
pairs AS MATERIALIZED ({pairs}),
edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j AS a, i AS b FROM pairs),
reach(v, c) AS (
    SELECT a AS v, a AS c FROM edges
    UNION
    SELECT nb.b AS v, r.c AS c FROM reach r JOIN edges nb ON r.v = nb.a
),
comp AS (SELECT v, MIN(c) AS c FROM reach GROUP BY v)
"""


@query(
    "dedup_exact",
    oracle="""
    WITH u AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
    )
    SELECT doc_id FROM u
    QUALIFY row_number() OVER (PARTITION BY lower(text) ORDER BY doc_id) = 1
    ORDER BY doc_id
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup (hash-groupBy keep-first): re-ingested copies collapse to
    the original rows — the reference's entity_id=sha256(file+text) upsert
    semantics (tools.py:35-37) generalized to content keys."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 50).withColumn("doc_id", F.col("doc_id") + 100000)
    u = d.unionByName(dup).withColumn("norm_text", F.lower("text"))
    return exact_dedup(u, ["norm_text"], "doc_id", keep="min").select("doc_id").orderBy("doc_id")


@query("dedup_jaccard_exact", oracle=_duck_jaccard_oracle(0.4))
def dedup_jaccard_exact(spark, sf_dir):
    """Exact n-gram-Jaccard near-dup pairs via inverted-index token join
    (shuffle on shingle, no all-pairs compare)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return jaccard_similarity_join(d, "doc_id", "text", k=3, threshold=0.4)


@query("dedup_jaccard_prefix", oracle=_duck_jaccard_oracle(0.7))
def dedup_jaccard_prefix(spark, sf_dir):
    """Exact Jaccard pairs at a HIGH threshold via prefix filtering
    (PPJoin, Xiao et al. WWW'08): the inverted index covers only each
    document's rarest-first prefix (sz - ceil(0.7*sz) + 1 tokens), so the
    candidate expansion shrinks quadratically vs the full index while the
    answer stays exact — same brute-force DuckDB oracle as
    dedup_jaccard_exact, at 0.7."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return prefix_filter_jaccard_join(d, "doc_id", "text", k=3, threshold=0.7)


@query("dedup_minhash_lsh", oracle=_duck_jaccard_oracle(0.4))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(126) + 42-band LSH candidates, exact-Jaccard verified — same
    result set as the exact join at recall ≈ 1 for this corpus (all its
    ≥0.4 pairs are ≥0.9; see operator docstring for the banding math)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(d, "doc_id", "text", k=3, threshold=0.4)


@query("dedup_minhash_autoband", oracle=_duck_jaccard_oracle(0.5))
def dedup_minhash_autoband(spark, sf_dir):
    """MinHash LSH with OPTIMIZER-DERIVED banding (rows_per_band="auto"):
    optimal_lsh_params minimizes the FP/FN S-curve integrals at the
    query's threshold (0.5 → b=21, r=6 for H=126) instead of the fixed
    r=3 default — the datasketch _optimal_param method, oracle-pinned
    end-to-end. At (21, 6) per-pair recall is 1−1e-7 for this corpus's
    j≥0.9 pairs (verified-LSH ≡ exact join at all three SFs, probed),
    so the exact Jaccard join's oracle applies at 0.5."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(d, "doc_id", "text", k=3, threshold=0.5, rows_per_band="auto")


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               [CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)
                for t in list_distinct(regexp_split_to_array(lower(text), '\\s+'))] AS hs
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_sum([
                   CASE WHEN list_sum([CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END
                                       for h in hs]) > 0
                        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
                   for j in generate_series(0, 59)]) AS sh
        FROM toks
    )
    SELECT a.doc_id AS i, b.doc_id AS j,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3
    ORDER BY i, j
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 3) via 4×15-bit chunk pigeonhole.

    Uses the 60-bit md5-prefix token hash (operators/dedup.py:md5_hash60) so
    DuckDB recomputes the identical fingerprint — the xxhash64 default stays
    the production path (tests cover it); pigeonhole exactness means both
    configurations return ALL pairs at hamming ≤ 3 for their hash."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from chatdata_spark.operators.dedup import md5_hash60

    return simhash_pairs(d, "doc_id", "text", max_hamming=3, token_hash=md5_hash60, n_bits=60)


@query(
    "dedup_embedding",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS i, b.vec_id AS j,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a, e b
    WHERE a.vec_id < b.vec_id AND ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    ORDER BY i, j
    """,
)
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs via the CLUSTERED scale operator in
    its exact configuration (n_probe = n_clusters): the compare is an
    equi-join partitioned on cluster_id — no cartesian/nested-loop product
    in the plan — and full probing makes it provably equal to the all-pairs
    oracle. The O(n²) ``embedding_near_dup`` remains the verification
    operator in tests/test_dedup.py; small-n_probe recall is tested there."""
    from chatdata_spark.catalog import shared_cache_path
    from chatdata_spark.operators.ivf import build_or_load_ivf

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = build_or_load_ivf(
        spark, e, shared_cache_path("ivf", sf_dir, "k8"), "vec_id", "embedding", n_clusters=8
    )
    return embedding_near_dup_clustered(idx, threshold=0.4, n_probe=idx.n_clusters)


_DUCK_CANONICAL = f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}),
{_duck_components(_duck_jaccard_pairs(0.4))}
SELECT d.doc_id,
       COALESCE(comp.c, d.doc_id) AS canonical_id,
       COALESCE(comp.c, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp ON d.doc_id = comp.v
ORDER BY doc_id
"""


@query("dedup_components", oracle=_DUCK_CANONICAL)
def dedup_components(spark, sf_dir):
    """Near-dup pairs → connected components → canonical assignment: the
    transitive-closure stage of corpus dedup (A~B, B~C collapse to one
    canonical doc even when A~C was never emitted). Pairs from the exact
    Jaccard join; components via distributed min-label propagation
    (operators/components.py); oracle via DuckDB recursive-CTE closure."""
    from chatdata_spark.operators.components import canonical_assignment

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = jaccard_similarity_join(d, "doc_id", "text", k=3, threshold=0.4)
    return canonical_assignment(d, "doc_id", pairs).orderBy("doc_id")


@query("dedup_components_star", oracle=_DUCK_CANONICAL)
def dedup_components_star(spark, sf_dir):
    """The SAME canonical assignment through the O(log n) large-star/
    small-star contraction (operators/components.py::
    connected_components_star, Kiveris et al. 2014) instead of min-label
    propagation — the scale-robust path for adversarially long chains
    (min-label needs diameter rounds; a crawl-graph dedup can hit
    diameter ≫ round budget). Identical oracle as dedup_components: both
    algorithms contract to the component minimum."""
    from chatdata_spark.operators.components import connected_components_star

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = jaccard_similarity_join(d, "doc_id", "text", k=3, threshold=0.4)
    comp = connected_components_star(pairs)
    return (
        d.select(F.col("doc_id").alias("v"))
        .join(comp, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            F.coalesce(F.col("c"), F.col("v")).alias("canonical_id"),
        )
        .withColumn("keep", F.col("canonical_id") == F.col("doc_id"))
        .orderBy("doc_id")
    )


@query("streaming_near_dup_docs", oracle=_duck_jaccard_oracle(0.4))
def streaming_near_dup_docs(spark, sf_dir):
    """§2.10 + incremental dedup composed, ORACLE-checked end to end: the
    corpus arrives as two micro-batch waves through the streaming wrapper
    (streaming/incremental.py:stream_near_dup_pairs — stage pairs →
    idempotent per-batch write → signature commit), and the pairs parquet
    it accumulates must equal the one-shot exact jaccard join (the
    dedup_jaccard_exact oracle). Fresh store + checkpoint per invocation:
    this is the arrival replay, not shared mutable state."""
    import os
    import tempfile

    from chatdata_spark.operators.incdedup import IncrementalMinHashStore
    from chatdata_spark.streaming.incremental import stream_near_dup_pairs

    root = tempfile.mkdtemp(prefix="chatdata_sndq_")
    ind, outd, ckpt = f"{root}/in", f"{root}/pairs", f"{root}/ck"
    os.makedirs(ind)
    store = IncrementalMinHashStore(spark, f"{root}/sigs")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    schema = "doc_id bigint, text string"
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(ind)
    stream_near_dup_pairs(spark, ind, store, outd, ckpt, schema)
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(ind)
    stream_near_dup_pairs(spark, ind, store, outd, ckpt, schema)
    return spark.read.parquet(outd).select("i", "j", "jaccard")


_V_HI = int(0.1 * (1 << 32))
_T_HI = _V_HI + int(0.1 * (1 << 32))

@query(
    "leakage_safe_split_docs",
    oracle=f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}),
{_duck_components(_duck_jaccard_pairs(0.4))},
canon AS (
    SELECT d.doc_id, COALESCE(comp.c, d.doc_id) AS canonical_id
    FROM documents d LEFT JOIN comp ON d.doc_id = comp.v
)
SELECT doc_id, canonical_id,
       CASE WHEN CAST(('0x' || substr(md5('split' || CAST(canonical_id AS VARCHAR)), 1, 8)) AS BIGINT) < {_V_HI} THEN 'val'
            WHEN CAST(('0x' || substr(md5('split' || CAST(canonical_id AS VARCHAR)), 1, 8)) AS BIGINT) < {_T_HI} THEN 'test'
            ELSE 'train' END AS split
FROM canon ORDER BY doc_id
""",
)
def leakage_safe_split_docs(spark, sf_dir):
    """Near-dup-aware eval split (operators/sampling.py:
    leakage_safe_split): jaccard near-dup pairs → transitive closure →
    split hashed on the component canonical, so no near-dup cluster
    straddles train/val/test — the corpus-internal leakage guard that
    complements benchmark decontamination. Oracle: recursive-CTE closure
    (the dedup_components oracle) + the md5 bucket split on canonical."""
    from chatdata_spark.operators.sampling import leakage_safe_split

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = jaccard_similarity_join(d, "doc_id", "text", k=3, threshold=0.4)
    return (
        leakage_safe_split(d, "doc_id", pairs, 0.1, 0.1)
        .select("doc_id", "canonical_id", "split")
        .orderBy("doc_id")
    )


@query(
    "fuzzy_join_part_names",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS left_p_name, b.p_name AS right_p_name,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM names a JOIN names b
      ON a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 1
    ORDER BY left_p_name, right_p_name
    """,
)
def fuzzy_join_part_names(spark, sf_dir):
    """Edit-distance self-join via deletion-neighborhood signatures (exact
    for d=1, no cross product — operators/fuzzyjoin.py); the oracle is the
    O(n²) DuckDB join, viable only at test scale."""
    from chatdata_spark.operators.fuzzyjoin import fuzzy_self_join

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return (
        fuzzy_self_join(p, "p_name", max_dist=1)
        .withColumn("dist", F.col("dist").cast("long"))
        .orderBy("left_p_name", "right_p_name")
    )


@query("dedup_incremental_batches", oracle=_duck_jaccard_oracle(0.4))
def dedup_incremental_batches(spark, sf_dir):
    """Incremental dedup against the signature store: the corpus arrives as
    two batches; each add_batch compares only against stored signatures
    (operators/incdedup.py), and the UNION of the two pair sets must equal
    the one-shot exact join — the same oracle as dedup_jaccard_exact and
    dedup_minhash_lsh. Fresh store per invocation (tempdir): the query is
    the batch-arrival REPLAY, not a mutation of shared state."""
    import tempfile

    from chatdata_spark.operators.incdedup import IncrementalMinHashStore

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store = IncrementalMinHashStore(spark, tempfile.mkdtemp(prefix="chatdata_incdedup_"))
    p1 = store.add_batch(d.filter(F.col("doc_id") % 3 != 0), "doc_id")
    p2 = store.add_batch(d.filter(F.col("doc_id") % 3 == 0), "doc_id")
    return p1.unionByName(p2)


# Shared CTE chain for the substring-dedup oracles: n-gram strings (the
# Spark side groups xxhash64 of the same space-joined window — identical
# equivalence classes; the exact=True path groups the literal strings
# themselves), corpus-wide count >= min_count, span merge via the same
# lag/running-sum window the engine uses. 1-based word positions on both
# sides (DuckDB list slicing is 1-based end-inclusive).
def _duck_substr_spans(n: int = 10, min_count: int = 2) -> str:
    return f"""
WITH words AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
),
grams AS (
    SELECT doc_id, pos, array_to_string(ws[pos:pos+{n - 1}], ' ') AS g
    FROM words, unnest(generate_series(1, len(ws) - {n - 1})) AS t(pos)
    WHERE len(ws) >= {n}
),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= {min_count}),
hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
marked AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > {n}
                THEN 1 ELSE 0 END AS is_new
    FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
runs AS (
    SELECT doc_id, pos,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM marked
),
spans AS (
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {n} - MIN(pos) AS BIGINT) AS span_len,
           COUNT(*) AS n_grams
    FROM runs GROUP BY doc_id, sid
)
"""


_DUCK_SUBSTR_SPANS = _duck_substr_spans(10, 2)


@query(
    "dedup_substring_spans",
    oracle=_DUCK_SUBSTR_SPANS
    + "SELECT doc_id, span_start, span_len, n_grams FROM spans ORDER BY doc_id, span_start",
)
def dedup_substring_spans(spark, sf_dir):
    """Sub-document duplicated-substring detection (operators/
    substrdedup.py — the n-gram approximation of Lee et al. 2022 suffix-
    array dedup): every word 10-gram occurring twice+ corpus-wide marks a
    region; overlapping/touching regions merge into maximal spans. The
    shuffle carries (id, pos, 8-byte xxhash64) — never text — and the
    oracle groups the literal gram strings, proving the hash classes."""
    from chatdata_spark.operators.substrdedup import duplicated_ngram_spans

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return duplicated_ngram_spans(d, "doc_id", "text", n=10, min_count=2)


@query(
    "dedup_substring_exact_spans",
    oracle=_duck_substr_spans(8, 2)
    + "SELECT doc_id, span_start, span_len, n_grams FROM spans ORDER BY doc_id, span_start",
)
def dedup_substring_exact_spans(spark, sf_dir):
    """EXACT sub-document duplicated-substring detection (r9 verdict item
    8 — retiring the hash-class caveat): the hash-count pass yields a
    candidate superset, then every candidate's literal 8-word gram is
    materialized (id-keyed join back to the token arrays, candidates
    only) and recounted by string, so the answer equals the literal
    suffix-array-style semantics at any corpus size — no collision class
    can create a span. Text shuffles only for candidate positions; the
    corpus-sized shuffle stays (id, pos, hash8). n=8 (vs the hash-only
    entry's 10) so the two entries exercise distinct gram grids."""
    from chatdata_spark.operators.substrdedup import duplicated_ngram_spans

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return duplicated_ngram_spans(d, "doc_id", "text", n=8, min_count=2, exact=True)


@query(
    "dedup_substring_removal",
    oracle=_DUCK_SUBSTR_SPANS
    + """,
positions AS (
    SELECT w.doc_id, t.pos, w.ws[t.pos] AS word
    FROM words w, unnest(generate_series(1, len(w.ws))) AS t(pos)
),
covered AS (
    SELECT DISTINCT p.doc_id, p.pos
    FROM positions p JOIN spans s
      ON p.doc_id = s.doc_id
     AND p.pos BETWEEN s.span_start AND s.span_start + s.span_len - 1
),
kept AS (
    SELECT p.doc_id, p.pos, p.word
    FROM positions p ANTI JOIN covered c
      ON p.doc_id = c.doc_id AND p.pos = c.pos
)
SELECT w.doc_id,
       CAST(len(w.ws) AS BIGINT) AS n_words,
       CAST(len(w.ws) - COALESCE(k.n, 0) AS BIGINT) AS n_dropped,
       COALESCE(k.txt, '') AS text_dedup
FROM words w LEFT JOIN (
    SELECT doc_id, COUNT(*) AS n, string_agg(word, ' ' ORDER BY pos) AS txt
    FROM kept GROUP BY doc_id
) k USING (doc_id)
ORDER BY w.doc_id
""",
)
def dedup_substring_removal(spark, sf_dir):
    """The cut: every duplicated span removed from the token stream — one
    row per document with the surviving text and drop counts (operators/
    substrdedup.py::remove_duplicated_spans). The whole rebuilt string is
    oracle-hashed, pinning the nested-HOF position filter exactly."""
    from chatdata_spark.operators.substrdedup import remove_duplicated_spans

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return remove_duplicated_spans(d, "doc_id", "text", n=10, min_count=2)


@query(
    "semantic_dedup_keep",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_duck_components(
        'SELECT a.vec_id AS i, b.vec_id AS j FROM e a, e b WHERE a.vec_id < b.vec_id'
        ' AND ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4'
    )},
    assign AS (
        SELECT emb.vec_id, emb.label,
               COALESCE(comp.c, emb.vec_id) AS canonical_id
        FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.v
    ),
    sized AS (
        SELECT vec_id, label, canonical_id,
               CAST(COUNT(*) OVER (PARTITION BY canonical_id) AS BIGINT) AS group_size
        FROM assign
    )
    SELECT vec_id, label, group_size
    FROM sized WHERE vec_id = canonical_id
    ORDER BY vec_id
    """,
)
def semantic_dedup_keep(spark, sf_dir):
    """SemDeDup-shaped semantic deduplication END TO END (Abbas et al.
    2023, public method): embedding near-dup pairs from the clustered
    operator in its exact configuration (cluster-partitioned equi-join,
    n_probe = n_clusters — no all-pairs product in the plan) → transitive
    closure (operators/components.py min-label) → keep ONE representative
    per semantic-duplicate group (the component minimum, the repo's
    canonical convention) annotated with its group size. This is the
    SURVIVOR SET the dedup family's pair/component queries feed in a real
    curation pipeline — the composition itself is what this query pins.
    Group size is an unordered window count over the assignment (one
    shuffle — the CLAUDE.md count-window rule), and the oracle replays
    pairs, closure, sizing, and survivor selection in DuckDB
    (recursive-CTE closure, _duck_components)."""
    from pyspark.sql import Window

    from chatdata_spark.catalog import shared_cache_path
    from chatdata_spark.operators.components import canonical_assignment
    from chatdata_spark.operators.ivf import build_or_load_ivf

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = build_or_load_ivf(
        spark, e, shared_cache_path("ivf", sf_dir, "k8"), "vec_id", "embedding", n_clusters=8
    )
    pairs = embedding_near_dup_clustered(idx, threshold=0.4, n_probe=idx.n_clusters)
    assign = canonical_assignment(e.select("vec_id"), "vec_id", pairs)
    sized = assign.withColumn(
        "group_size", F.count(F.lit(1)).over(Window.partitionBy("canonical_id"))
    )
    return (
        sized.filter(F.col("keep"))
        .join(e.select("vec_id", "label"), "vec_id")
        .select("vec_id", "label", "group_size")
        .orderBy("vec_id")
    )


@query(
    "dedup_winnow_pairs",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
    ),
    eligible AS (
        SELECT doc_id, ws, len(ws) - 5 + 1 AS m FROM base WHERE len(ws) >= 5
    ),
    g AS (
        SELECT doc_id, i AS pos,
               CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, ws, unnest(generate_series(1, m)) AS i FROM eligible)
    ),
    wins AS (
        SELECT doc_id, unnest(generate_series(1, greatest(m - 4 + 1, 1))) AS s FROM eligible
    ),
    sel AS (
        SELECT doc_id, h,
               row_number() OVER (PARTITION BY doc_id, s ORDER BY h ASC, pos DESC) AS rk
        FROM (SELECT g.doc_id, w.s, g.pos, g.h
              FROM g JOIN wins w ON g.doc_id = w.doc_id AND g.pos BETWEEN w.s AND w.s + 3)
    ),
    fp AS (SELECT DISTINCT doc_id, h FROM sel WHERE rk = 1),
    kept AS (
        SELECT doc_id, h FROM (
            SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM fp
        ) WHERE df <= 8
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ORDER BY id_a, id_b
    """,
)
def dedup_winnow_pairs(spark, sf_dir):
    """Winnowing near-dup pairs (Schleimer et al. 2003, the MOSS local
    fingerprinting algorithm): k=5-gram 60-bit md5 hashes, rightmost-min
    selection per w=4 window, fingerprints in > 8 docs dropped as
    boilerplate, pairs sharing >= 2 distinct fingerprints reported. The
    detection guarantee (any shared run of >= w+k-1 = 8 words yields a
    shared fingerprint) recovers exactly the fixture's 25 planted
    near-dup pairs — the same set minhash-LSH and the Jaccard join find,
    via a sketch that bounds shared-substring length instead of Jaccard.
    The oracle replays selection bit-for-bit (md5 hash order is engine
    independent); the Spark side is one Arrow pass per batch emitting an
    O(2·len/w) sketch, an unordered window df-cap, and bounded-bucket
    chained-Generate pair expansion (operators/winnow.py)."""
    from chatdata_spark.operators.winnow import winnow_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_pairs(d, "doc_id", "text", k=5, w=4, max_df=8, min_shared=2)


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT a.doc_id + 200000 AS doc_id, a.text || ' ' || b.text AS text
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 50
        WHERE a.doc_id < 25
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(w[i:i+2], ' ')
                              for i in generate_series(1, greatest(len(w)-2, 1))]) AS sh
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM u)
    )
    SELECT i, j, c_ij, c_ji, GREATEST(c_ij, c_ji) AS containment
    FROM (
        SELECT a.doc_id AS i, b.doc_id AS j,
               ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh), 6) AS c_ij,
               ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 / len(b.sh), 6) AS c_ji
        FROM sh a, sh b WHERE a.doc_id < b.doc_id
    )
    WHERE GREATEST(c_ij, c_ji) >= 0.8
    ORDER BY i, j
    """,
)
def dedup_containment_pairs(spark, sf_dir):
    """Asymmetric CONTAINMENT near-dup pairs
    (operators/dedup.py::containment_join): c(i→j) = |sh_i ∩ sh_j|/|sh_i|
    — catches the sub-document duplication symmetric Jaccard misses (a
    doc quoted wholesale inside a much larger doc scores jac ≈
    |sh_i|/|sh_j| → 0 but containment = 1). Fixture: each doc < 25 is
    re-ingested embedded inside a larger synthetic doc (its text + the
    text of doc_id+50), the quote-screening scenario; the count-from-
    the-index plan is jaccard_similarity_join's verbatim (stop-split,
    bounded buckets, no all-pairs compare) with the containment-specific
    upper-bound prune (common+min(ns))/min(sz). The oracle recomputes
    exact set containment all-pairs on the bounded fixture."""
    from chatdata_spark.operators.dedup import containment_join

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    d = d.filter(F.col("doc_id") < 100)
    a = d.alias("a")
    b = d.alias("b")
    cont = (
        a.filter(F.col("doc_id") < 25)
        .join(b, F.col("b.doc_id") == F.col("a.doc_id") + 50)
        .select(
            (F.col("a.doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("a.text"), F.lit(" "), F.col("b.text")).alias("text"),
        )
    )
    u = d.unionByName(cont)
    return containment_join(u, "doc_id", "text", k=3, threshold=0.8)

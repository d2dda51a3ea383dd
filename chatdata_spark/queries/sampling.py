"""Driver queries for deterministic sampling + vector analytics. Oracles
mirror the md5-bucket arithmetic exactly (both engines agree on md5 hex and
hex→int parsing)."""

from __future__ import annotations

from pyspark.sql import functions as F

from chatdata_spark.operators.sampling import hash_sample, stratified_quota, train_val_test_split
from chatdata_spark.registry import query

_D_BUCKET = "CAST(('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT)"


@query(
    "sample_hash_20pct",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_D_BUCKET.format(salt='s', key='doc_id')} < CAST(0.2 * 4294967296 AS BIGINT)
    ORDER BY doc_id
    """,
)
def sample_hash_20pct(spark, sf_dir):
    """Deterministic 20% sample: same membership any run/engine/layout
    (hash-based, not RNG — the reproducible curation primitive)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hash_sample(d, "doc_id", 0.2, salt="s").select("doc_id", "lang").orderBy("doc_id")


@query(
    "split_train_val_test",
    oracle=f"""
    SELECT CASE WHEN {_D_BUCKET.format(salt='split', key='doc_id')} < CAST(0.1 * 4294967296 AS BIGINT) THEN 'val'
                WHEN {_D_BUCKET.format(salt='split', key='doc_id')} < CAST(0.1 * 4294967296 AS BIGINT) + CAST(0.1 * 4294967296 AS BIGINT) THEN 'test'
                ELSE 'train' END AS split,
           COUNT(*) AS n
    FROM documents GROUP BY split ORDER BY split
    """,
)
def split_train_val_test(spark, sf_dir):
    """Deterministic disjoint train/val/test assignment (salted so it is
    independent of the sampling hash)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        train_val_test_split(d, "doc_id", 0.1, 0.1)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split")
    )


@query(
    "stratified_quota_by_lang",
    oracle=f"""
    SELECT lang, doc_id FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY lang
        ORDER BY {_D_BUCKET.format(salt='q', key='doc_id')} ASC, doc_id ASC) <= 10
    ORDER BY lang, doc_id
    """,
)
def stratified_quota_by_lang(spark, sf_dir):
    """Balanced per-language quota (10 docs each) in hash order — corpus
    balancing without a global sort."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_quota(d, ["lang"], 10, "doc_id").select("lang", "doc_id").orderBy("lang", "doc_id")


@query(
    "vector_centroids_by_label",
    oracle="""
    WITH flat AS (
        SELECT label, u.dim, u.x FROM embeddings,
        LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                        generate_subscripts(embedding, 1) AS dim) u
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(SUM(CAST(x AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*) AS c
    FROM flat GROUP BY label, dim ORDER BY label, dim
    """,
)
def vector_centroids_by_label(spark, sf_dir):
    """Per-group embedding centroids (posexplode → per-dimension exact
    decimal mean): group-level vector analytics beyond search — the
    building block of IVF retraining and per-class drift monitoring."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return (
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "x"))
        .withColumn("dim", F.col("dim0") + 1)  # 1-based like generate_subscripts
        .groupBy("label", "dim")
        .agg((F.sum(F.col("x").cast("decimal(27,9)")).cast("double") / F.count(F.lit(1))).alias("c"))
        .orderBy("label", "dim")
        .select("label", "dim", "c")
    )


@query(
    "pack_documents",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS tokens,
               {_D_BUCKET.format(salt='pack', key='doc_id')} AS hb
        FROM documents
    ),
    cum AS (
        SELECT lang, doc_id, tokens,
               SUM(tokens) OVER (PARTITION BY lang ORDER BY hb, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        FROM toks
    )
    SELECT lang, CAST(FLOOR((cum_tokens - tokens) / 2048) AS INT) AS bin,
           COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS total_tokens
    FROM cum GROUP BY lang, bin ORDER BY lang, bin
    """,
)
def pack_documents(spark, sf_dir):
    """Context-window packing: documents greedily packed into ~2048-token
    bins in deterministic hash order, independently per language partition
    (one window per group — at 100 TB each pack group is a partition, no
    global sort). The training-data step that turns a corpus into
    fixed-budget training sequences."""
    from chatdata_spark.operators.sampling import hash_bucket
    from pyspark.sql import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).alias("tokens"),
        hash_bucket("doc_id", "pack").alias("hb"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("hb", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum_tokens", F.sum("tokens").over(w))
    return (
        cum.withColumn("bin", F.floor((F.col("cum_tokens") - F.col("tokens")) / 2048).cast("int"))
        .groupBy("lang", "bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("tokens").cast("bigint").alias("total_tokens"))
        .orderBy("lang", "bin")
    )


def _pack_bfd_expected() -> str:
    """Lazy replay oracle for pack_best_fit_docs: DuckDB recomputes
    (doc_id, tokens, shard) with the shared md5-bucket expression, then
    the SAME bfd_pack the operator runs per shard runs driver-side —
    VALUES literal (the _semantic_chunks_expected convention)."""
    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.operators.packing import bfd_pack

    budget = 96
    hb = _D_BUCKET.format(salt="bfd", key="doc_id")
    rows = duckdb.sql(
        f"SELECT doc_id, len(string_split(text, ' ')) AS t, ({hb}) % 8 AS shard "
        f"FROM read_parquet('{oracle_sf_dir()}/documents.parquet')"
    ).fetchall()
    by_shard: dict = {}
    for doc_id, t, sh in rows:
        by_shard.setdefault(int(sh), []).append((int(doc_id), int(t)))
    values = []
    for sh, items in by_shard.items():
        for doc_id, bin_id, t, tr in bfd_pack(items, budget):
            values.append(f"({doc_id}, {sh}, {bin_id}, {t}, {'TRUE' if tr else 'FALSE'})")
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(shard AS INT) AS shard, "
        "CAST(bin_id AS INT) AS bin_id, CAST(tokens AS BIGINT) AS tokens, truncated "
        "FROM (VALUES " + ", ".join(values) + ") "
        "AS t(doc_id, shard, bin_id, tokens, truncated) "
        "ORDER BY shard, bin_id, doc_id"
    )


@query("pack_best_fit_docs", oracle=_pack_bfd_expected)
def pack_best_fit_docs(spark, sf_dir):
    """Best-fit-decreasing sequence packing (operators/packing.py — the
    Ding et al. 2024 recipe): exact BFD per md5-hash shard inside one
    applyInPandas pass, budget 96 tokens so the fixture exercises both
    the packed and the own-bin truncated legs. Measured at a 160-token
    budget on this corpus: greedy hash-order packing wastes 20.3% of the
    bin space, BFD 3.5% (pinned in tests/test_packing.py). Oracle
    replays shard hash + the shared bfd_pack sequentially."""
    from chatdata_spark.operators.packing import pack_best_fit

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select("doc_id", F.size(F.split("text", " ")).alias("tokens"))
    return pack_best_fit(toks, "doc_id", "tokens", budget=96, n_shards=8)


@query(
    "domain_mixture_sample",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, source,
               CASE WHEN source = 'src0' THEN 1.0
                    WHEN source = 'src1' THEN 0.5
                    WHEN source = 'src2' THEN 0.25
                    ELSE 0.05 END AS rate
        FROM documents
    )
    SELECT source, COUNT(*) AS n_kept
    FROM r
    WHERE {_D_BUCKET.format(salt='mix', key='doc_id')} < CAST(rate * 4294967296.0 AS BIGINT)
    GROUP BY source ORDER BY source
    """,
)
def domain_mixture_sample(spark, sf_dir):
    """Weighted domain mixing (training-mixture assembly): keep 100% of
    src0, 50% of src1, 25% of src2, 5% of everything else — one scan-stage
    deterministic filter, reproducible at any scale or layout."""
    from chatdata_spark.operators.sampling import domain_mixture

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mixed = domain_mixture(
        d, "source", {"src0": 1.0, "src1": 0.5, "src2": 0.25}, "doc_id", default_rate=0.05
    )
    return mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("source")


@query(
    "weighted_sample_by_length",
    oracle=f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE CAST(n_chars AS DOUBLE) > 0
    ORDER BY -ln((CAST({_D_BUCKET.format(salt='w', key='doc_id')} + 1 AS DOUBLE)) / 4294967296.0)
                 / CAST(n_chars AS DOUBLE) ASC,
             doc_id ASC
    LIMIT 100
    """,
)
def weighted_sample_by_length(spark, sf_dir):
    """Weighted sampling without replacement (A-ES exponential keys):
    100 docs with inclusion probability ∝ n_chars — the quality/length-
    weighted corpus-selection primitive, deterministic across engines
    (md5-derived uniforms), executed as a TakeOrderedAndProject."""
    from chatdata_spark.operators.sampling import weighted_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample(d, "doc_id", "n_chars", 100, salt="w").select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "shard_assignment_docs",
    oracle=f"""
    SELECT doc_id,
           CAST({_D_BUCKET.format(salt='shard', key='doc_id')} % 16 AS INT) AS shard,
           {_D_BUCKET.format(salt='shard', key='doc_id')} AS shuffle_key
    FROM documents ORDER BY doc_id
    """,
)
def shard_assignment_docs(spark, sf_dir):
    """Training-export sharding: deterministic shard id (md5 bucket mod 16)
    + within-shard shuffle key per document
    (operators/sampling.py::shard_assignment), bit-identical on any
    engine; a writer partitions by shard and sorts within it."""
    from chatdata_spark.operators.sampling import shard_assignment

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shard_assignment(d, "doc_id", 16).select(
        "doc_id", "shard", "shuffle_key"
    ).orderBy("doc_id")


def dsir_sel_ctes(k: int) -> str:
    """The full DSIR estimator as a reusable CTE chain ending in
    ``d_sel`` (doc_id, lang, source, logw, sel_key — the Gumbel top-k).
    CTE names are d_-prefixed so the block composes into larger oracles
    (queries/pipeline.py::curation_select_v2) without collisions."""
    return f"""
    d_toks AS (
        SELECT doc_id, lang, source,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents
    ),
    d_grams AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 256 AS b
        FROM d_toks,
             UNNEST(list_concat(
                 ws,
                 [ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))]
             )) AS t(g)
    ),
    d_tc AS (SELECT b, COUNT(*) AS ct FROM d_grams WHERE lang = 'en' GROUP BY b),
    d_rc AS (SELECT b, COUNT(*) AS cr FROM d_grams GROUP BY b),
    d_lr AS (
        SELECT r.range AS b,
               ROUND(
                   LN((COALESCE(ct, 0) + 1.0) /
                      CAST((SELECT COUNT(*) FROM d_grams WHERE lang = 'en') + 256 AS DOUBLE))
                 - LN((COALESCE(cr, 0) + 1.0) /
                      CAST((SELECT COUNT(*) FROM d_grams) + 256 AS DOUBLE)),
                   6) AS lr
        FROM range(0, 256) r
        LEFT JOIN d_tc ON d_tc.b = r.range
        LEFT JOIN d_rc ON d_rc.b = r.range
    ),
    d_dw AS (
        SELECT doc_id, CAST(SUM(CAST(lr AS DECIMAL(18,6))) AS DOUBLE) AS logw
        FROM d_grams JOIN d_lr USING (b)
        GROUP BY doc_id
    ),
    d_sel AS (
        SELECT d.doc_id, d.lang, d.source, logw,
               ROUND(logw + (-LN(-LN(
                   (CAST(('0x' || substr(md5('dsir' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
                   / 4294967296.0))), 6) AS sel_key
        FROM documents d JOIN d_dw USING (doc_id)
        ORDER BY sel_key DESC, d.doc_id ASC
        LIMIT {k}
    )"""


@query(
    "dsir_resample_docs",
    oracle="WITH" + dsir_sel_ctes(50) + """
    SELECT doc_id, lang, source, logw, sel_key
    FROM d_sel ORDER BY sel_key DESC, doc_id ASC
    """,
)
def dsir_resample_docs(spark, sf_dir):
    """DSIR importance resampling (operators/dsir.py — Xie et al. 2023):
    select the 50 raw documents whose hashed unigram+bigram profile is
    most target-like, target = the English slice of the same corpus, via
    add-1-smoothed bucket log-ratios (m=256 md5 buckets) and the
    deterministic Gumbel top-k. The oracle replays the ENTIRE estimator in
    DuckDB SQL — gram stream, bucketing, smoothing, decimal-exact weight
    sum, Gumbel key — so hashing, smoothing arithmetic, and the
    weighted-sampling key are all cross-engine pinned."""
    from chatdata_spark.operators.dsir import dsir_resample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        dsir_resample(
            d, d.filter(F.col("lang") == "en"), "doc_id", "text", k=50, m=256
        )
        .select("doc_id", "lang", "source", "logw", "sel_key")
        .orderBy(F.col("sel_key").desc(), F.col("doc_id").asc())
    )


def _temperature_mixture_expected() -> str:
    """Lazy oracle for mixture_temperature_sample: domain counts come from
    DuckDB, the rate math is the SAME pure-Python helper the operator uses
    (operators/sampling.py::temperature_rates), and the integer bucket
    thresholds are computed in Python and inlined (CLAUDE.md convention:
    never CAST(rate * 2^32) cross-engine — DuckDB's double→BIGINT cast
    rounds half-even while Spark/Python truncate)."""
    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.operators.sampling import temperature_rates

    counts = dict(
        duckdb.sql(
            f"SELECT source, COUNT(*) FROM read_parquet('{oracle_sf_dir()}/documents.parquet') "
            "GROUP BY source"
        ).fetchall()
    )
    target = sum(counts.values()) // 2
    rates = temperature_rates(counts, alpha=0.3, target_total=target)
    cases = " ".join(
        f"WHEN source = '{d}' THEN {int(r * 4294967296.0)}" for d, r in sorted(rates.items())
    )
    bucket = _D_BUCKET.format(salt="mixt", key="doc_id")
    return f"""
    SELECT source, COUNT(*) AS n_kept
    FROM read_parquet('{oracle_sf_dir()}/documents.parquet')
    WHERE {bucket} < (CASE {cases} ELSE 0 END)
    GROUP BY source ORDER BY source
    """


@query("mixture_temperature_sample", oracle=_temperature_mixture_expected)
def mixture_temperature_sample(spark, sf_dir):
    """Temperature-scaled domain mixture (alpha=0.3, budget = half the
    corpus): n^alpha-proportional target shares up-sample small sources
    relative to their natural share — the multilingual-corpus rebalancing
    recipe, as one tiny count agg + a scan-stage deterministic hash filter
    (operators/sampling.py::temperature_mixture)."""
    from chatdata_spark.operators.sampling import temperature_mixture

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    total = d.count()
    mixed, _rates = temperature_mixture(
        d, "source", "doc_id", alpha=0.3, target_total=total // 2
    )
    return mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("source")


@query(
    "corpus_shuffle_interleaved",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY {_D_BUCKET.format(salt='shuf', key='doc_id')}, doc_id) AS rs
        FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
    ),
    t AS (SELECT * FROM r ORDER BY rs, source LIMIT 50)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rs, source) AS INT) AS pos,
           doc_id, source
    FROM t ORDER BY pos
    """,
)
def corpus_shuffle_interleaved(spark, sf_dir):
    """Reproducible TRAINING ORDER: the corpus-shuffle step that turns a
    curated corpus into the deterministic, source-interleaved sequence a
    trainer consumes. Each document gets a per-source position in hash
    order (md5 — reshuffle-by-salt, reproducible across engines, runs and
    partitionings, unlike rand()); the global order key is (position,
    source), i.e. round-robin across sources, so every training-window
    prefix carries the source mix instead of long single-source runs
    (the data-ordering analogue of mixture sampling). Scale shape: NO
    global row_number materialization — the order exists as a SORT KEY
    (writers range-partition + sort by it; one window exchange per
    source partition for rs); this query demos the first 50 positions
    via TakeOrderedAndProject, the scale-correct top-k."""
    from pyspark.sql import Window

    from chatdata_spark.operators.sampling import hash_bucket

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id").isNotNull() & F.col("source").isNotNull()
    )
    w = Window.partitionBy("source").orderBy(hash_bucket("doc_id", "shuf"), "doc_id")
    ranked = d.select("doc_id", "source", F.row_number().over(w).alias("rs"))
    head = ranked.orderBy("rs", "source").limit(50)
    wpos = Window.orderBy("rs", "source")
    return (
        head.withColumn("pos", F.row_number().over(wpos))
        .select("pos", "doc_id", "source")
        .orderBy("pos")
    )


@query(
    "pack_sequences_concat",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS tokens,
               {_D_BUCKET.format(salt='pack', key='doc_id')} AS hb
        FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL
    ),
    cum AS (
        SELECT lang, doc_id, tokens,
               SUM(tokens) OVER (PARTITION BY lang ORDER BY hb, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM toks
    ),
    spans AS (
        SELECT lang, CAST(c - tokens AS BIGINT) AS s, CAST(c AS BIGINT) AS e
        FROM cum WHERE tokens > 0
    ),
    ex AS (
        SELECT lang, s, e,
               unnest(generate_series(s // 512, (e - 1) // 512)) AS seq
        FROM spans
    )
    SELECT lang, CAST(seq AS BIGINT) AS seq,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(e, (seq + 1) * 512) - GREATEST(s, seq * 512)) AS BIGINT)
               AS n_tokens,
           CAST(SUM(CASE WHEN s < seq * 512 OR e > (seq + 1) * 512
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
    FROM ex GROUP BY lang, seq ORDER BY lang, seq
    """,
)
def pack_sequences_concat(spark, sf_dir):
    """CONCAT-AND-CHUNK sequence packing — the standard LLM-pretraining
    packing (documents concatenated in deterministic hash order per
    language, the token stream cut into fixed 512-token training
    sequences, documents SPLIT across boundaries) — the complement of
    pack_documents (whole-doc greedy bins, zero splits, padding waste).
    Each doc's token interval [cum-len, cum) is intersected with the
    sequence grid via an integer-division explode (a doc spanning k
    boundaries lands in k+1 sequences); per (lang, seq): contributing
    docs, exact token count (== 512 except each language's last), and
    how many contributors are boundary-split — the packing-efficiency
    report a data-loader build needs. All-integer arithmetic over one
    window + one explode: the oracle replays it exactly. Scale shape:
    one window exchange per lang partition, explode fan-out is
    (1 + total_tokens/512) rows — the same order as the token stream
    itself; the realized writer is a range partition on (lang, seq)."""
    from pyspark.sql import Window

    from chatdata_spark.operators.sampling import hash_bucket

    L = 512
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("lang").isNotNull() & F.col("doc_id").isNotNull()
    )
    toks = d.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).alias("tokens"),
        hash_bucket("doc_id", "pack").alias("hb"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("hb", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        toks.withColumn("c", F.sum("tokens").over(w))
        .filter(F.col("tokens") > 0)
        .select(
            "lang",
            (F.col("c") - F.col("tokens")).cast("bigint").alias("s"),
            F.col("c").cast("bigint").alias("e"),
        )
    )
    ex = spans.select(
        "lang", "s", "e",
        F.explode(
            F.sequence(F.expr(f"s div {L}"), F.expr(f"(e - 1) div {L}"))
        ).alias("seq"),
    )
    lo = F.greatest(F.col("s"), F.col("seq") * L)
    hi = F.least(F.col("e"), (F.col("seq") + 1) * L)
    split = (F.col("s") < F.col("seq") * L) | (F.col("e") > (F.col("seq") + 1) * L)
    return (
        ex.groupBy("lang", "seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(hi - lo).cast("bigint").alias("n_tokens"),
            F.sum(split.cast("long")).cast("bigint").alias("n_split_docs"),
        )
        .orderBy("lang", "seq")
    )


@query(
    "token_budget_mixture",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source, n_chars,
               1 + (CAST(substr(source, 4) AS INT) % 3) AS w
        FROM documents
    ),
    tot AS (SELECT SUM(w) AS sum_w FROM (SELECT DISTINCT source, w FROM d)),
    q AS (
        SELECT d.*, (60000 * w) // sum_w AS quota FROM d, tot
    ),
    run AS (
        SELECT source, w, quota, n_chars,
               SUM(n_chars) OVER (
                   PARTITION BY source
                   ORDER BY {_D_BUCKET.format(salt='tbm', key='doc_id')}, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM q
    )
    SELECT source, CAST(w AS BIGINT) AS w, CAST(quota AS BIGINT) AS quota,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_used
    FROM run WHERE cum <= quota
    GROUP BY source, w, quota ORDER BY source
    """,
)
def token_budget_mixture(spark, sf_dir):
    """Budget-constrained corpus mixing
    (operators/sampling.py::budget_prefix_sample): each source gets an
    integer quota (budget x weight) // Σweights — weights derived
    deterministically from the source index, all arithmetic exact
    BIGINT — and contributes the greedy hash-ordered prefix of its docs
    whose running char cost fits the quota. The "fill a fixed token
    budget at recipe ratios" step of a pretraining mixture: one window
    exchange per source, no collects; output is the per-source audit
    row (quota, docs taken, budget actually used). Complements
    mixture_temperature_sample (which reweights without a cap)."""
    from chatdata_spark.operators.sampling import budget_prefix_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    d = d.withColumn(
        "w", (F.lit(1) + F.substring("source", 4, 10).cast("int") % 3).cast("long")
    )
    sum_w = (
        d.select("source", "w").distinct().agg(F.sum("w").alias("s")).collect()[0].s
    )
    # exact BIGINT division (ADVICE r9): `div` is integer division on
    # longs in Spark SQL, matching the oracle's `//` bit-for-bit at any
    # magnitude — floor(double /) drifts once operands approach 2^53
    d = d.withColumn("quota", F.expr(f"(60000L * w) div {int(sum_w)}L"))
    picked = budget_prefix_sample(d, "source", "n_chars", F.col("quota"), "doc_id", salt="tbm")
    return (
        picked.groupBy("source", "w", "quota")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_used"),
        )
        .orderBy("source")
    )


@query(
    "corpus_epoch_upsample",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               1 + (CAST(substr(source, 4) AS INT) % 3) AS w_int
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, w_int,
               w_int + (CASE WHEN {_D_BUCKET.format(salt='ep', key='doc_id')} < 1717986918
                             THEN 1 ELSE 0 END) AS n_copies
        FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_copies) AS BIGINT) AS n_copies,
           CAST(SUM(n_copies) - SUM(w_int) AS BIGINT) AS n_extra
    FROM c GROUP BY source ORDER BY source
    """,
)
def corpus_epoch_upsample(spark, sf_dir):
    """Fractional repeat-factor upsampling
    (operators/sampling.py::epoch_upsample): source s trains for
    (1 + idx%3) + 0.4 epochs — integer part = guaranteed copies,
    fractional 0.4 = a deterministic hash-Bernoulli extra copy per doc
    (threshold 1717986918 = int(0.4·2^32), computed ONCE in Python and
    inlined in the oracle per the bucket-boundary convention — DuckDB's
    rounding decimal→BIGINT cast would diverge from Spark's truncation
    on other fractions). The exploded stream is what the training
    dataloader reads; the driver row is the per-source audit (docs,
    total copies, hash-extra copies). Explode fan-out = the repeat
    factor itself; no shuffle before the audit aggregate."""
    from chatdata_spark.operators.sampling import epoch_upsample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    d = d.withColumn(
        "w_int", (F.lit(1) + F.substring("source", 4, 10).cast("int") % 3).cast("long")
    )
    r = F.col("w_int").cast("decimal(10,1)") + F.lit(0.4).cast("decimal(10,1)")
    up = epoch_upsample(d.withColumn("r", r), F.col("r"), "doc_id", salt="ep")
    return (
        up.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_copies"),
            (F.count(F.lit(1)) - F.sum(F.when(F.col("copy") <= F.col("w_int"), 1).otherwise(0))).alias("n_extra"),
        )
        .orderBy("source")
    )

"""Benchmark decontamination for LLM training corpora (north-star
extension; no analogue in the reference — its ingest trusts uploads,
app/backend/chat_bot/tools.py:13-50).

Flags training documents that share word-n-gram content with an evaluation
/ benchmark set (the standard "13-gram overlap" decontamination rule, cf.
the GPT-3 / PaLM data-prep appendices), so they can be dropped or audited
before training.

Scale design (the 100 TB story): the benchmark side is always tiny
relative to the corpus (benchmark suites are at most millions of n-grams),
so its distinct n-gram hash set is **broadcast** — the corpus is streamed
through one scan + one explode with a broadcast hash join, no shuffle of
corpus data, no all-pairs compare. The per-doc aggregation that follows
shuffles only (doc_id, counts) pairs with map-side partial aggregation.
N-grams travel as 64-bit xor-rotate hashes of xxhash64'd words
(operators/dedup.py:shingle_hashes_col), never as raw strings.
"""

from __future__ import annotations

import numpy as np  # module-top: pandas_udf type hints resolve against these
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chatdata_spark.operators.dedup import _memo_put, _with_shingle_hashes, shingle_hashes_udf
from chatdata_spark.session import local_frame


def benchmark_ngram_set(bench: DataFrame, text_col: str = "text", n: int = 13) -> DataFrame:
    """Distinct n-gram hashes of the benchmark set: one column ``sh``.
    Small by construction — safe to broadcast. Same Arrow mix as the corpus
    side (hash values must agree exactly for the overlap join)."""
    # NO `_spread` of the bench side (r11 optimization round, measured
    # and REJECTED): benchmark sets are small by construction, so the
    # added exchange cost more than the 1-partition tokenize it
    # parallelized — decontam_docs_bloom measured 1.3-1.7x slower at
    # paired min-of-5 (1.69→2.24, 1.26→2.13 s).
    return (
        bench.select(
            F.transform(
                F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.xxhash64(t)
            ).alias("__wh")
        )
        .select(F.explode(shingle_hashes_udf(n)(F.col("__wh"))).alias("sh"))
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Per-corpus-document benchmark overlap: ``(id, n_shingles, n_hits,
    overlap_frac, contaminated)`` where ``n_hits`` counts the document's
    DISTINCT n-grams that appear anywhere in the benchmark set and
    ``contaminated = n_hits >= min_hits``.

    Exactness: counts are over n-gram *hashes*; two distinct n-grams
    collide with probability ~|grams|²/2⁶⁴ (negligible, deterministic for
    fixed data). All documents are returned (left join onto the broadcast
    set), so the caller can anti-filter in one pass.

    Short-text convention (inherited from shingle_hashes_col's padded
    floor-1 sequence): a document or benchmark line with FEWER than ``n``
    words contributes exactly one whole-text shingle — so short texts
    decontaminate on exact content match (a one-word benchmark answer
    appearing verbatim as a tiny doc IS flagged), rather than the strict
    reading where sub-n texts have no n-grams and can never match. Pinned
    by the property test in tests/test_operator_properties.py.
    """
    sig = _with_shingle_hashes(corpus, id_col, text_col, n, persist=False)
    bset = benchmark_ngram_set(bench, bench_text_col, n).withColumn("__hit", F.lit(1))
    # explode_OUTER, deliberately: a plain explode makes the optimizer
    # infer `size(shh) > 0` above the Generate (InferFiltersFromGenerate)
    # and predicate-pushdown then drags that filter below the spread
    # exchange WITH a second copy of the shingle UDF — the whole corpus
    # ran the Arrow mix twice, once single-threaded (r11 plan audit:
    # two ArrowEvalPython nodes of the same _sh call). Outer generates
    # infer nothing; the floor-1 shingle convention (docstring above)
    # guarantees shh is non-empty, so the emitted rows are identical.
    hits = (
        sig.select("id", "sz", F.explode_outer("shh").alias("sh"))
        .join(F.broadcast(bset), "sh", "left")
        .groupBy("id", "sz")
        .agg(F.count("__hit").alias("n_hits"))
    )
    return hits.select(
        F.col("id").alias(id_col),
        F.col("sz").alias("n_shingles"),
        "n_hits",
        F.round(F.col("n_hits") / F.col("sz").cast("double"), 6).alias("overlap_frac"),
        (F.col("n_hits") >= F.lit(min_hits)).alias("contaminated"),
    )


# --- embedding-space decontamination -----------------------------------------
#
# The n-gram rule above catches verbatim leakage; paraphrased or lightly
# rewritten benchmark items evade it. The standard complement (used by the
# Llama / phi data-prep write-ups) is an EMBEDDING-space check: flag any
# training item whose embedding is too close (cosine) to an eval-set
# embedding. Same asymmetry as the n-gram rule — the eval side is tiny —
# so the same 100 TB shape applies: the eval matrix is captured by VALUE
# into an Arrow pandas UDF and the corpus is screened in one scan-stage
# GEMM pass with NO shuffle of corpus data; only the (rare) survivors are
# paired, broadcast-joined to the eval rows, and re-scored with the exact
# same-operand-order JVM cosine the oracle uses. Candidate search is
# approximate-fast (blocked numpy summation, screened at threshold − 1e-5
# so no true pair is lost), reported values stay bit-exact.

# Memoized per (matrix bytes, threshold): identical UDF objects keep
# repeated plans equal so CacheManager can reuse persisted upstream tables
# (CLAUDE.md "memoize pandas UDF objects").
_SCREEN_UDFS: dict = {}


def _eval_screen_udf(eval_mat: np.ndarray, threshold: float):
    """array<float> corpus vector → array<int> of eval-row indices whose
    cosine similarity is ≥ threshold − 1e-5, against the captured eval
    matrix and its norms."""
    e = np.asarray(eval_mat, dtype=np.float64)
    key = (e.shape, float(threshold), hash(e.tobytes()))
    if key in _SCREEN_UDFS:
        return _SCREEN_UDFS[key]
    en = np.linalg.norm(e, axis=1)
    thr = float(threshold) - 1e-5

    @F.pandas_udf("array<int>")
    def _screen(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        sims = (m @ e.T) / (np.linalg.norm(m, axis=1)[:, None] * en[None, :])
        return pd.Series([np.nonzero(row >= thr)[0].tolist() for row in sims])

    _memo_put(_SCREEN_UDFS, key, _screen)
    return _screen


def embedding_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "vec_id",
    eval_vec_col: str = "embedding",
    threshold: float = 0.38,
    round_digits: int = 6,
    max_eval: int = 65536,
) -> DataFrame:
    """Pairs ``(id, eval_id, cos_sim)`` for every corpus row whose embedding
    has cosine similarity ≥ ``threshold`` (after rounding to
    ``round_digits``, matching the oracle's filter) to an eval-set row.

    The eval set is collected driver-side (bounded: eval/benchmark suites
    are small by construction; guarded by ``max_eval``) in ``eval_id``
    order so the captured matrix — and therefore the plan — is
    deterministic. The corpus side is never shuffled: screen (scan-stage
    Arrow GEMM) → explode (Python-eval barrier, so Generate cannot inline
    anything expensive) → broadcast join to the eval rows → exact JVM
    re-score with the same operand order as DuckDB's
    ``list_cosine_similarity`` (the bit-match ``dedup_embedding`` already
    relies on).
    """
    from chatdata_spark.functions.vector import dot_product, vector_norm

    rows = (
        eval_df.select(F.col(eval_id_col).alias("__eid"), F.col(eval_vec_col).alias("__ev"))
        .orderBy("__eid")
        .collect()
    )
    if len(rows) > max_eval:
        raise ValueError(
            f"eval set has {len(rows)} rows > max_eval={max_eval}; "
            "broadcast screening assumes a benchmark-sized eval side"
        )
    e = np.array([r["__ev"] for r in rows], dtype=np.float64)
    id_type = eval_df.schema[eval_id_col].dataType
    mapping = local_frame(
        corpus.sparkSession,
        [(i, r["__eid"], [float(x) for x in r["__ev"]]) for i, r in enumerate(rows)],
        T.StructType(
            [
                T.StructField("__eidx", T.IntegerType()),
                T.StructField("eval_id", id_type),
                T.StructField("__evec", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    hits = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.explode(_eval_screen_udf(e, threshold)(F.col(vec_col))).alias("__eidx"),
    )
    sim = F.round(
        dot_product(F.col("__v"), F.col("__evec"))
        / (vector_norm(F.col("__v")) * vector_norm(F.col("__evec"))),
        round_digits,
    )
    return (
        hits.join(F.broadcast(mapping), "__eidx")
        .select(F.col(id_col), "eval_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= F.lit(float(threshold)))
    )


def decontaminate_bloom(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
    n_bits: int = 1 << 20,
    n_hashes: int = 7,
) -> DataFrame:
    """:func:`decontaminate` with the benchmark n-gram set carried as a
    BLOOM bitmask instead of a broadcast hash table — same output,
    different ceiling. The broadcast-set design tops out when the eval
    suite grows past what a per-executor hash map tolerates (10⁹ distinct
    grams ≈ tens of GB as a map); the bloom at ~10 bits/key is an order
    of magnitude smaller and probes in the SCAN STAGE
    (operators/bloomjoin.py), so only probable hits leave the scan. The
    rare candidates are then verified with an exact semi-join against the
    full gram set — a SHUFFLE join sized by the candidates, not the
    corpus, which no longer requires the gram set to be broadcastable.
    Blooms have no false negatives, so bloom+verify ≡ the exact operator
    (the registry query pins this with the identical oracle).

    Non-candidate documents still come back (n_hits 0): hits are counted
    on the verified candidates and joined back onto the per-doc gram
    counts (the anti-join-restore convention). The signature table is
    PERSISTED here — unlike :func:`decontaminate`'s single-consumer shape,
    both the candidate branch and the join-back read it, and without the
    persist the Arrow shingle pass would run twice over the corpus."""
    from chatdata_spark.operators.bloomjoin import bloom_might_contain, build_bloom

    sig = _with_shingle_hashes(corpus, id_col, text_col, n, persist=True)
    bset = benchmark_ngram_set(bench, bench_text_col, n)
    bloom = build_bloom(bset, "sh", n_bits=n_bits, n_hashes=n_hashes)
    cand = (
        sig.select("id", F.explode("shh").alias("sh"))
        .filter(bloom_might_contain(bloom, "sh", n_bits, n_hashes))
    )
    hits = (
        cand.join(bset, "sh", "left_semi")  # removes bloom false positives
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        sig.select("id", "sz")
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("sz").alias("n_shingles"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("sz").cast("double"), 6
            ).alias("overlap_frac"),
            (F.coalesce("n_hits", F.lit(0)) >= F.lit(min_hits)).alias("contaminated"),
        )
    )

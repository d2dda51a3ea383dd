"""Deduplication operator family for LLM training-data pipelines
(north-star extension, BASELINE.json; not present in the reference — its
only dedup is upsert-by-sha256-key, tools.py:35-37, covered by
operators/upsert.py).

All signature computation is **pure Spark SQL higher-order functions**
(shingles, minhash, simhash all via transform/aggregate/xxhash64) — zero
Python in the hot path, so signatures are computed inside the scan stage at
full codegen speed.

Scale design (the 100 TB story):
- exact:   shuffle on a fixed-width sha256 digest, never on raw text.
- minhash: O(n) signature pass → explode to B band keys → shuffle on
  (band, key) — candidate generation never compares all pairs. Bucket
  self-join is the only quadratic spot; bucket sizes are bounded by LSH
  (and a frequent-shingle cap, ``max_df``, guards adversarial skew).
- simhash: 64-bit fingerprint, candidates via 4×16-bit chunk pigeonhole
  (hamming ≤ 3 ⇒ ≥ 1 exact chunk match), verify with bit_count(a ^ b).
- jaccard verify / similarity join: count-from-the-inverted-index (one
  shuffle on the shingle hash, bounded f² buckets, exact stop-shingle
  correction from a driver-collected, provably small stop set).
- embedding near-dup: exact O(n²) block compare here; the IVF layout
  (operators/ivf.py) is the scale path — compare only within probed
  clusters.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chatdata_spark.session import local_frame


# --- building blocks ----------------------------------------------------------

def words_col(text="text") -> Column:
    """Whitespace tokenization, lowercased (normalization convention)."""
    return F.split(F.lower(F.col(text) if isinstance(text, str) else text), r"\s+")


def shingles_col(words, k: int = 3) -> Column:
    """Distinct word k-grams (n-gram shingles) as array<string>."""
    w = F.col(words) if isinstance(words, str) else words
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, k), " "),
        )
    )


def shingle_hashes_col(word_hashes, k: int = 3) -> Column:
    """Distinct word k-gram shingles as array<long>: order-sensitive
    xor-rotate mix of k consecutive word hashes from an ALREADY-MATERIALIZED
    array<long> column (pass a column reference, not the hashing expression
    — an inline `transform(words, xxhash64)` here would be re-evaluated for
    every element access, turning O(n) hashing into O(k·n²) per row).

    Equivalent to ``xxhash64`` over :func:`shingles_col` strings modulo
    collisions (~n²/2⁶⁴, deterministic): set semantics — intersections,
    sizes, minhash signatures — are preserved, which is all the dedup
    family consumes, at ~30× less per-row cost than string shingling."""
    wh = F.col(word_hashes) if isinstance(word_hashes, str) else word_hashes

    def mix(i):
        acc = F.try_element_at(wh, i)
        for j in range(1, k):
            rot = F.shiftleft(acc, 7).bitwiseOR(F.shiftrightunsigned(acc, 57))
            acc = rot.bitwiseXOR(F.coalesce(F.try_element_at(wh, i + j), F.lit(0).cast("long")))
        return acc

    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), F.greatest(F.size(wh) - (k - 1), F.lit(1))), mix)
    )


_SHINGLE_UDFS: dict[int, object] = {}

# stop-set statistics, keyed (input semanticHash, k, max_df) — see
# _stop_set: repeated plan constructions reuse the collected set.
# STATIC-DATA ASSUMPTION: semanticHash covers the PLAN (paths, filters), not
# file contents — if data under the same path changes mid-session, the stale
# stop set silently persists. That matches the table-statistics contract
# (Spark's own cached file listings behave the same); a session that rewrites
# its corpus in place should call _STOP_SETS.clear() — or better, write a new
# versioned directory (the convention every store in this repo follows).
# Bounded FIFO (_MEMO_CAP) so a long-lived session cannot grow it unboundedly.
_STOP_SETS: dict[tuple, list[int]] = {}
_MEMO_CAP = 64


def _memo_put(cache: dict, key, value) -> None:
    """Insert with FIFO eviction at ``_MEMO_CAP`` entries — plan-statistics
    memos (stop sets, slice widths) are tiny individually but keyed on
    semanticHash, which a long-lived session over many inputs churns."""
    if len(cache) >= _MEMO_CAP:
        cache.pop(next(iter(cache)))
    cache[key] = value


# Plan-literal InSet dispatch bound for collected stop sets (r9 verdict
# item 5): at or below this the set compiles into the plan as an InSet
# filter — zero extra shuffles, the common case. Above it the SAME set
# ships as a broadcast DataFrame (left-anti / left-semi joins), because
# the df-cap bounds |stop| by avg_doc_shingles/max_df — corpus-SIZE-free
# but not small on boilerplate-heavy corpora (10^5–10^6 entries at avg
# 10^3–10^4 shingles/doc), and a literal IN of that size bloats plan
# text, analysis time, and task binaries where a broadcast stays flat.
STOP_INSET_MAX = 4096


def _split_stop_tokens(base: DataFrame, tokens: DataFrame, stops: list[int]):
    """Apply the stop-shingle split, dispatched on ``len(stops)``.

    Returns ``(nonstop, docs)``: the non-stop token stream (id, shingle)
    and the per-doc frame (id, sz, stop_arr, n_stop). Both dispatch arms
    produce IDENTICAL contents (pinned by
    tests/test_dedup.py::test_stop_dispatch_paths_equivalent); only the
    physical shape differs:

    - ``len(stops) <= STOP_INSET_MAX``: plan-literal InSet filter + a
      per-row ``filter(shh, isin)`` projection — no extra shuffles.
    - above: the stop set becomes a broadcast 1-column DataFrame;
      nonstop = left-anti join, and the per-doc stop arrays come from a
      left-semi join + ``groupBy(id).collect_list`` joined back to the
      doc frame — one extra id-keyed shuffle buys a plan whose size is
      independent of |stop| (the 100 TB shape).

    ``stop_arr`` element order differs between arms (shh order vs
    collect_list arrival order) — irrelevant by contract: consumers only
    ever take ``size(array_intersect(...))`` over it."""
    if not stops:
        docs = base.select(
            "id", "sz", F.array().cast("array<bigint>").alias("stop_arr")
        ).withColumn("n_stop", F.lit(0))
        return tokens, docs
    if len(stops) <= STOP_INSET_MAX:
        nonstop = tokens.filter(~F.col("shingle").isin(stops))
        docs = base.select(
            "id", "sz", F.filter("shh", lambda x: x.isin(stops)).alias("stop_arr")
        ).withColumn("n_stop", F.size("stop_arr"))
        return nonstop, docs
    spark = base.sparkSession
    stop_df = F.broadcast(
        local_frame(spark, [(int(s),) for s in stops], "shingle bigint")
    )
    nonstop = tokens.join(stop_df, "shingle", "left_anti")
    stop_arrs = (
        tokens.join(stop_df, "shingle", "left_semi")
        .groupBy("id")
        .agg(F.collect_list("shingle").alias("stop_arr"))
    )
    docs = (
        base.select("id", "sz")
        .join(stop_arrs, "id", "left")
        .withColumn(
            "stop_arr", F.coalesce("stop_arr", F.array().cast("array<bigint>"))
        )
        .withColumn("n_stop", F.size("stop_arr"))
    )
    return nonstop, docs


def shingle_hashes_udf(k: int):
    """Arrow-vectorized twin of :func:`shingle_hashes_col`: array<bigint>
    word hashes → array<bigint> DISTINCT shingle hashes, bit-identical to
    the JVM xor-rotate mix (asserted in tests/test_dedup.py). One numpy
    pass per batch replaces O(k·S) interpreted lambda frames per row, and —
    as important — the Python eval node is a hard optimizer barrier: a
    downstream ``explode`` can't re-inline the word-hash array into every
    element access (the O(n²) trap; Generate-node inlining bypasses the
    multi-reference guard that protects plain projections).

    Memoized per ``k`` — identical
    UDF objects keep repeated plans equal, so CacheManager can serve a
    persisted signature table to later invocations."""
    if k in _SHINGLE_UDFS:
        return _SHINGLE_UDFS[k]

    @F.pandas_udf("array<bigint>")
    def _sh(word_hashes: pd.Series) -> pd.Series:
        kk = k
        out = []
        for h in word_hashes:
            hv = np.asarray(h, dtype=np.int64).view(np.uint64)
            n = hv.size
            m = max(n - (kk - 1), 1)
            acc = hv[:m].copy()
            for j in range(1, kk):
                nxt = np.zeros(m, dtype=np.uint64)
                avail = max(min(m, n - j), 0)
                if avail:
                    nxt[:avail] = hv[j : j + avail]
                acc = ((acc << np.uint64(7)) | (acc >> np.uint64(57))) ^ nxt
            out.append(np.unique(acc.view(np.int64)).tolist())
        return pd.Series(out)

    _SHINGLE_UDFS[k] = _sh
    return _sh


def _with_shingle_hashes(df: DataFrame, id_col: str, text_col: str, k: int, persist: bool) -> DataFrame:
    """(id, shh, sz) signature table: spread partitions, hash words JVM-side
    in its own projection, mix shingles from the hash array in one Arrow
    pass (:func:`shingle_hashes_udf` — values identical to the JVM mix).
    Persisted when consumed by multiple joins (bands + verify sides)."""
    base = (
        _spread(df.select(F.col(id_col).alias("id"), text_col))
        .select("id", F.transform(words_col(text_col), lambda t: F.xxhash64(t)).alias("__wh"))
        .select("id", shingle_hashes_udf(k)(F.col("__wh")).alias("shh"))
        .withColumn("sz", F.size("shh"))
    )
    if persist:
        from pyspark import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    return base


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the source arrived
    in fewer partitions (small local files read as one split would
    otherwise serialize the whole per-row compute on one core). At real
    scale inputs already have >cores partitions and this is a no-op."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def minhash_band_keys_udf(num_hashes: int = 128, rows_per_band: int = 2):
    """Arrow-vectorized MinHash: token hashes (already xxhash64'd JVM-side)
    → H-permutation signature via a fixed universal hash family
    (a_i·h + b_i over wrapping int64, seeds from RandomState(42) — fully
    deterministic) → per-band FNV-mixed keys, one numpy pass per batch.

    Input: array<bigint> hashed shingles; output: array<bigint> of
    num_hashes/rows_per_band band keys. The per-(hash,shingle) work that
    the interpreted JVM path pays ~1µs/lambda-frame for becomes one
    (H,S) numpy broadcast."""
    num_bands = num_hashes // rows_per_band
    rng = np.random.RandomState(42)
    a = (rng.randint(1, 2**62, size=num_hashes).astype(np.int64) << 1) | 1  # odd multipliers
    b = rng.randint(0, 2**62, size=num_hashes).astype(np.int64)
    fnv = np.int64(1099511628211)

    @F.pandas_udf("array<bigint>")
    def _bands(hashes: pd.Series) -> pd.Series:
        out = []
        for h in hashes:
            hv = np.asarray(h, dtype=np.int64)
            if hv.size == 0:
                hv = np.zeros(1, dtype=np.int64)
            sig = (a[:, None] * hv[None, :] + b[:, None]).min(axis=1)
            bands = sig.reshape(num_bands, rows_per_band)
            key = bands[:, 0].copy()
            for r in range(1, rows_per_band):
                key = key * fnv + bands[:, r]
            out.append(key.tolist())
        return pd.Series(out)

    return _bands


def md5_hash60(t) -> Column:
    """60-bit token hash from the first 15 hex chars of md5 — ~2× the cost
    of xxhash64 but computable bit-identically in DuckDB
    (``CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)``), which makes the
    SimHash pipeline oracle-checkable end-to-end. 60 bits so the value fits
    BIGINT without ANSI overflow on either engine."""
    t = F.col(t) if isinstance(t, str) else t
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash64_expr(hashes_col: str, n_bits: int = 64) -> Column:
    """SimHash fingerprint from a pre-hashed token array column: bit j =
    sign of Σ±1 over token hashes' bit j. Pure SQL expr because the Python
    ``shiftleft`` wrapper only takes int shift amounts (the SQL function
    accepts the lambda-bound ``j``). O(n_bits·n) JVM-side per row."""
    return F.expr(
        f"""
        aggregate(sequence(0, {n_bits - 1}), CAST(0 AS BIGINT), (acc, j) -> acc +
          CASE WHEN aggregate({hashes_col}, CAST(0 AS BIGINT),
                 (a, h) -> a + CASE WHEN (h & shiftleft(CAST(1 AS BIGINT), j)) != 0
                                   THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) > 0
               THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END)
        """
    )


def with_simhash64(
    df: DataFrame,
    text_col: str,
    out_col: str = "sh64",
    token_hash: Callable[[Column], Column] | None = None,
    n_bits: int = 64,
) -> DataFrame:
    """Attach an ``n_bits``-wide SimHash of the (lowercased,
    whitespace-tokenized, distinct) tokens of ``text_col``. ``token_hash``
    defaults to xxhash64 (cheapest); pass :func:`md5_hash60` with
    ``n_bits=60`` for the oracle-reproducible variant."""
    th = token_hash or (lambda t: F.xxhash64(t))
    return (
        df.withColumn("__hashes", F.transform(F.array_distinct(words_col(text_col)), th))
        .withColumn(out_col, simhash64_expr("__hashes", n_bits))
        .drop("__hashes")
    )


# --- exact dedup ---------------------------------------------------------------

def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str, keep: str = "min") -> DataFrame:
    """Keep one row per key (first by ``order_col``): the eager
    ReplacingMergeTree semantics (SURVEY §1.3/§2.8 M1). Shuffles on
    sha256(key) rather than raw keys when keys are long strings."""
    digest = F.sha2(F.concat_ws("\x1f", *key_cols), 256)
    order = F.col(order_col).asc() if keep == "min" else F.col(order_col).desc()
    w = Window.partitionBy(digest).orderBy(order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


# --- exact similarity join (inverted-index / token join) ------------------------

def _stop_set(base: DataFrame, k: int, max_df: int | float) -> list[int]:
    """Shingle hashes whose document frequency exceeds ``max_df`` (absolute
    int, or fraction of the corpus if float, min 2 docs) over a
    ``_with_shingle_hashes`` table — the stop set every stop-split join
    uses. A bounded statistics pass collected driver-side (|stop| ≤
    avg_doc_size/max_df, corpus-size-free), memoized per (input plan, k,
    max_df) like the pandas UDFs, so repeated plan constructions over the
    same input (warm+timed bench runs, driver compare) cost zero extra
    jobs."""
    stop_key = (base.semanticHash(), k, max_df)
    stops = _STOP_SETS.get(stop_key)
    if stops is None:
        if isinstance(max_df, float):
            cap = max(int(-(-max_df * base.count() // 1)), 2)  # ceil, min 2
        else:
            cap = max_df
        stops = [
            r[0]
            for r in base.select(F.explode("shh").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > cap)
            .select("shingle")
            .collect()
        ]
        _memo_put(_STOP_SETS, stop_key, stops)
    return stops


# --- the shared filter-then-verify steps of every set-similarity join -----------

def _bucket_pairs(keyed: DataFrame, key: str, member: str | Column) -> DataFrame:
    """(a, b) for every two ``member`` values (a name or any column, e.g. a
    struct) of one ``key`` bucket, once per bucket they share. The f²
    expansion runs inside each bucket via chained JVM Generates — codegen
    row expansion, not interpreted lambdas, not a self-join: ``keyed`` is
    shuffled by ``key`` once. The caller bounds bucket sizes."""
    buckets = (
        keyed.groupBy(key).agg(F.collect_list(member).alias("docs")).filter(F.size("docs") >= 2)
    )
    return (
        buckets.select("docs", F.posexplode("docs").alias("pa", "a"))
        .select("a", F.expr("slice(docs, pa + 2, size(docs) - pa - 1)").alias("rest"))
        .select("a", F.explode("rest").alias("b"))
    )


def _shared_counts(keyed: DataFrame, key: str, member: str) -> DataFrame:
    """(i, j, n): member pairs sharing n ≥ 1 keys, i < j. Precondition:
    distinct (key, member) rows — a repeated row would count its key twice
    and pair the member with itself. NULL members never pair."""
    return (
        _bucket_pairs(keyed, key, member)
        .select(F.least("a", "b").alias("i"), F.greatest("a", "b").alias("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _verify_jaccard(
    cands: DataFrame, sigs: DataFrame, threshold: float, round_digits: int
) -> DataFrame:
    """(i, j, jaccard ≥ threshold) for distinct candidate pairs (i, j): one
    exact ``array_intersect`` per pair over a signature table (id, shh, sz)."""
    lhs = sigs.select(F.col("id").alias("i"), F.col("shh").alias("sh_i"), F.col("sz").alias("sz_i"))
    rhs = sigs.select(F.col("id").alias("j"), F.col("shh").alias("sh_j"), F.col("sz").alias("sz_j"))
    return (
        cands.join(lhs, "i")
        .join(rhs, "j")
        .withColumn("common", F.size(F.array_intersect("sh_i", "sh_j")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_i") + F.col("sz_j") - F.col("common")), round_digits
            ),
        )
        .filter(F.col("jaccard") >= float(threshold))
        .select("i", "j", "jaccard")
    )


def _index_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int, max_df: int | float | None,
    score: Callable[[Column], Column], threshold: float, round_digits: int,
) -> DataFrame:
    """Count-from-the-index core of :func:`jaccard_similarity_join` and
    :func:`containment_join`: (i, j, sz_i, sz_j, common, ...) for pairs
    sharing a non-stop shingle, ``common`` exact. ``score(common)`` is the
    caller's measure, monotone in common; pairs whose score at the upper
    bound common_ns + min(ns_i, ns_j) rounds below ``threshold`` are pruned
    before the array intersect (round is monotone: no true pair is lost)."""
    base = _with_shingle_hashes(df, id_col, text_col, k, persist=True)
    tokens = base.select("id", F.explode("shh").alias("shingle"))
    stops = _stop_set(base, k, max_df) if max_df is not None else []
    # size-dispatched split: InSet below STOP_INSET_MAX, broadcast
    # anti/semi joins above (identical contents, flat plan at any |stop|)
    nonstop, docs = _split_stop_tokens(base, tokens, stops)
    pairs = _shared_counts(nonstop, "shingle", "id").withColumnRenamed("n", "common_ns")
    a = docs.select(
        F.col("id").alias("i"), F.col("sz").alias("sz_i"),
        F.col("n_stop").alias("ns_i"), F.col("stop_arr").alias("stop_i"),
    )
    b = docs.select(
        F.col("id").alias("j"), F.col("sz").alias("sz_j"),
        F.col("n_stop").alias("ns_j"), F.col("stop_arr").alias("stop_j"),
    )
    ub = F.col("common_ns") + F.least("ns_i", "ns_j")
    return (
        pairs.join(a, "i")
        .join(b, "j")
        .filter(F.round(score(ub), round_digits) >= F.lit(float(threshold)))
        .withColumn(
            "common", F.col("common_ns") + F.size(F.array_intersect("stop_i", "stop_j"))
        )
    )


def jaccard_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.4,
    max_df: int | float | None = 0.01,
    round_digits: int = 6,
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs (i < j, jac ≥ threshold).

    Plan — **count-from-the-index** (GroupJoin / V-SMART-join shape), no
    per-pair array scans:

    1. split shingles into STOP (document frequency > ``max_df``) and
       non-stop. The stop set is bounded by construction at ANY corpus
       size: Σdf ≤ total tokens T, so |stop| ≤ T/(max_df·n) =
       avg_doc_size/max_df docs-independent (~5 200 entries at the 1%
       default) — always broadcastable, even at 100 TB.
    2. non-stop inverted index → per-shingle buckets (each ≤ ``max_df``
       rows, so the f² expansion is capped) → pairs via two chained JVM
       Generate nodes → ``groupBy (i,j) count`` = EXACT common non-stop
       shingles. No candidate re-verification: the count IS the answer.
    3. per-doc stop-shingle arrays are tiny (≤ |stop|, typically a
       handful); an upper-bound prune ``common_ns + min(n_stop)`` runs
       before any array work, and survivors get the exact correction
       ``size(array_intersect(stop_i, stop_j))`` on those tiny arrays.

    Values are exact: common = common_nonstop + common_stop over the full
    distinct-shingle sets. Only candidate COMPLETENESS weakens, to
    "the pair shares ≥1 non-stop shingle" — a true pair is missed only
    if every single shingle it shares sits in >``max_df`` of the corpus
    (pure boilerplate overlap). ``max_df`` (default 1% of the corpus,
    min 2 docs; int = absolute) set to ``None`` disables the split: the
    exhaustive index is fully exact but one hot shingle then costs f².

    The stop SET is collected driver-side at plan-construction time (a
    bounded statistics pass, like the IVF index build or the rollup
    watermark — NOT a per-row collect). HOW it enters the plan is
    size-dispatched (``_split_stop_tokens``): at or below
    ``STOP_INSET_MAX`` it compiles to an ``InSet`` filter — no freq
    join, no anti-join, no per-doc stop shuffle; above (boilerplate-
    heavy corpora, where the avg_doc_size/max_df bound reaches 10⁵–10⁶)
    it ships as a broadcast DataFrame via anti/semi joins so plan size
    stays independent of |stop|. Either way the data-path shuffles are
    tokens→buckets (by shingle hash) and the pair count (by (i,j)), both
    on fixed-width longs. When the stop set is empty — the common case
    for non-boilerplate corpora — the plan collapses to index → pair
    count → size join → filter."""

    def jac(common: Column) -> Column:
        return common / (F.col("sz_i") + F.col("sz_j") - common)

    return (
        _index_pairs(df, id_col, text_col, k, max_df, jac, threshold, round_digits)
        .withColumn("jaccard", F.round(jac(F.col("common")), round_digits))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | float | None = 0.01,
    round_digits: int = 6,
) -> DataFrame:
    """ASYMMETRIC containment near-dup pairs — c(i→j) = |sh_i ∩ sh_j| /
    |sh_i| — the measure that catches SUB-document duplication (a doc
    quoted wholesale inside a much larger one), which symmetric Jaccard
    structurally misses: for |sh_j| ≫ |sh_i| full containment still has
    jac ≈ |sh_i|/|sh_j| → 0. The LLM-curation use is boilerplate/quote
    screening before training (containment ≥ t ⇒ the smaller doc adds
    no novel n-grams).

    Same count-from-the-index plan as :func:`jaccard_similarity_join`
    (stop-split, bounded buckets, chained Generates, groupBy(i,j) count
    — the shuffles are tokens→buckets and the pair count, both on
    longs, through :func:`_index_pairs`); only the score differs: the
    prune scores common/min(sz) — the larger direction divides by the
    SMALLER set — and the output reports both directions plus the max.
    Exactness contract is the jaccard one verbatim: values exact,
    candidate completeness weakens only for pairs whose every shared
    shingle is stop-frequent.

    Output: (i, j, c_ij, c_ji, containment) with i < j,
    c_ij = common/|sh_i|, containment = max(c_ij, c_ji) ≥ threshold."""
    return (
        _index_pairs(
            df, id_col, text_col, k, max_df,
            lambda c: c / F.least("sz_i", "sz_j"), threshold, round_digits,
        )
        .withColumn("c_ij", F.round(F.col("common") / F.col("sz_i"), round_digits))
        .withColumn("c_ji", F.round(F.col("common") / F.col("sz_j"), round_digits))
        .withColumn("containment", F.greatest("c_ij", "c_ji"))
        .filter(F.col("containment") >= threshold)
        .select("i", "j", "c_ij", "c_ji", "containment")
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
    round_digits: int = 6,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs (i < j, jac >= threshold) via **prefix
    filtering** (PPJoin family, Xiao et al. WWW'08) — the high-threshold
    complement to :func:`jaccard_similarity_join`'s full inverted index.

    Prefix-filter theorem: order every document's shingle set by one
    global total order and keep only the first ``sz - ceil(t*sz) + 1``
    tokens (the *prefix*). Two sets with jaccard >= t MUST share a prefix
    token (the globally-smallest common token sits inside both prefixes,
    else the >= t*max(sz) common tokens would all fit in a suffix of size
    ceil(t*sz)-1 < t*sz). So the inverted index is built over prefixes
    only — at t=0.7 that is ~30% of the token stream, and the candidate
    f² expansion shrinks quadratically with it. Completeness is
    UNCONDITIONAL for any global total order — unlike the full index's
    ``max_df`` recall trade-off, the order choice here tunes bucket
    sizes, never the answer.

    The order is exact rarest-first (ascending document frequency, ties
    by hash): two token-stream shuffles (df window + per-doc rank window)
    buy the minimum candidate count, and no stop-set heuristic is
    involved at all. A canonical hash order computed in the scan stage
    (no df window, no rank shuffle) was measured slower at sf0.1
    (min-of-3, single DAG: df 2.63 s / hash 3.01 s — df yields ~40% fewer
    candidates) and was removed.

    Candidate pruning before the distinct: the PPJoin length filter
    (round(min_sz/max_sz) >= t — jac <= min/max and round is monotone,
    so no rounds-up pair is lost) and the positional filter: a shared
    token at positions (p_i, p_j) of the sorted sets bounds common <=
    min(p_i-1, p_j-1) + 1 + min(sz_i-p_i, sz_j-p_j) (common tokens sort
    identically in both sets), which must reach ceil(t/(1+t)·(sz_i+sz_j)),
    the overlap jac >= t requires. Every occurrence of a true pair passes
    (the bound is valid per occurrence), so filter-then-distinct keeps
    completeness. Survivors get ONE exact ``array_intersect`` verify
    (:func:`_verify_jaccard`) against the persisted signature table.
    Float guards: prefix length and required-overlap ceils subtract 1e-9,
    so noise can only ADD candidates.

    Scale shape: every shuffle carries fixed-width longs — never text."""
    base = _with_shingle_hashes(df, id_col, text_col, k, persist=True)
    tl = F.lit(float(threshold))
    plen = (F.col("sz") - F.ceil(tl * F.col("sz") - F.lit(1e-9)) + 1).cast("int")
    tokens = base.select("id", "sz", F.explode("shh").alias("shingle"))
    # document frequency as an unordered count window: ONE shuffle of
    # the token stream and ONE evaluation of the explode — the
    # groupBy-count + join-back formulation shuffled the stream for
    # the join AND ran a second aggregate pass over the persisted
    # frame (the occurrence-count-filter convention)
    w_df = Window.partitionBy("shingle")
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    pref = (
        tokens.withColumn("df", F.count(F.lit(1)).over(w_df))
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= plen)
        .select("id", "sz", "pos", "shingle")
    )
    req = F.ceil(tl / (F.lit(1.0) + tl) * (F.col("a.sz") + F.col("b.sz")) - F.lit(1e-9))
    pos_ub = (
        F.least(F.col("a.pos"), F.col("b.pos"))
        + F.least(F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos"))
    )
    cands = (
        _bucket_pairs(pref, "shingle", F.struct("id", "sz", "pos"))
        .filter(
            F.round(F.least("a.sz", "b.sz") / F.greatest("a.sz", "b.sz"), round_digits) >= tl
        )
        # min(p_i-1, p_j-1) + 1 == least(pos) since positions are 1-based
        .filter(req <= pos_ub)
        .select(F.least("a.id", "b.id").alias("i"), F.greatest("a.id", "b.id").alias("j"))
        .distinct()
    )
    return _verify_jaccard(cands, base, threshold, round_digits)


# --- MinHash LSH near-dup pairs --------------------------------------------------

def optimal_lsh_params(
    threshold: float,
    num_hashes: int = 126,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """(bands, rows_per_band) minimizing ``fp_weight·∫₀ᵗ P(candidate) +
    fn_weight·∫ₜ¹ (1−P(candidate))`` over the S-curve
    ``P(candidate | j) = 1−(1−j^r)^b`` — the datasketch
    ``_optimal_param`` method (public). The FP integral weights the cost
    of verifying below-threshold candidates (the dominant cost at scale:
    every false candidate pays the exact array-intersect join); the FN
    integral weights missed true pairs. Driver-side closed-loop math
    over ≤ num_hashes (b, r) splits — no Spark work.

    Feed the result to :func:`minhash_lsh_pairs` (``rows_per_band``), or
    pass ``rows_per_band="auto"`` there to have it applied with the
    default equal weights. The module default H=126/r=3 is this
    optimizer's own answer at threshold≈0.4 with verification-heavy
    weights — the docstring trade below, now derivable instead of
    hand-picked."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    n_steps = 1000

    def _fp(b: int, r: int) -> float:
        # ∫₀ᵗ 1-(1-j^r)^b dj (midpoint rule)
        w = threshold / n_steps
        return sum(
            (1.0 - (1.0 - ((i + 0.5) * w) ** r) ** b) * w for i in range(n_steps)
        )

    def _fn(b: int, r: int) -> float:
        w = (1.0 - threshold) / n_steps
        return sum(
            (1.0 - (1.0 - (threshold + (i + 0.5) * w) ** r) ** b) * -w + w
            for i in range(n_steps)
        )

    best, best_err = (num_hashes, 1), float("inf")
    # only exact splits: the signature machinery reshapes the full
    # H-length signature into (b, r), so r must divide num_hashes
    for r in range(1, num_hashes + 1):
        if num_hashes % r != 0:
            continue
        b = num_hashes // r
        err = fp_weight * _fp(b, r) + fn_weight * _fn(b, r)
        if err < best_err:
            best, best_err = (b, r), err
    return best


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 126,
    rows_per_band: int | str = 3,
    threshold: float = 0.4,
    round_digits: int = 6,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, exact-Jaccard verification.

    Banding trade (P(candidate) = 1-(1-j^r)^b):
    - default H=126, r=3 (42 bands): recall 0.94 at j=0.4, ≥0.9996 at
      j≥0.5, ≈1-1e-24 at j=0.9 — while background pairs (j≈0.02) become
      candidates with p≈3e-4, i.e. ~75× fewer false candidates to verify
      than r=2 (the verification join on shingle arrays is the dominant
      cost at every scale);
    - r=2 (b=64) pushes recall at exactly j=0.4 to 1-1e-5 if the corpus
      has borderline pairs — pass rows_per_band=2 then;
    - rows_per_band="auto" derives (b, r) from ``threshold`` via
      :func:`optimal_lsh_params` (equal FP/FN weights) instead of the
      fixed default — use when the threshold moves away from 0.4.
    Verified output equals the exact join's when no pair sits in the
    low-recall band (asserted against the exact operator in tests)."""
    if rows_per_band == "auto":
        _, rows_per_band = optimal_lsh_params(threshold, num_hashes)
    base = _with_shingle_hashes(df, id_col, text_col, k, persist=True)
    band_udf = minhash_band_keys_udf(num_hashes, rows_per_band)
    bands = base.select("id", F.posexplode(band_udf("shh")).alias("band", "key"))
    l = bands.select(F.col("id").alias("i"), "band", "key")
    r = bands.select(F.col("id").alias("j"), "band", "key")
    candidates = (
        l.join(r, ["band", "key"]).filter(F.col("i") < F.col("j")).select("i", "j").distinct()
    )
    return _verify_jaccard(candidates, base, threshold, round_digits)


# --- SimHash near-dup pairs --------------------------------------------------------

def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int = 4,
    token_hash: Callable[[Column], Column] | None = None,
    n_bits: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs (hamming(simhash_i, simhash_j) ≤ max_hamming).

    Pigeonhole candidates: split ``n_bits`` bits into ``n_chunks`` chunks —
    hamming ≤ n_chunks-1 guarantees an exact match on ≥1 chunk, so the
    self-join key is (chunk_idx, chunk_value). Verification is one
    bit_count(a ^ b). Requires max_hamming < n_chunks for exactness."""
    bits_per = n_bits // n_chunks
    mask = (1 << bits_per) - 1
    base = with_simhash64(
        _spread(df.select(F.col(id_col).alias("id"), text_col)),
        text_col,
        token_hash=token_hash,
        n_bits=n_bits,
    )
    chunks = base.select(
        "id",
        "sh64",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("sh64"), c * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("cval"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select("id", "sh64", "ck.chunk", "ck.cval")
    l = chunks.select(F.col("id").alias("i"), F.col("sh64").alias("h_i"), "chunk", "cval")
    r = chunks.select(F.col("id").alias("j"), F.col("sh64").alias("h_j"), "chunk", "cval")
    return (
        l.join(r, ["chunk", "cval"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j", F.bit_count(F.expr("h_i ^ h_j")).alias("hamming"))
        # verify BEFORE the dedup shuffle: hamming is determined by (i, j),
        # so filtering first is semantics-preserving and cuts the distinct's
        # input from Σ bucket² candidates to just the near-pairs (a corpus
        # with dense buckets was paying the full candidate volume through
        # the exchange — 57M rows at the 10x bench before this reorder)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- embedding near-dup -----------------------------------------------------------

def _probe_clusters_udf(centroids: np.ndarray, n_probe: int):
    """array<float> embedding → array<int> of its n_probe nearest centroid
    ids (cosine), Arrow-batched: one (batch, k) matmul per batch against
    the captured centroid matrix."""
    c = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(c, axis=1)
    p = int(n_probe)

    @F.pandas_udf("array<int>")
    def _probes(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        sims = (m @ c.T) / (np.linalg.norm(m, axis=1)[:, None] * cn[None, :])
        top = np.argsort(-sims, axis=1)[:, :p]
        return pd.Series([row.tolist() for row in top])

    return _probes


def embedding_near_dup_clustered(
    ivf_index,
    threshold: float = 0.4,
    round_digits: int = 6,
    n_probe: int = 1,
    n_salt: int = 8,
) -> DataFrame:
    """Scale path for embedding near-dup: compare only pairs sharing an IVF
    cluster — an EQUI-join keyed on cluster_id (shuffle-partitioned,
    O(Σ cluster·probe) compare, never a cartesian/nested-loop product).

    ``n_probe`` multi-assigns each left-side point to its n_probe nearest
    centroids, recovering pairs that straddle a cluster boundary — the same
    recall/cost knob as IVF search's n_probe. ``n_probe = n_clusters`` is
    EXACT (every point probes every cluster, so each pair meets in the
    right member's home cluster) while the plan stays the same equi-join;
    that is the oracle-checkable configuration. At 100 TB use small
    n_probe: work is Σ_c |c|·|probed into c| ≈ n_probe/k of the full n².

    ``n_salt``: cluster_id alone is a LOW-CARDINALITY join key (k values →
    at most k active shuffle partitions regardless of cluster size), so the
    probe side also carries ``hash(id) % n_salt`` and the home side is
    replicated across all salts — k·n_salt partitions, each pair still
    meets exactly once (the probing row's salt is a function of its id).
    The home side shuffles n_salt× more vector bytes; that is the price of
    intra-cluster parallelism."""
    from chatdata_spark.functions.vector import dot_product, vector_norm

    # per-point norms are materialized ONCE below the join (a layered
    # select under the explode/generate barrier, so CollapseProject can't
    # inline the aggregate back into the per-pair expression — the O(n²·d)
    # trap this repo has hit before): the per-pair work is one dot product.
    # dot/(n_i·n_j) is bit-identical to the oracle's direct cosine (same
    # accumulation order, float multiply is commutative).
    # _data_path(), NOT '{path}/data': compact() swaps the committed tree
    # to a versioned data_vN dir (and sweeps stale trees), so hardcoding
    # the legacy name breaks — or worse, silently reads a stale
    # pre-compact tree containing tombstoned rows
    df = ivf_index.spark.read.parquet(ivf_index._data_path())
    pts = df.select(
        F.col(ivf_index.id_col).alias("id"),
        F.col(ivf_index.vector_col).alias("v"),
        F.col("cluster_id").alias("home"),
    ).select("id", "v", "home", vector_norm("v").alias("nrm"))
    salts = F.array(*[F.lit(s) for s in range(n_salt)])
    b = pts.select(
        F.col("home").alias("cluster_id"),
        F.col("id").alias("j"),
        F.col("v").alias("v_j"),
        F.col("nrm").alias("n_j"),
        F.explode(salts).alias("__salt"),
    )
    join_key = ["cluster_id", "__salt"]
    a_salt = F.pmod(F.xxhash64(F.col("id")), F.lit(n_salt)).cast("int").alias("__salt")
    sim = F.round(
        dot_product(F.col("v_i"), F.col("v_j")) / (F.col("n_i") * F.col("n_j")), round_digits
    )
    if n_probe >= ivf_index.n_clusters:
        # Exact config, triangular probe: pair (a,b) with homes h_a ≤ h_b
        # meets exactly once, in h_a (same-home pairs de-duped by id order).
        # Candidate GENERATION runs as one numpy GEMM per (cluster, salt)
        # group — a per-pair JVM dot product here is O(pairs·d) interpreted
        # lambda frames (~1 µs each), which is the whole runtime at n²/2
        # pairs. The GEMM screens at (threshold − 1e-5): a raw value down to
        # threshold − 5e-7 still rounds UP into the result set, and numpy's
        # blocked float64 summation differs from sequential by ≪ 1e-9, so no
        # true pair can be screened out. Survivors (tiny by construction)
        # are then re-scored with the SAME-operand-order JVM expression the
        # oracle uses — candidate search is approximate-fast, reported
        # values stay bit-exact.
        owners = pts.select(
            F.col("home").alias("cluster_id"),
            F.explode(salts).alias("__salt"),
            F.lit(0).alias("role"),
            "id",
            "v",
        )
        visitors = pts.filter(F.col("home") > 0).select(
            F.explode(F.sequence(F.lit(0), F.col("home") - 1)).alias("cluster_id"),
            a_salt,
            F.lit(1).alias("role"),
            "id",
            "v",
        )
        margin = threshold - 10.0 ** (-round_digits + 1)

        def _gemm_candidates(key, pdf):
            m = np.array(pdf["v"].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(m, axis=1)
            nrm[nrm == 0.0] = 1.0
            m = m / nrm[:, None]
            ids = pdf["id"].to_numpy()
            own = (pdf["role"].to_numpy() == 0)
            omat, vmat = m[own], m[~own]
            oid, vid = ids[own], ids[~own]
            lo, hi = [], []
            if int(key[1]) == 0 and len(oid) > 1:
                s = omat @ omat.T
                ii, jj = np.nonzero(np.triu(s >= margin, k=1))
                lo.append(np.minimum(oid[ii], oid[jj]))
                hi.append(np.maximum(oid[ii], oid[jj]))
            if len(oid) and len(vid):
                s = vmat @ omat.T
                ii, jj = np.nonzero(s >= margin)
                lo.append(np.minimum(vid[ii], oid[jj]))
                hi.append(np.maximum(vid[ii], oid[jj]))
            if not lo:
                return pd.DataFrame({"i": [], "j": []}).astype("int64")
            return pd.DataFrame(
                {"i": np.concatenate(lo), "j": np.concatenate(hi)}
            )

        cand = (
            owners.unionByName(visitors)
            .groupBy("cluster_id", "__salt")
            .applyInPandas(_gemm_candidates, "i long, j long")
        )
        p_i = pts.select(
            F.col("id").alias("i"), F.col("v").alias("v_i"), F.col("nrm").alias("n_i")
        )
        p_j = pts.select(
            F.col("id").alias("j"), F.col("v").alias("v_j"), F.col("nrm").alias("n_j")
        )
        return (
            cand.join(p_i, "i")
            .join(p_j, "j")
            .withColumn("cos_sim", sim)
            .filter(F.col("cos_sim") >= threshold)
            .select("i", "j", "cos_sim")
        )
    if n_probe <= 1:
        a = pts.select(
            F.col("home").alias("cluster_id"),
            F.col("id").alias("i"),
            F.col("v").alias("v_i"),
            F.col("nrm").alias("n_i"),
            a_salt,
        )
    else:
        probes = _probe_clusters_udf(ivf_index.centroids, n_probe)
        a = pts.select(
            F.col("id").alias("i"),
            F.col("v").alias("v_i"),
            F.col("nrm").alias("n_i"),
            a_salt,
            F.explode(probes(F.col("v"))).alias("cluster_id"),
        )
    pairs = (
        a.join(b, join_key)
        .filter(F.col("i") < F.col("j"))
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("i", "j", "cos_sim")
    )
    # multi-probe can meet the same pair in >1 cluster; sim is identical, so
    # a distinct on the output tuple dedupes without a second shuffle key
    return pairs.distinct() if n_probe > 1 else pairs


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine near-duplicate pairs over an embedding column.

    This is the verification-grade O(n²) compare (range self-join on id to
    halve work); at 100 TB run :func:`embedding_near_dup_clustered` so the
    compare is partitioned by cluster, not a single nested-loop product."""
    from chatdata_spark.functions.vector import dot_product, vector_norm

    pts = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).select(
        "id", "v", vector_norm("v").alias("nrm")
    )
    a = pts.select(F.col("id").alias("i"), F.col("v").alias("v_i"), F.col("nrm").alias("n_i"))
    b = pts.select(F.col("id").alias("j"), F.col("v").alias("v_j"), F.col("nrm").alias("n_j"))
    sim = dot_product(F.col("v_i"), F.col("v_j")) / (F.col("n_i") * F.col("n_j"))
    return (
        a.join(b, F.col("i") < F.col("j"))
        .withColumn("cos_sim", F.round(sim, round_digits))
        .filter(F.col("cos_sim") >= threshold)
        .select("i", "j", "cos_sim")
    )

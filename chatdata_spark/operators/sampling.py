"""Deterministic sampling / splitting for training-data curation
(north-star extension).

All sampling here is **hash-based, not RNG-based**: membership of a row
depends only on (salt, key), so samples are reproducible across reruns,
engines, partitionings and cluster sizes — the property a 100 TB curation
pipeline actually needs (``df.sample()`` draws differ per partition
layout). The hash is md5 (hex → uint32 bucket) because every SQL engine
agrees on it, making the operators oracle-checkable.

- ``hash_sample``: keep ≈fraction of rows (exact membership function).
- ``train_val_test_split``: disjoint split assignment by bucket ranges.
- ``stratified_quota``: top-N rows per stratum in hash order — balanced
  quotas without a global sort (one window per stratum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 1 << 32  # md5 prefix is parsed as a uint32


def hash_bucket(key, salt: str = "") -> Column:
    """Deterministic uniform bucket in [0, 2^32) from md5(salt || key)."""
    k = F.col(key) if isinstance(key, str) else key
    return F.conv(F.substring(F.md5(F.concat(F.lit(salt), k.cast("string"))), 1, 8), 16, 10).cast(
        "bigint"
    )


def hash_sample(df: DataFrame, key_col: str, fraction: float, salt: str = "s") -> DataFrame:
    """Keep rows whose bucket falls below fraction·2³² — same rows every
    run, any engine, any partitioning."""
    return df.filter(hash_bucket(key_col, salt) < int(fraction * BUCKETS))


def train_val_test_split(
    df: DataFrame, key_col: str, val_fraction: float = 0.1, test_fraction: float = 0.1, salt: str = "split"
) -> DataFrame:
    """Disjoint deterministic split assignment as a ``split`` column."""
    b = hash_bucket(key_col, salt)
    val_hi = int(val_fraction * BUCKETS)
    test_hi = val_hi + int(test_fraction * BUCKETS)
    return df.withColumn(
        "split",
        F.when(b < val_hi, "val").when(b < test_hi, "test").otherwise("train"),
    )


def leakage_safe_split(
    df: DataFrame,
    key_col: str,
    pairs: DataFrame,
    val_fraction: float = 0.1,
    test_fraction: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Near-dup-aware train/val/test split: hash the CANONICAL (connected-
    component) id instead of the row key, so every near-dup cluster lands
    wholly on one side — the train/test-leakage guard a plain key-hash
    split lacks (a document and its near-copy on opposite sides of an
    eval split is contamination exactly like benchmark decontam, but
    INTERNAL to the corpus). ``pairs`` is any (i, j) near-dup pair frame
    from operators/dedup.py; composition: pairs → transitive closure
    (operators/components.py) → bucket split on the component minimum.
    Returns ``df`` with (canonical_id, keep, split) added — all input
    columns survive (the assignment frame is joined back on ``key_col``;
    one equi-join shuffle, the scale-correct shape since the assignment
    is df-sized). Split fractions apply to CLUSTERS, which for typical
    dup rates (≪ cluster-size skew) lands within noise of the row-level
    fractions."""
    from chatdata_spark.operators.components import canonical_assignment

    canon = canonical_assignment(df, key_col, pairs)
    assigned = train_val_test_split(
        canon, "canonical_id", val_fraction, test_fraction, salt
    )
    return df.join(assigned, key_col)


def stratified_quota(
    df: DataFrame, strata_cols: list[str], n_per_stratum: int, key_col: str, salt: str = "q"
) -> DataFrame:
    """First ``n_per_stratum`` rows per stratum in hash order — a balanced
    deterministic subsample (per-language / per-source quotas)."""
    w = Window.partitionBy(*strata_cols).orderBy(hash_bucket(key_col, salt).asc(), F.col(key_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= n_per_stratum).drop("__rn")


def domain_mixture(
    df: DataFrame,
    domain_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Weighted domain mixing: keep each domain's rows at its own sampling
    rate (the 'data mixture' step of training-corpus assembly — e.g. keep
    100% of books, 30% of web, 5% of logs). Deterministic hash membership
    per row, so the mixture is reproducible and composable with splits that
    use a different salt; domains absent from ``rates`` get
    ``default_rate``. One scan, no shuffle: the rate lookup is a literal
    CASE chain and membership a scan-stage filter."""
    d = F.col(domain_col)
    rate = None
    for dom, r in sorted(rates.items()):
        rate = (F.when(d == dom, F.lit(float(r))) if rate is None else rate.when(d == dom, F.lit(float(r))))
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(F.lit(float(default_rate)))
    threshold = (rate * F.lit(float(BUCKETS))).cast("bigint")
    return df.filter(hash_bucket(key_col, salt) < threshold)


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: Column | str,
    n: int,
    salt: str = "w",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    row i gets exponential key ``e_i = -ln(u_i)/w_i`` with ``u_i``
    deterministic from md5(salt||key); the n smallest e_i are a weighted
    sample without replacement (inclusion probability proportional to
    weight, the quality-score-weighted corpus-selection primitive).

    Deterministic like every sampler here — same rows any run, engine, or
    partition layout. A top-n (TakeOrderedAndProject: each partition keeps
    its local n, never a global sort). Rows with weight <= 0 are excluded
    (they have no valid key)."""
    w = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast("double")
    u = (hash_bucket(key_col, salt) + 1).cast("double") / F.lit(float(BUCKETS))
    e = -F.log(u) / w
    pos = df.filter(w > 0).withColumn("__e", e)
    return pos.orderBy(F.col("__e").asc(), F.col(key_col).asc()).limit(int(n)).drop("__e")


def shard_assignment(df: DataFrame, key_col: str, n_shards: int, salt: str = "shard") -> DataFrame:
    """Deterministic shard id + within-shard shuffle key for training-data
    export: ``shard = bucket % n_shards`` and ``shuffle_key = bucket`` from
    one md5 evaluation. Rows land on the same shard in the same relative
    order on every engine, rerun, and partition layout — the global
    deterministic shuffle a training run needs WITHOUT a global sort: the
    writer sorts within shards only (n_shards independent sorts), and
    readers consuming shards round-robin see a hash-shuffled stream."""
    b = hash_bucket(key_col, salt)
    return (
        df.withColumn("__b", b)
        .withColumn("shard", F.pmod(F.col("__b"), F.lit(n_shards)).cast("int"))
        .withColumn("shuffle_key", F.col("__b"))
        .drop("__b")
    )


def temperature_rates(
    counts: dict[str, int], alpha: float, target_total: int
) -> dict[str, float]:
    """Per-domain keep rates for temperature-scaled mixing: target share
    p_d ∝ n_d^alpha (alpha<1 UP-samples small domains relative to their
    natural share — the multilingual/mixture-rebalancing recipe), keep
    rate r_d = min(1, target_total·p_d / n_d). Pure driver-side float
    math over |domains| scalars, shared verbatim by operators and oracles
    so both sides inline the identical rate literals."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    doms = sorted(counts)
    weights = {d: float(counts[d]) ** float(alpha) for d in doms}
    z = sum(weights[d] for d in doms)
    if z <= 0.0:
        return {d: 0.0 for d in doms}
    return {
        d: min(1.0, float(target_total) * (weights[d] / z) / float(counts[d]))
        for d in doms
        if counts[d] > 0
    }


def temperature_mixture(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    alpha: float,
    target_total: int,
    salt: str = "mixt",
) -> tuple[DataFrame, dict[str, float]]:
    """Temperature-scaled domain mixture: measure domain sizes (one
    map-side-combined agg collecting |domains| scalars — bounded by the
    source catalog, never by rows), derive n^alpha-proportional keep
    rates, filter by deterministic hash membership. Returns (mixed df,
    rates) so callers can log the realized mixture. One scan + one tiny
    agg; the filter is scan-stage, so at 100 TB the cost is the count
    pass plus a pushed-down predicate."""
    # NULL domain keys fall through to default_rate=0.0 in domain_mixture;
    # keeping None in the dict would break temperature_rates' sorted() on
    # mixed None/str keys (ADVICE r6).
    counts = {
        r[0]: r[1]
        for r in df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n")).collect()
        if r[0] is not None
    }
    rates = temperature_rates(counts, alpha, target_total)
    return domain_mixture(df, domain_col, rates, key_col, default_rate=0.0, salt=salt), rates


def budget_prefix_sample(
    df: DataFrame,
    group_col: str,
    cost_col: str,
    quota_col,
    id_col: str,
    salt: str = "budget",
) -> DataFrame:
    """Budget-constrained greedy prefix selection per group — the
    "fill a fixed token budget with ratio-matched sources" step of a
    pretraining data recipe (the budgeted counterpart of
    :func:`temperature_mixture`, which reweights but doesn't cap):
    within each group, rank rows by the deterministic md5 bucket of
    ``id_col`` (hash order = an unbiased shuffle both engines replay),
    take the running-``cost_col``-sum prefix that fits ``quota_col``.

    A row is kept iff its INCLUSIVE running cost ≤ quota (the classic
    greedy prefix; the first over-budget row and everything after it
    drop). One window exchange per group — no collects, no loops;
    quota arrives as a per-row Column so callers derive it from
    weights/budget arithmetic kept exactly-integer on both engines."""
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(id_col), salt).asc(), F.col(id_col).asc()
    )
    run = df.withColumn("__cum", F.sum(F.col(cost_col)).over(w))
    return run.filter(F.col("__cum") <= quota_col).drop("__cum")


def epoch_upsample(
    df: DataFrame,
    repeat_col,
    id_col: str,
    salt: str = "epoch",
    copy_col: str = "copy",
) -> DataFrame:
    """Fractional repeat-factor upsampling — the "source X gets 2.4
    epochs" knob of pretraining mixtures (integer part = guaranteed
    copies; fractional part = a deterministic hash-Bernoulli extra copy
    per row, so the EXACT expected rate is hit without RNG): row i with
    factor r gets floor(r) + [md5bucket(i) < frac(r)·2^32] copies,
    exploded with a ``copy`` index (1-based). frac(r) must come from an
    EXACT decimal/integer expression on both engines — a float
    ``r - floor(r)`` off by 1 ulp flips hash-boundary rows.

    Scan-stage explode — fan-out is the repeat factor itself, no
    shuffle; downstream shuffles see the upsampled stream exactly as a
    physical corpus would look."""
    n_int = F.floor(repeat_col).cast("long")
    frac_thresh = ((repeat_col - F.floor(repeat_col)) * F.lit(float(BUCKETS))).cast("long")
    n_copies = n_int + (hash_bucket(F.col(id_col), salt) < frac_thresh).cast("long")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(1), F.col("__n"))))
        .drop("__n")
    )

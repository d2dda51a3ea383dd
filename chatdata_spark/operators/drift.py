"""Distribution-drift monitoring between two table snapshots — the
Population Stability Index (PSI), the standard production check that a
training corpus / feature column still looks like the reference snapshot
it was validated against (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25
shifted — the credit-scoring rule of thumb the data-validation literature
reuses).

Spark-first shape: ONE aggregation per snapshot over fixed bin ids
(map-side combined, |bins| rows out), a full outer merge of the two
|bins|-row frames, then per-bin PSI terms as JVM expressions. Nothing
row-sized leaves the scan stage; at 100 TB each snapshot contributes one
scan + one tiny shuffle.

Determinism: bin edges are COMPUTED IN PYTHON from two collected scalars
(min/max of the reference snapshot — a bounded 1-row agg) and inlined as
float64 literals, per the CLAUDE.md bucket-boundary convention; bin
counts are exact integers; the smoothed proportions and ``(p - q) *
ln(p / q)`` terms use the same float64 operation order on both engines
(ln parity is already relied on by the A-ES weighted-sample oracle) and
are rounded to 6 digits, the distance convention.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fixed_bin_edges(lo: float, hi: float, n_bins: int) -> list[float]:
    """Equal-width bin edges computed in pure Python — the shared literal
    source for the operator AND any SQL oracle (never compute boundaries
    engine-side: float ulp differences at a boundary flip a row's bin)."""
    lo, hi = float(lo), float(hi)
    if not hi > lo:
        raise ValueError("fixed_bin_edges: hi must exceed lo")
    w = (hi - lo) / float(n_bins)
    return [lo + w * i for i in range(1, n_bins)]


def bin_id(col: Column, edges: list[float]) -> Column:
    """0-based bin index for pre-computed ``edges`` (left-closed bins;
    values beyond either end clamp into the edge bins, so a drifted tail
    lands in the outermost bin instead of vanishing)."""
    b = F.lit(len(edges))  # start at the last bin, walk down
    out = b
    for i in range(len(edges) - 1, -1, -1):
        out = F.when(col < F.lit(edges[i]), F.lit(i)).otherwise(out)
    return out.cast("long")


def hist_counts(
    df: DataFrame, value_col: str, edges: list[float], out: str = "n"
) -> DataFrame:
    """(bin, out): one map-side-combined histogram aggregate over frozen
    ``edges``. Histogram addition is associative and commutative, so
    count frames from any partition of the data (micro-batches, shards)
    merge additively into the same histogram — the property
    streaming/incremental.py::stream_histogram_merge relies on."""
    v = F.col(value_col).cast("double")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(bin_id(v, edges).alias("bin"))
        .agg(F.count(F.lit(1)).alias(out))
    )


def psi_from_counts(rc: DataFrame, cc: DataFrame, n_edges: int) -> DataFrame:
    """(bin, n_ref, n_cur, psi_term) + total row (bin = -1) from two
    (bin, n_ref) / (bin, n_cur) count frames over the SAME ``n_edges``-edge
    binning — the tail of :func:`psi_report`, exposed so streaming-merged
    histograms feed the identical arithmetic.

    Deviation from the textbook definition, by design: bins empty in BOTH
    snapshots are absent from the count frames and contribute no smoothed
    term. When total counts differ (tr != tc) a textbook Laplace-smoothed
    PSI over all B bins would add a small nonzero term per such bin; here
    the total excludes them (it is exactly the sum over OBSERVED bins).
    This keeps the operator a pure function of the count frames — mergeable
    micro-batch histograms never have to agree on a bin spine — and the
    excluded terms are smoothing artifacts of empty cells, not evidence of
    drift. Oracles mirror this shape."""
    bins = n_edges + 1
    base = (
        rc.join(cc, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    # totals as 1-row broadcast scalars (benign: two longs)
    tot = base.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    merged = base.crossJoin(F.broadcast(tot))
    p = (F.col("n_ref") + F.lit(1.0)) / (F.col("tr") + F.lit(float(bins)))
    q = (F.col("n_cur") + F.lit(1.0)) / (F.col("tc") + F.lit(float(bins)))
    term = F.round((p - q) * F.log(p / q), 6).alias("psi_term")
    per_bin = merged.select("bin", "n_ref", "n_cur", term)
    # total PSI via exact decimal sum (a float sum over the bin rows would
    # be partition-order-dependent in its last ulp — the money convention)
    total = per_bin.agg(
        F.lit(-1).cast("long").alias("bin"),
        F.sum("n_ref").alias("n_ref"),
        F.sum("n_cur").alias("n_cur"),
        F.sum(F.col("psi_term").cast("decimal(18,6)")).cast("double").alias("psi_term"),
    )
    return per_bin.unionByName(total).orderBy("bin")


def psi_report(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """(bin, n_ref, n_cur, psi_term) + total row (bin = -1): smoothed
    Population Stability Index between the reference and current
    snapshots of ``value_col``.

    The bins are ``n_bins`` equal-width bins over the REFERENCE min/max
    (one bounded 2-scalar collect). Laplace-smoothed proportions
    ``p = (c + 1) / (n + B)`` keep empty bins finite. NULL values are
    dropped (missing-value drift is a data-quality rule, not a
    distribution shift)."""
    r = ref.filter(F.col(value_col).isNotNull())
    c = cur.filter(F.col(value_col).isNotNull())
    row = r.agg(
        F.min(F.col(value_col).cast("double")).alias("lo"),
        F.max(F.col(value_col).cast("double")).alias("hi"),
    ).collect()[0]
    if row.lo is None:
        raise ValueError("psi_report: empty reference snapshot")
    # degenerate constant reference: one bin (everything drifts into it)
    edges = fixed_bin_edges(row.lo, row.hi, n_bins) if row.hi > row.lo else []
    rc = hist_counts(r, value_col, edges, out="n_ref")
    cc = hist_counts(c, value_col, edges, out="n_cur")
    return psi_from_counts(rc, cc, len(edges))


def psi_categorical(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
) -> DataFrame:
    """(category, n_ref, n_cur, psi_term) + total row (category = NULL):
    PSI over a CATEGORICAL column — the language/source-mix drift check,
    where numeric binning is replaced by the exact category key.
    Categories present in either snapshot participate (a category that
    appears or vanishes contributes its full smoothed term — exactly the
    drift being hunted); NULL category values are dropped like NULL
    numerics. The Laplace denominator addend is the observed category
    count, mirroring the numeric path's bin count. Same shape as the
    numeric path: one map-side-combined count per snapshot, a
    |categories|-row merge, exact-decimal total."""
    rc = (
        ref.filter(F.col(cat_col).isNotNull())
        .groupBy(F.col(cat_col).alias("category"))
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    cc = (
        cur.filter(F.col(cat_col).isNotNull())
        .groupBy(F.col(cat_col).alias("category"))
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    base = (
        rc.join(cc, "category", "full_outer")
        .select(
            "category",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    n_smooth = base.count()  # bounded: the category-set size
    tot = base.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    merged = base.crossJoin(F.broadcast(tot))
    p = (F.col("n_ref") + F.lit(1.0)) / (F.col("tr") + F.lit(float(n_smooth)))
    q = (F.col("n_cur") + F.lit(1.0)) / (F.col("tc") + F.lit(float(n_smooth)))
    term = F.round((p - q) * F.log(p / q), 6).alias("psi_term")
    per_cat = merged.select("category", "n_ref", "n_cur", term)
    total = per_cat.agg(
        F.lit(None).cast(per_cat.schema["category"].dataType).alias("category"),
        F.sum("n_ref").alias("n_ref"),
        F.sum("n_cur").alias("n_cur"),
        F.sum(F.col("psi_term").cast("decimal(18,6)")).cast("double").alias("psi_term"),
    )
    return per_cat.unionByName(total).orderBy(F.col("category").asc_nulls_last())


def embedding_centroid_drift(
    ref: DataFrame,
    cur: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
) -> DataFrame:
    """(group_cols..., n_ref, n_cur, cos_shift): per-group drift between
    two snapshots of an embedding column, measured as the cosine
    DISTANCE between the snapshots' centroid directions — the embedding-
    space member of the drift family (PSI: binned scalars; KS: scalar
    CDFs; this: "did source X's semantic center move?", the check that
    catches a topical/content shift that leaves every scalar profile
    column untouched).

    Determinism, by construction:
    - per-dimension component sums use the repo's embedding-sum
      convention (cast float32 components to DECIMAL(27,9), exact sum —
      the kmeans/cluster_balanced_sample precedent), then scale by 10^9
      into EXACT BIGINT per-dimension sums;
    - cosine is scale-invariant, so cos(centroid_ref, centroid_cur) ==
      cos(S_ref, S_cur) on the raw SUM vectors — the 1/n divisions (the
      float ops that would have to happen BEFORE the dot product) cancel
      and are never performed;
    - dot product and squared norms of the integer sum vectors are exact
      DECIMAL(38,0) sums (HUGEINT on DuckDB); the only float ops are the
      final casts + sqrt + multiply + divide, one fixed sequence, so the
      statistic replays bit-exactly cross-engine.
    A group present in only one snapshot (or with a zero-norm side) gets
    NULL cos_shift, with n_ref/n_cur showing which side is missing.

    Scale shape: one posexplode+aggregate per snapshot — the shuffle key
    (group, dim) has |groups|*d cells, map-side combined; everything
    after is |groups|*d-row arithmetic. No corpus-sized join, no
    all-pairs anything; at 100 TB this costs two scans like every other
    drift monitor."""
    # cast to array<double> BEFORE exploding: Spark's float->decimal cast
    # goes through the float32's shortest string form, while DuckDB rounds
    # the exact binary value — double->decimal agrees on both engines
    dims = F.posexplode(F.col(vec_col).cast("array<double>"))

    def sums(df: DataFrame, out: str, nout: str) -> DataFrame:
        expl = df.filter(F.col(vec_col).isNotNull()).select(
            *group_cols, dims.alias("dim", "comp")
        )
        # per-component fixed-point integer: round(comp, 9) * 10^9 — the
        # decimal(18,9) cast is the rounding step (exact thereafter), so
        # the per-dim sum is a plain exact integer aggregate
        c9 = (F.col("comp").cast("decimal(18,9)") * F.lit(1_000_000_000)).cast(
            "decimal(38,0)"
        )
        return (
            expl.groupBy(*group_cols, "dim")
            .agg(
                F.sum(c9).cast("decimal(38,0)").alias(out),
                F.count(F.lit(1)).alias(nout),
            )
        )
    a = sums(ref, "sr", "nr")
    b = sums(cur, "sc", "nc")
    per_dim = a.join(b, [*group_cols, "dim"], "full_outer").select(
        *group_cols,
        F.coalesce("sr", F.lit(0).cast("decimal(38,0)")).alias("sr"),
        F.coalesce("sc", F.lit(0).cast("decimal(38,0)")).alias("sc"),
        F.coalesce("nr", F.lit(0)).alias("nr"),
        F.coalesce("nc", F.lit(0)).alias("nc"),
    )
    agg = per_dim.groupBy(*group_cols).agg(
        F.max("nr").alias("n_ref"),
        F.max("nc").alias("n_cur"),
        F.sum(F.col("sr") * F.col("sc")).cast("decimal(38,0)").alias("dot"),
        F.sum(F.col("sr") * F.col("sr")).cast("decimal(38,0)").alias("rr"),
        F.sum(F.col("sc") * F.col("sc")).cast("decimal(38,0)").alias("cc"),
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("rr").cast("double")) * F.sqrt(F.col("cc").cast("double"))
    )
    return agg.select(
        *group_cols,
        "n_ref",
        "n_cur",
        F.when(
            (F.col("rr") > 0) & (F.col("cc") > 0), F.lit(1.0) - cos
        ).alias("cos_shift"),
    )

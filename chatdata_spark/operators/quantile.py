"""Mergeable histogram quantiles: fixed-bin counts as the aggregation
state, interpolated quantile estimates as the read-side combine.

Why not `percentile_approx`: its sketch state isn't exposed for
incremental merge, and its estimates aren't reproducible across engines.
Fixed-bin histograms are the simplest mergeable quantile state — counts
add across partitions, refreshes, and streams (the rollup.py partial-merge
pattern applies verbatim), error is bounded by bin width, and the estimate
arithmetic is plain enough to reproduce bit-for-bit in any SQL engine
(which is how the oracle checks it).

Plan shape: one map-side-combined groupBy on (group, bin) — the shuffle
carries at most |groups| x n_bins rows regardless of input size — then a
tiny window pass over the histogram for the cumulative crossing points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hist_counts(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Mergeable state: (group, bin, cnt). Values outside [lo, hi) clamp to
    the edge bins (same rule on merge, so clamping commutes with union).
    `least/greatest` would silently pass a NULL through (CLAUDE.md gotcha),
    so the clamp filters NULLs first."""
    width = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("long")
    bin_ = F.when(raw < 0, F.lit(0)).when(raw >= n_bins, F.lit(n_bins - 1)).otherwise(raw)
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantiles_from_hist(
    hist: DataFrame,
    group_cols: list[str],
    lo: float,
    hi: float,
    n_bins: int,
    ps: list[float],
    round_digits: int = 6,
) -> DataFrame:
    """Interpolated quantile estimates from histogram state.

    For each p: target = p * total; the crossing bin B is the unique bin
    with cum_prev < target <= cum; estimate = lo + width * (B + (target -
    cum_prev) / cnt_B). Every float op has a fixed operand order, so a SQL
    oracle reproduces the estimate exactly."""
    width = (hi - lo) / n_bins
    w = Window.partitionBy(*group_cols).orderBy("bin")
    wt = Window.partitionBy(*group_cols)
    h = hist.select(
        *group_cols,
        "bin",
        "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_prev"),
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("total"),
    )
    aggs = []
    for p in ps:
        target = F.lit(p) * F.col("total").cast("double")
        est = F.lit(lo) + F.lit(width) * (
            F.col("bin").cast("double")
            + (target - F.col("cum_prev").cast("double")) / F.col("cnt").cast("double")
        )
        crossing = (F.col("cum_prev").cast("double") < target) & (
            target <= F.col("cum").cast("double")
        )
        name = f"p{int(round(p * 100))}"
        aggs.append(F.round(F.max(F.when(crossing, est)), round_digits).alias(name))
    return h.groupBy(*group_cols).agg(*aggs)

"""Driver queries for the time-series operators (as-of join, sessionize)
plus percentile stats — all oracle-checked (DuckDB 1.0 has native ASOF
JOIN to validate the window formulation against)."""

from __future__ import annotations

from pyspark.sql import functions as F

from chatdata_spark.catalog import load_events
from chatdata_spark.operators.timeseries import asof_join, sessionize
from chatdata_spark.registry import query


_ASOF_ORACLE = """
    WITH clicks AS (
        SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
        QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ),
    purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           c.event_id AS asof_event_id,
           CAST(c.value AS DOUBLE) AS asof_value
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
    ORDER BY p.event_id
    """


def _asof_purchase_click(spark, sf_dir, slice_width=None):
    """Each purchase paired with the user's latest prior (or simultaneous)
    click: the body of both as-of queries, which differ only in
    ``slice_width``."""
    e = load_events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id", "value")
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        ts_col="ts",
        payload_cols=["event_id", "value"],
        tie_break="event_id",
        slice_width=slice_width,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_event_id"),
        F.col("asof_value").cast("double"),
    ).orderBy("event_id")


@query("asof_join_purchase_click", oracle=_ASOF_ORACLE)
def asof_join_purchase_click(spark, sf_dir):
    """As-of join: each purchase paired with the user's latest prior (or
    simultaneous) click — single-shuffle union+window merge formulation,
    validated against DuckDB's native ASOF JOIN."""
    return _asof_purchase_click(spark, sf_dir)


_SESSIONIZE_ORACLE = """
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, event_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS INT) AS session_idx
        FROM marked
    )
    SELECT user_id, session_idx, COUNT(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
"""


def _session_counts(spark, sf_dir, slice_width=None):
    """30-minute gap sessions with their event count and bounds: the body
    of both sessionize queries, which differ only in ``slice_width``."""
    e = load_events(spark, sf_dir)
    s = sessionize(e, "user_id", "ts", gap_minutes=30.0, order_tiebreak="event_id",
                   slice_width=slice_width)
    return (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_idx")
    )


@query("sessionize_events", oracle=_SESSIONIZE_ORACLE)
def sessionize_events(spark, sf_dir):
    """Gap sessionization (30-min): per-session event count + bounds —
    the batch twin of a streaming session window."""
    return _session_counts(spark, sf_dir)


@query(
    "percentile_stats",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           CAST(MIN(value) AS DOUBLE) AS vmin,
           CAST(MAX(value) AS DOUBLE) AS vmax
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def percentile_stats(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`), rounded to absorb interpolation-order ulps."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
            F.min("value").cast("double").alias("vmin"),
            F.max("value").cast("double").alias("vmax"),
        )
        .orderBy("event_type")
    )


@query(
    "range_join_click_window",
    oracle="""
    WITH purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT p.event_id, COUNT(c.ts) AS n_clicks,
           CAST(COALESCE(SUM(CAST(c.value AS DECIMAL(27,6))), 0) AS DOUBLE) AS click_value
    FROM purchases p
    LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND epoch(c.ts) >= epoch(p.ts) - 86400 AND epoch(c.ts) <= epoch(p.ts)
    GROUP BY p.event_id ORDER BY p.event_id
    """,
)
def range_join_click_window(spark, sf_dir):
    """Interval join via bucketized equi-join (operators/timeseries.py::
    range_join): same-user clicks within the 24h window before each
    purchase — no nested-loop plan, cost ∝ window/bucket per row."""
    from chatdata_spark.operators.timeseries import range_join_left

    e = load_events(spark, sf_dir)
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.unix_timestamp("ts").alias("p_ts"))
        .withColumn("lo", F.col("p_ts") - 86400)
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_timestamp("ts").alias("c_ts"), "value"
    )
    joined = range_join_left(
        purchases, clicks, left_id="event_id", lo_col="lo", hi_col="p_ts",
        right_val_col="c_ts", equi_keys=["user_id"], bucket_width=86400.0,
    )
    return (
        joined.groupBy("event_id")
        .agg(
            F.count("c_ts").alias("n_clicks"),
            F.coalesce(F.sum(F.col("value").cast("decimal(27,6)")), F.lit(0).cast("decimal(27,6)"))
            .cast("double")
            .alias("click_value"),
        )
        .orderBy("event_id")
    )


@query(
    "range_join_bounded_recent_clicks",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS c_ts,
               event_id AS click_id, value
        FROM events WHERE event_type = 'click'
    ),
    ranked AS (
        SELECT p.event_id, c.c_ts, c.value,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY c.c_ts DESC, c.click_id DESC) AS rn
        FROM purchases p JOIN clicks c
          ON p.user_id = c.user_id
         AND c.c_ts >= p.p_ts - 86400 AND c.c_ts <= p.p_ts
    )
    SELECT event_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           MAX(c_ts) AS latest_click_ts,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS kept_value
    FROM ranked WHERE rn <= 3
    GROUP BY event_id ORDER BY event_id
    """,
)
def range_join_bounded_recent_clicks(spark, sf_dir):
    """The hot-key OUTPUT bound on the interval join
    (operators/timeseries.py::range_join, max_matches_per_left): each
    purchase keeps only its 3 most-recent same-user clicks in the 24h
    window (keep='last', click_id tie-break), so a genuinely hot key
    cannot make the query's own output quadratic at 100 TB — the
    scale-safe product variant of range_join_click_window. Two-stage
    top-N prune: per-(purchase, time-bucket) first (a hot purchase's
    matches stay spread across bucket tasks), then per-purchase. Both
    sides rank on FLOOR'd epoch seconds (Spark unix_timestamp truncates;
    DuckDB epoch() is fractional — the oracle floors to match exactly)."""
    from chatdata_spark.operators.timeseries import range_join

    e = load_events(spark, sf_dir)
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.unix_timestamp("ts").alias("p_ts"))
        .withColumn("lo", F.col("p_ts") - 86400)
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_timestamp("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
        "value",
    )
    joined = range_join(
        purchases, clicks, lo_col="lo", hi_col="p_ts", right_val_col="c_ts",
        equi_keys=["user_id"], bucket_width=86400.0,
        max_matches_per_left=3, left_id="event_id",
        right_tiebreak="click_id", keep="last",
    )
    return (
        joined.groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max("c_ts").alias("latest_click_ts"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("kept_value"),
        )
        .orderBy("event_id")
    )


@query(
    "attribution_time_decay",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS p_ts,
               CAST(value AS DOUBLE) AS pvalue
        FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS c_ts,
               event_id AS click_id
        FROM events WHERE event_type = 'click'
    ),
    ranked AS (
        SELECT p.event_id, p.pvalue, c.c_ts, c.click_id,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY c.c_ts DESC, c.click_id DESC) AS rn
        FROM purchases p JOIN clicks c
          ON p.user_id = c.user_id
         AND c.c_ts >= p.p_ts - 86400 AND c.c_ts <= p.p_ts
    ),
    weighted AS (
        SELECT event_id, c_ts, pvalue,
               POWER(0.5, rn - 1) AS w,
               SUM(POWER(0.5, rn - 1)) OVER (PARTITION BY event_id) AS sw
        FROM ranked WHERE rn <= 3
    )
    SELECT CAST(FLOOR(c_ts / 86400) AS BIGINT) AS day_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(CAST(ROUND(pvalue * w / sw, 6) AS DECIMAL(27,6))) AS DOUBLE)
               AS attributed_rev
    FROM weighted
    GROUP BY day_bucket ORDER BY day_bucket
    """,
)
def attribution_time_decay(spark, sf_dir):
    """Multi-touch attribution COMPOSED on the bounded range join (the r5
    brief's ask — the scale-safe variant as the default path of a product
    query, not an isolated probe): each purchase's value is split over its
    3 most-recent same-user clicks in the 24h window with geometric
    position weights (1, 1/2, 1/4 from latest backwards, normalized per
    purchase), and attributed revenue rolls up by the CLICK's UTC day
    bucket — "which days' clicks drove revenue". Plan shape: the bounded
    join never enumerates the quadratic pair set (O(|L|·3) output even on
    a hot user), the weight window runs over ≤3 rows per purchase, and
    the day rollup is one partial-agg shuffle. Determinism: weights are
    exact powers of two (any summation order is exact), per-row
    attribution is the SAME float64 expression order both sides rounded
    to 6 digits, then decimal-exact summed; both sides rank on FLOOR'd
    epoch seconds."""
    from chatdata_spark.operators.timeseries import range_join
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("p_ts"),
            F.col("value").cast("double").alias("pvalue"),
        )
        .withColumn("lo", F.col("p_ts") - 86400)
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_timestamp("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    joined = range_join(
        purchases, clicks, lo_col="lo", hi_col="p_ts", right_val_col="c_ts",
        equi_keys=["user_id"], bucket_width=86400.0,
        max_matches_per_left=3, left_id="event_id",
        right_tiebreak="click_id", keep="last",
    )
    w_rank = Window.partitionBy("event_id").orderBy(
        F.col("c_ts").desc(), F.col("click_id").desc()
    )
    weighted = (
        joined.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("w", F.pow(F.lit(0.5), F.col("rn") - 1))
        .withColumn("sw", F.sum("w").over(Window.partitionBy("event_id")))
    )
    return (
        weighted.groupBy(
            F.floor(F.col("c_ts") / 86400).cast("long").alias("day_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum(
                F.round(F.col("pvalue") * F.col("w") / F.col("sw"), 6)
                .cast("decimal(27,6)")
            )
            .cast("double")
            .alias("attributed_rev"),
        )
        .orderBy("day_bucket")
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH t1 AS (
        SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN t1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > t1.t1 AND e.ts <= t1.t1 + INTERVAL 7 DAY
        GROUP BY e.user_id
    ),
    t3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN t1 USING (user_id) JOIN t2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > t2.t2 AND e.ts <= t1.t1 + INTERVAL 7 DAY
        GROUP BY e.user_id
    )
    SELECT step, COUNT(*) AS n_users FROM (
        SELECT CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
                    WHEN t2.t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS step
        FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
    ) GROUP BY step ORDER BY step
    """,
)
def funnel_view_click_purchase(spark, sf_dir):
    """ClickHouse windowFunnel-family: earliest-entry view→click→purchase
    chain within 7 days (operators/funnel.py) — per-user step depth,
    aggregated to funnel counts."""
    from chatdata_spark.operators.funnel import funnel_steps

    e = load_events(spark, sf_dir)
    steps = funnel_steps(
        e,
        "user_id",
        "ts",
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window="INTERVAL 7 DAYS",
    )
    return (
        steps.groupBy("step").agg(F.count(F.lit(1)).alias("n_users")).orderBy("step")
    )


@query(
    "cohort_retention_daily",
    oracle="""
    WITH c AS (
        SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort_day
        FROM events GROUP BY user_id
    ),
    d AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events)
    SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS BIGINT) AS offset_days,
           COUNT(DISTINCT user_id) AS n_users
    FROM d JOIN c USING (user_id)
    GROUP BY cohort_day, offset_days ORDER BY cohort_day, offset_days
    """,
)
def cohort_retention_daily(spark, sf_dir):
    """ClickHouse retention-family: day-N return rates per first-seen
    cohort (operators/funnel.py::cohort_retention)."""
    from chatdata_spark.operators.funnel import cohort_retention

    e = load_events(spark, sf_dir)
    return cohort_retention(e, "user_id", "ts").orderBy("cohort_day", "offset_days")


_SEQ_SYM_SQL = (
    "CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' "
    "WHEN 'purchase' THEN 'p' ELSE 'o' END"
)


def _seq_sym():
    return (
        F.when(F.col("event_type") == "view", F.lit("v"))
        .when(F.col("event_type") == "click", F.lit("c"))
        .when(F.col("event_type") == "purchase", F.lit("p"))
        .otherwise(F.lit("o"))
    )


@query(
    "sequence_match_click_to_purchase",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, string_agg({_SEQ_SYM_SQL}, '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    )
    SELECT regexp_matches(s, 'c[^v]*p') AS matched, COUNT(*) AS n_users
    FROM seq GROUP BY matched ORDER BY matched
    """,
)
def sequence_match_click_to_purchase(spark, sf_dir):
    """ClickHouse sequenceMatch parity (operators/funnel.py::sequence_match):
    users with a click followed by a purchase with NO view in between —
    the exclusion-gap pattern 'c[^v]*p' that windowFunnel's earliest-entry
    chain cannot express. One (user, symbol) shuffle; the oracle builds
    the same ordered symbol string with string_agg and RE2."""
    from chatdata_spark.operators.funnel import sequence_match

    e = load_events(spark, sf_dir)
    m = sequence_match(e, "user_id", "ts", _seq_sym(), "c[^v]*p", tie_break="event_id")
    return (
        m.groupBy("matched").agg(F.count(F.lit(1)).alias("n_users")).orderBy("matched")
    )


@query(
    "sequence_count_conversion_cycles",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, string_agg({_SEQ_SYM_SQL}, '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT user_id, CAST(length(regexp_extract_all(s, 'v.*?p')) AS BIGINT) AS n_cycles
        FROM seq
    )
    SELECT n_cycles, COUNT(*) AS n_users FROM c GROUP BY n_cycles ORDER BY n_cycles
    """,
)
def sequence_count_conversion_cycles(spark, sf_dir):
    """ClickHouse sequenceCount parity (operators/funnel.py::sequence_count):
    per-user count of non-overlapping view→purchase conversion cycles
    (lazy gap 'v.*?p' = greedy-earliest chains), aggregated into a
    cycles-per-user histogram. Java regexp_count and DuckDB RE2
    regexp_extract_all both scan leftmost non-overlapping, so the counts
    agree by construction."""
    from chatdata_spark.operators.funnel import sequence_count

    e = load_events(spark, sf_dir)
    c = sequence_count(e, "user_id", "ts", _seq_sym(), "v.*?p", tie_break="event_id")
    return (
        c.groupBy(F.col("n_matches").alias("n_cycles"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("n_cycles")
    )


@query(
    "sliding_window_counts",
    oracle="""
    WITH hopped AS (
        SELECT e.event_type,
               CAST(time_bucket(INTERVAL '5 minutes', e.ts) AS TIMESTAMP) - off.o AS window_start
        FROM events e,
             (SELECT unnest([INTERVAL '0 minutes', INTERVAL '5 minutes']) AS o) off
    )
    SELECT window_start, event_type, COUNT(*) AS n
    FROM hopped GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def sliding_window_counts(spark, sf_dir):
    """Sliding (hopping) windows: 10-min windows every 5 min — each event
    contributes to window_length/slide windows (Spark window() emits the
    assignment inline; the oracle unrolls the two hops explicitly)."""
    from chatdata_spark.catalog import load_events

    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .orderBy("window_start", "event_type")
    )


@query(
    "quantile_hist_value_by_type",
    oracle="""
    WITH hist AS (
        SELECT event_type,
               CASE WHEN CAST(FLOOR((value - 0.0) / 2.5) AS BIGINT) < 0 THEN 0
                    WHEN CAST(FLOOR((value - 0.0) / 2.5) AS BIGINT) >= 200 THEN 199
                    ELSE CAST(FLOOR((value - 0.0) / 2.5) AS BIGINT) END AS bin,
               COUNT(*) AS cnt
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, bin
    ),
    c AS (
        SELECT event_type, bin, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) - cnt AS cum_prev,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS total
        FROM hist
    )
    SELECT event_type,
           ROUND(MAX(CASE WHEN CAST(cum_prev AS DOUBLE) < 0.5 * CAST(total AS DOUBLE)
                           AND 0.5 * CAST(total AS DOUBLE) <= CAST(cum AS DOUBLE)
                     THEN 0.0 + 2.5 * (CAST(bin AS DOUBLE) + (0.5 * CAST(total AS DOUBLE) - CAST(cum_prev AS DOUBLE)) / CAST(cnt AS DOUBLE)) END), 6) AS p50,
           ROUND(MAX(CASE WHEN CAST(cum_prev AS DOUBLE) < 0.95 * CAST(total AS DOUBLE)
                           AND 0.95 * CAST(total AS DOUBLE) <= CAST(cum AS DOUBLE)
                     THEN 0.0 + 2.5 * (CAST(bin AS DOUBLE) + (0.95 * CAST(total AS DOUBLE) - CAST(cum_prev AS DOUBLE)) / CAST(cnt AS DOUBLE)) END), 6) AS p95,
           ROUND(MAX(CASE WHEN CAST(cum_prev AS DOUBLE) < 0.99 * CAST(total AS DOUBLE)
                           AND 0.99 * CAST(total AS DOUBLE) <= CAST(cum AS DOUBLE)
                     THEN 0.0 + 2.5 * (CAST(bin AS DOUBLE) + (0.99 * CAST(total AS DOUBLE) - CAST(cum_prev AS DOUBLE)) / CAST(cnt AS DOUBLE)) END), 6) AS p99
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def quantile_hist_value_by_type(spark, sf_dir):
    """Mergeable histogram quantiles (p50/p95/p99 of event value per type):
    the aggregation state is fixed-bin counts — shuffle carries at most
    |types| x 200 rows at ANY input scale, state merges across incremental
    refreshes/streams by addition (operators/quantile.py; the
    percentile_approx alternative has no mergeable/reproducible state)."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.quantile import hist_counts, quantiles_from_hist

    e = load_events(spark, sf_dir)
    hist = hist_counts(e, ["event_type"], "value", lo=0.0, hi=500.0, n_bins=200)
    return quantiles_from_hist(
        hist, ["event_type"], lo=0.0, hi=500.0, n_bins=200, ps=[0.5, 0.95, 0.99]
    ).orderBy("event_type")


@query("sessionize_events_sliced", oracle=_SESSIONIZE_ORACLE)
def sessionize_events_sliced(spark, sf_dir):
    """The hot-key escape hatch under the SAME oracle as sessionize_events:
    slice_width='auto' partitions each user's history into
    span/(4 x parallelism) time slices (floored at 4x the gap) so one user
    owning half the events runs as many tasks instead of one, and the
    boundary pass restores exact gap semantics across slice edges — the
    green oracle row IS the sliced ≡ unsliced proof, through the driver
    path (operators/timeseries.py:sessionize)."""
    return _session_counts(spark, sf_dir, slice_width="auto")


@query("asof_join_purchase_click_sliced", oracle=_ASOF_ORACLE)
def asof_join_purchase_click_sliced(spark, sf_dir):
    """The as-of join's hot-key escape hatch under the SAME oracle as
    asof_join_purchase_click: slice_width='auto' windows on
    (user, time-slice) with a carry-in boundary pass — the green oracle row
    proves sliced ≡ unsliced through the driver path."""
    return _asof_purchase_click(spark, sf_dir, slice_width="auto")


@query(
    "funnel_tight_window",
    oracle="""
    WITH t1 AS (
        SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN t1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > t1.t1
          AND e.ts <= LEAST(t1.t1 + INTERVAL 7 DAY, t1.t1 + INTERVAL 1 DAY)
        GROUP BY e.user_id
    ),
    t3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN t1 USING (user_id) JOIN t2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > t2.t2
          AND e.ts <= LEAST(t1.t1 + INTERVAL 7 DAY, t2.t2 + INTERVAL 1 DAY)
        GROUP BY e.user_id
    )
    SELECT step, COUNT(*) AS n_users FROM (
        SELECT CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
                    WHEN t2.t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS step
        FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
    ) GROUP BY step ORDER BY step
    """,
)
def funnel_tight_window(spark, sf_dir):
    """windowFunnel with per-adjacent-step time constraints (the
    ClickHouse '(?t<=N)' mode): view→click→purchase within 7 days
    overall AND each step within 1 day of the previous — cooled-off
    conversions that pass the loose funnel drop a step here
    (operators/funnel.py::funnel_steps step_gap)."""
    from chatdata_spark.operators.funnel import funnel_steps

    e = load_events(spark, sf_dir)
    steps = funnel_steps(
        e,
        "user_id",
        "ts",
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window="INTERVAL 7 DAYS",
        step_gap="INTERVAL 1 DAY",
    )
    return (
        steps.groupBy("step").agg(F.count(F.lit(1)).alias("n_users")).orderBy("step")
    )


@query(
    "trend_ols_event_values",
    oracle="""
    WITH v AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
    ),
    m AS (
        SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM v GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > 0 THEN
               CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST((n * sxx - sx * sx) * 100 AS DOUBLE) END AS slope,
           CASE WHEN n * sxx - sx * sx > 0 THEN
               CAST(sy * sxx - sx * sxy AS DOUBLE)
               / CAST((n * sxx - sx * sx) * 100 AS DOUBLE) END AS intercept
    FROM m ORDER BY event_type
    """,
)
def trend_ols_event_values(spark, sf_dir):
    """Per-type metric trend: exact closed-form OLS of event value (cents)
    against epoch day (operators/timeseries.py::ols_trend) — the
    direction-and-rate monitor that pairs with the level-shift family
    (PSI/KS/MAD say THAT a distribution moved; the slope says which way
    and how fast per day). Every moment is an exact DECIMAL(38,0) sum
    (HUGEINT in the oracle) and slope/intercept are ONE float64 division
    each, so the statistics replay bit-exactly. One map-side-combinable
    aggregate over the scan — 5 numbers of state per group, trivially
    mergeable."""
    from chatdata_spark.operators.timeseries import ols_trend

    e = load_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    x = F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    y = (F.col("value").cast("decimal(18,2)") * F.lit(100)).cast("bigint")
    return ols_trend(e, ["event_type"], x, y, y_scale=100).orderBy("event_type")


@query(
    "timeseries_gap_fill",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    dims AS (SELECT DISTINCT event_type FROM events),
    grid AS (
        SELECT d.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket
        FROM dims d, bounds b
    ),
    obs AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket, COUNT(*) AS n_obs
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.bucket,
           CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN obs o
      ON g.event_type = o.event_type AND g.bucket = o.bucket
    ORDER BY g.event_type, g.bucket
    """,
)
def timeseries_gap_fill(spark, sf_dir):
    """Dense hourly series with zero-filled gaps — the ClickHouse
    ``ORDER BY ... WITH FILL STEP INTERVAL 1 HOUR`` role
    (operators/timeseries.py::fill_gaps): hourly event counts per type
    over the full [min,max] hour range, empty hours present with n=0.
    The grid builds from ONE 1-row sequence + the broadcast |types|
    dim frame; the only corpus-sized work is the count aggregate — at
    100 TB the grid stays |types| x |hours| rows regardless of event
    volume. Bounds are derived in-query by exact timestamp selection
    (min/max + date_trunc — identical in both engines), so no frozen
    literals are needed."""
    from chatdata_spark.operators.timeseries import fill_gaps

    e = load_events(spark, sf_dir)
    b = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    ).collect()[0]
    obs = (
        e.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    dims = e.select("event_type").distinct()
    filled = fill_gaps(obs, dims, "bucket", b.lo, b.hi, "INTERVAL 1 HOUR")
    return (
        filled.select(
            "event_type", "bucket",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "events_locf_fill",
    oracle="""
    WITH masked AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_id % 7 < 2 THEN NULL ELSE value END AS v_raw
        FROM events WHERE user_id IS NOT NULL AND user_id < 30
    )
    SELECT event_id, user_id, v_raw,
           LAST_VALUE(v_raw IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_fill
    FROM masked ORDER BY user_id, event_id
    """,
)
def events_locf_fill(spark, sf_dir):
    """Last-observation-carried-forward gap fill (the WITH FILL
    INTERPOLATE / sensor-backfill role, operators/timeseries.py::locf):
    a deterministic mask (event_id % 7 < 2 -> NULL — the fixture's value
    column has no natural NULLs) simulates dropped readings, then one
    window pass per user carries the last non-null value forward;
    leading NULLs stay NULL. Pure selection — float values replay
    bit-exactly; (ts, event_id) gives the unique fill order both
    engines require. One shuffle on user_id."""
    from chatdata_spark.operators.timeseries import locf

    e = load_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & (F.col("user_id") < 30)
    )
    masked = e.select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_id") % 7 < 2, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v_raw"),
    )
    return (
        locf(masked, "v_raw", ["user_id"], ["ts", "event_id"], out="v_fill")
        .select("event_id", "user_id", "v_raw", "v_fill")
        .orderBy("user_id", "event_id")
    )


@query(
    "user_rfm_features",
    oracle="""
    WITH mx AS (SELECT CAST(FLOOR(epoch(max(ts))) AS BIGINT) AS ref FROM events),
    u AS (
        SELECT user_id,
               CAST(FLOOR(epoch(max(ts))) AS BIGINT) AS last_ts,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, mx.ref - u.last_ts AS recency_sec, frequency, monetary
    FROM u, mx ORDER BY user_id
    """,
)
def user_rfm_features(spark, sf_dir):
    """RFM feature table (recency / frequency / monetary) — the classic
    per-entity feature-engineering aggregate every behavioral pipeline
    materializes: seconds since each user's last event (relative to the
    corpus max — a 1-row broadcast scalar, the allowed crossJoin
    pattern), event count, and the exact-decimal value total. Whole-
    second epochs via unix_timestamp ≡ FLOOR(epoch()) (the CLAUDE.md
    truncation rule), money through DECIMAL(18,2) → DOUBLE. One
    map-side-combinable aggregate on user_id; the feature frame is
    |users| rows regardless of event volume."""
    e = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    u = e.groupBy("user_id").agg(
        F.unix_timestamp(F.max("ts")).alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    mx = load_events(spark, sf_dir).agg(
        F.unix_timestamp(F.max("ts")).alias("ref")
    )
    return (
        u.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            (F.col("ref") - F.col("last_ts")).alias("recency_sec"),
            "frequency",
            "monetary",
        )
        .orderBy("user_id")
    )

"""Relational operator coverage (SURVEY §2.1-2.5, 2.7-2.9) over the driver's
TPC-H-ish tables.

The reference's app emits only single-table SQL; joins/windows/set-ops come
"for free from Catalyst when we expose Spark SQL" (SURVEY §2.3) — these
queries prove that surface end-to-end against the DuckDB oracle, at TPC-H
shapes so the bench reflects classic scan/join/agg cost.

Float determinism: money aggregates are computed per-row in float64 with an
identical expression order on both sides, cast to DECIMAL(27,6) (scale ≥ exact decimal length of every product, so the cast never rounds a tie), summed
exactly, and cast back to DOUBLE (see registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from chatdata_spark.registry import query


def _t(spark, sf_dir, name):
    if name == "events":
        from chatdata_spark.catalog import load_events

        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(expr):
    """Exact decimal sum of a float64 expression, surfaced as double."""
    return F.sum(expr.cast("decimal(27,6)")).cast("double")


DSUM = "CAST(SUM(CAST({e} AS DECIMAL(27,6))) AS DOUBLE)"


# --- aggregations (A1-A4 + TPC-H Q1 shape) -----------------------------------

@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {DSUM.format(e='l_quantity')} AS sum_qty,
           {DSUM.format(e='l_extendedprice')} AS sum_base_price,
           {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
           {DSUM.format(e='l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)')} AS sum_charge,
           {DSUM.format(e='l_quantity')} / COUNT(*) AS avg_qty,
           {DSUM.format(e='l_extendedprice')} / COUNT(*) AS avg_price,
           {DSUM.format(e='l_discount')} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1: partial-agg-friendly groupBy (map-side combine, 4 groups —
    shuffle is a few KB regardless of input size)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / n).alias("avg_qty"),
            (_dsum(F.col("l_extendedprice")) / n).alias("avg_price"),
            (_dsum(F.col("l_discount")) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "group_count_docs",
    oracle="""
    SELECT source, COUNT(*) AS n, CAST(MAX(length(text)) AS BIGINT) AS max_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents GROUP BY source ORDER BY source
    """,
)
def group_count_docs(spark, sf_dir):
    """A1+A3+A4 (private_knowledge_base.py:73-79 file-listing shape):
    count / max(length(text)) / distinct per group."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.length("text")).cast("bigint").alias("max_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


@query(
    "collect_list_sorted",
    oracle="""
    SELECT lang,
           array_to_string(list_transform(list_sort(list(doc_id)),
                                          x -> CAST(x AS VARCHAR)), ',') AS doc_ids
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def collect_list_sorted(spark, sf_dir):
    """A2 groupArray (private_knowledge_base.py:75) — array-valued aggregate,
    canonicalized by sort for determinism. The driver-facing projection
    serializes the array to a CSV string (the driver's row canonicalizer
    can't sort list cells); the raw-array form is asserted in unit tests."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")),
                ",",
            ).alias("doc_ids")
        )
        .orderBy("lang")
    )


@query(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
)
def distinct_segments(spark, sf_dir):
    """A4 SELECT DISTINCT (private_knowledge_base.py:74)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")


@query(
    "rollup_docs",
    oracle="""
    SELECT lang, source, COUNT(*) AS n
    FROM documents GROUP BY ROLLUP (lang, source) ORDER BY lang, source, n
    """,
)
def rollup_docs(spark, sf_dir):
    """Grouping-set surface (absent in reference, free in Spark — SURVEY §2.4)."""
    return _t(spark, sf_dir, "documents").rollup("lang", "source").agg(F.count(F.lit(1)).alias("n")).orderBy("lang", "source", "n")


@query(
    "having_filter",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3 ORDER BY o_custkey
    """,
)
def having_filter(spark, sf_dir):
    """GROUP BY + HAVING (post-aggregation predicate)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3).orderBy("o_custkey")
    )


# --- joins (SURVEY §2.3) ------------------------------------------------------

@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter broadcast into two fact joins,
    then top-k over the aggregate (broadcast(customer) — at 100 TB the
    customer side post-filter is still << fact side)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15")))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15")))
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name, {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: star join — dims broadcast, single shuffle on the
    fact join key, agg on a handful of groups."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {DSUM.format(e='l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan + selective filter + scalar agg — every
    predicate is scan-pushable, the shuffle is one partial-agg row per
    task (plan pinned in tests/test_plans.py)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q18_large_volume_customer",
    oracle=f"""
    WITH lag AS (
        SELECT l_orderkey, {DSUM.format(e='l_quantity')} AS sum_qty
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM lag
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    WHERE sum_qty > 250
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100
    """,
)
def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 shape: HAVING-filtered aggregate driving a join. The
    lineitem roll-up happens once (map-side combinable, one shuffle on
    l_orderkey); the >250 survivors are selective, so that side broadcasts
    into orders and only matching orders reach the customer join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    lag = (
        li.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        o.join(F.broadcast(lag), o.o_orderkey == lag.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "semi_join_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
    ORDER BY o_orderkey
    """,
)
def semi_join_orders(spark, sf_dir):
    """J1 (private_knowledge_base.py:140-166 two-step lookup) expressed as a
    real LEFT SEMI join — broadcastable, no row duplication."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
)
def anti_join_customers(spark, sf_dir):
    """M2/M3 delete semantics as LEFT ANTI (SURVEY §2.8: delete = anti-filter
    rewrite of the table)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "left_join_order_counts",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey
    """,
)
def left_join_order_counts(spark, sf_dir):
    """Outer join with null-aware count."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


# --- windows (SURVEY §2.5) ----------------------------------------------------

@query(
    "window_latest_event",
    oracle="""
    SELECT user_id, event_type, event_id, value FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    ORDER BY user_id, event_type
    """,
)
def window_latest_event(spark, sf_dir):
    """ReplacingMergeTree keep-latest-per-key (myscale_tables.py:37,65) as a
    window dedup — the M1 upsert read path."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
    FROM events ORDER BY user_id, event_id
    """,
)
def window_running_sum(spark, sf_dir):
    """Analytic frame: per-user cumulative sum ordered by time (T3 replay
    ordering shape, tools.py:77-78)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("running_value", F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double"))
        .select("event_id", "user_id", "running_value")
        .orderBy("user_id", "event_id")
    )


@query(
    "window_top3_orders_per_cust",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) <= 3
    ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """,
)
def window_top3_orders_per_cust(spark, sf_dir):
    """Ranking window: top-N per group."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", F.desc("o_totalprice"), "o_orderkey")
    )


@query(
    "window_lag_delta",
    oracle="""
    SELECT event_id, user_id,
           CAST(value - lag(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS delta
    FROM events ORDER BY user_id, event_id
    """,
)
def window_lag_delta(spark, sf_dir):
    """lag(): delta vs previous event per user (time-series shape)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("delta", (F.col("value") - F.lag("value", 1, 0.0).over(w)).cast("double"))
        .select("event_id", "user_id", "delta")
        .orderBy("user_id", "event_id")
    )


# --- sorts / top-k / set ops (§2.7) --------------------------------------------

@query(
    "top_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def top_orders(spark, sf_dir):
    """T1/T2: global top-k → TakeOrderedAndProject (no full sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "set_ops_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    ORDER BY user_id
    """,
)
def set_ops_users(spark, sf_dir):
    """T5 INTERSECT (distinct semantics in both engines)."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b).orderBy("user_id")


@query(
    "except_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'signup'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    ORDER BY user_id
    """,
)
def except_users(spark, sf_dir):
    """T5 EXCEPT."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "signup").select("user_id")
    b = e.filter(F.col("event_type") == "error").select("user_id")
    return a.subtract(b).orderBy("user_id")


# --- predicates / projections / scalar functions (§2.2, §2.9) ------------------

@query(
    "in_filter_parts",
    oracle="""
    SELECT p_partkey, p_name, p_brand FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3') AND p_size >= 10
    ORDER BY p_partkey
    """,
)
def in_filter_parts(spark, sf_dir):
    """P7 IN-list + P3 comparison (private_knowledge_base.py:137,161)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") & (F.col("p_size") >= 10))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")
    )


@query(
    "ilike_docs",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE text ILIKE '%SpArK%' AND lang = 'en'
    ORDER BY doc_id
    """,
)
def ilike_docs(spark, sf_dir):
    """P5 ILIKE (prompts.py:119 'abstract ILIKE %Mutual Information%')."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").ilike("%SpArK%") & (F.col("lang") == "en"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "expr_filter_docs",
    oracle="""
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_words
    FROM documents
    WHERE len(string_split(text, ' ')) > 60
    ORDER BY doc_id
    """,
)
def expr_filter_docs(spark, sf_dir):
    """P8 predicate-on-expression (prompts.py:82 'length(categories) > 2'):
    filter over a computed value, value also projected."""
    d = _t(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    return (
        d.filter(n_words > 60)
        .select("doc_id", n_words.cast("int").alias("n_words"))
        .orderBy("doc_id")
    )


@query(
    "array_contains_docs",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE list_contains(string_split(text, ' '), 'window') AND NOT lang = 'zh'
    ORDER BY doc_id
    """,
)
def array_contains_docs(spark, sf_dir):
    """P6 array membership — ClickHouse has() ≡ array_contains
    (prompts.py:100 `has(authors,'Geoffrey Hinton')`), plus P4 NOT."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.array_contains(F.split(F.col("text"), " "), "window") & ~(F.col("lang") == "zh"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "json_extract_events",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS DECIMAL(27,6))) AS DOUBLE) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def json_extract_events(spark, sf_dir):
    """S3 JSON flatten at read (docs/vector-sql.md:204-209
    JSONExtractString ≡ get_json_object) feeding an aggregate."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(_dsum(k).alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@query(
    "string_funcs_parts",
    oracle="""
    SELECT p_partkey, upper(p_name) AS uname, substr(p_type, 1, 3) AS t3,
           concat(p_brand, '-', p_type) AS bt, CAST(length(p_name) AS INT) AS name_len
    FROM part WHERE p_size BETWEEN 5 AND 15 ORDER BY p_partkey
    """,
)
def string_funcs_parts(spark, sf_dir):
    """§2.9 scalar string functions + BETWEEN range predicate."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_size").between(5, 15))
        .select(
            "p_partkey",
            F.upper("p_name").alias("uname"),
            F.substring("p_type", 1, 3).alias("t3"),
            F.concat_ws("-", "p_brand", "p_type").alias("bt"),
            F.length("p_name").cast("int").alias("name_len"),
        )
        .orderBy("p_partkey")
    )


@query(
    "monthly_order_stats",
    oracle=f"""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           COUNT(*) AS n,
           {DSUM.format(e='o_totalprice')} AS total
    FROM orders GROUP BY month ORDER BY month
    """,
)
def monthly_order_stats(spark, sf_dir):
    """§2.9 date functions: month bucketing (parseDateTimeBestEffort family
    → to_timestamp/trunc)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM-dd").alias("month"))
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("o_totalprice")).alias("total"))
        .orderBy("month")
    )


@query(
    "case_when_pivot",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(27,6)) ELSE 0 END) AS DOUBLE) AS click_value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(27,6)) ELSE 0 END) AS DOUBLE) AS purchase_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def case_when_pivot(spark, sf_dir):
    """Conditional aggregation (manual pivot)."""
    e = _t(spark, sf_dir, "events")

    def cond_sum(t):
        return F.sum(
            F.when(F.col("event_type") == t, F.col("value").cast("decimal(27,6)")).otherwise(F.lit(0).cast("decimal(27,6)"))
        ).cast("double")

    return (
        e.groupBy("user_id")
        .agg(cond_sum("click").alias("click_value"), cond_sum("purchase").alias("purchase_value"))
        .orderBy("user_id")
    )


@query(
    "explode_unnest",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents WHERE doc_id < 20 ORDER BY doc_id, word
    """,
)
def explode_unnest(spark, sf_dir):
    """§2.9 arrayJoin ≡ explode (private_knowledge_base.py:146) — the one
    table-generating function the reference uses."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") < 20)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .orderBy("doc_id", "word")
    )


@query(
    "row_to_document",
    oracle="""
    SELECT text AS page_content,
           to_json(struct_pack(id := doc_id, lang := lang, source := source, n_chars := n_chars)) AS metadata
    FROM documents WHERE n_chars >= 400 ORDER BY doc_id
    """,
)
def row_to_document(spark, sf_dir):
    """S9 row→Document sink projection (myscale_without_metadata.py:42-48):
    page_content = text column, metadata = must-have columns (serialized to
    JSON here so the oracle comparison is representation-stable)."""
    from chatdata_spark.catalog import to_documents

    d = _t(spark, sf_dir, "documents")
    return to_documents(
        d.filter(F.col("n_chars") >= 400),
        "text",
        [F.col("doc_id").alias("id"), "lang", "source", "n_chars"],
    ).orderBy(F.get_json_object("metadata", "$.id").cast("long"))


@query(
    "cube_docs",
    oracle="""
    SELECT lang, source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents WHERE source IN ('src0', 'src1', 'src2')
    GROUP BY CUBE (lang, source) ORDER BY lang, source, n
    """,
)
def cube_docs(spark, sf_dir):
    """CUBE grouping sets (free Spark surface, SURVEY §2.4)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("source").isin("src0", "src1", "src2"))
    return (
        d.cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").cast("bigint").alias("chars"))
        .orderBy("lang", "source", "n")
    )


@query(
    "correlated_subquery",
    oracle="""
    SELECT c_custkey, c_name,
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey
             AND o.o_totalprice > 200000.0) AS n_big_orders
    FROM customer c
    WHERE c_acctbal > 3000.0
    ORDER BY c_custkey
    """,
)
def correlated_subquery(spark, sf_dir):
    """Correlated scalar subquery through spark.sql — Catalyst decorrelates
    to an aggregate + outer join (SURVEY §4 'subquery decorrelation')."""
    from chatdata_spark.catalog import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey
                 AND o.o_totalprice > 200000.0) AS n_big_orders
        FROM customer c
        WHERE c_acctbal > 3000.0
        ORDER BY c_custkey
        """
    )


@query(
    "union_all_counts",
    oracle="""
    SELECT kind, COUNT(*) AS n FROM (
        SELECT 'order' AS kind FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT 'event' AS kind FROM events WHERE event_type = 'purchase'
    ) GROUP BY kind ORDER BY kind
    """,
)
def union_all_counts(spark, sf_dir):
    """T5 UNION ALL across heterogeneous sources."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(F.lit("order").alias("kind"))
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").select(F.lit("event").alias("kind"))
    return o.unionByName(e).groupBy("kind").agg(F.count(F.lit(1)).alias("n")).orderBy("kind")


@query(
    "approx_distinct_users",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_distinct_users(spark, sf_dir):
    """approx_count_distinct (HLL++): the constant-memory distinct-count
    for 100 TB cardinality estimation. Sketch VALUES are engine-specific,
    so the oracle checks the SOUNDNESS invariant instead (the ann_pq_adc
    pattern): every per-type estimate within ±5% of the exact count —
    rsd=0.02 puts 5% at ~2.5 sigma, and the estimate is deterministic on
    fixed data (measured max error 0.4% at sf0.1, 0 at the compare
    scales). A red row here means the estimator itself moved, not noise."""
    e = _t(spark, sf_dir, "events")
    approx = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("__a")
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    return (
        exact.join(approx, "event_type")
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("__a") - F.col("n_users_exact"))
                / F.col("n_users_exact")
                <= 0.05
            ).alias("approx_within_5pct"),
        )
        .orderBy("event_type")
    )


@query(
    "exact_distinct_users",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def exact_distinct_users(spark, sf_dir):
    """Exact companion to approx_distinct_users."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users")).orderBy("event_type")


# Deterministic HLL (operators/hll.py): p=8 -> 256 registers, w=24-bit
# tails; A = alpha_256 * 256^2 * 2^25 computed HERE and inlined as the
# same float64 literal both sides (one division makes the raw estimate).
_HLL_A = 1579498136381.3938
_HLL_LIN = 640.0  # 2.5 * m: below this the linear-counting branch applies


@query(
    "hll_distinct_deterministic",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               CAST(('0x' || substr(md5('hllu' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hb
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    regs AS (
        SELECT event_type, hb >> 24 AS bucket, MIN(hb & 16777215) AS min_tail
        FROM h GROUP BY 1, 2
    ),
    g AS (
        SELECT event_type, COUNT(*) AS m_used,
               SUM(1::BIGINT << CAST(
                   25 - (CASE WHEN min_tail = 0 THEN 25
                              ELSE 25 - length(bin(min_tail)) END) AS INT)) AS s_used
        FROM regs GROUP BY 1
    ),
    est AS (
        SELECT event_type, m_used,
               CAST(s_used + (256 - m_used) * 33554432 AS BIGINT) AS harmonic_sum,
               {_HLL_A} / CAST(s_used + (256 - m_used) * 33554432 AS DOUBLE) AS raw_est
        FROM g
    ),
    ex AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT e.event_type, ex.n_exact, CAST(e.m_used AS BIGINT) AS m_used,
           e.harmonic_sum,
           ROUND(CASE WHEN e.raw_est <= {_HLL_LIN} AND e.m_used < 256
                      THEN 256.0 * ln(256.0 / CAST(256 - e.m_used AS DOUBLE))
                      ELSE e.raw_est END, 6) AS hll_est
    FROM est e JOIN ex USING (event_type)
    ORDER BY e.event_type
    """,
)
def hll_distinct_deterministic(spark, sf_dir):
    """Deterministic HyperLogLog distinct users per event type
    (operators/hll.py — the ClickHouse uniq()/uniqHLL12 role), checked
    by EXACT cross-engine replay, not a soundness band: the register
    state collapses to MIN(hash tail) per bucket (clz is monotone, so
    max(rho) == rho(min tail)), rho is computed via bin()-string length
    (no float log2), and the harmonic sum is an exact scaled BIGINT —
    the estimate is ONE float64 division (linear-counting small-range
    branch uses ln on exact integer ratios — the PSI/A-ES ln-parity
    precedent — rounded to 6). n_exact rides along, making the ±accuracy
    visible in the output itself; tests/test_hll.py pins the error band
    and the merge law. Scale shape: ONE map-side-combinable (group,
    bucket) aggregate over the scan — 256 rows per group forever."""
    from chatdata_spark.operators.hll import hll_distinct

    e = _t(spark, sf_dir, "events")
    sk = hll_distinct(
        e, ["event_type"], "user_id", p=8, salt="hllu", linear_correction=True
    ).withColumn("hll_est", F.round("hll_est", 6))
    ex = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_exact"))
    )
    return (
        ex.join(sk, "event_type")
        .select("event_type", "n_exact", "m_used", "harmonic_sum", "hll_est")
        .orderBy("event_type")
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated into a LEFT SEMI join — the
    fact side never duplicates (no post-join dedup), the date filter is
    scan-pushed on orders, and the semi-join shuffles only the two key
    columns of lineitem. (Adapted predicate: the synthetic lineitem has no
    l_commitdate/l_receiptdate, so "late line" is l_shipdate >
    o_orderdate.)"""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-07-01")))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')} AS revenue,
           n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: selective fact filters (date window + returnflag,
    both scan-pushed), one shuffle join orders↔lineitem, dims broadcast,
    top-20 via TakeOrderedAndProject (never a global sort)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-07-01")))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@query(
    "q11_important_parts",
    oracle=f"""
    WITH pr AS (
        SELECT l_partkey, {DSUM.format(e='l_extendedprice * l_quantity')} AS value
        FROM lineitem GROUP BY l_partkey
    ),
    total AS (SELECT {DSUM.format(e='l_extendedprice * l_quantity')} AS tv FROM lineitem)
    SELECT l_partkey, value FROM pr, total
    WHERE value > 0.0005 * tv
    ORDER BY value DESC, l_partkey
    """,
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: HAVING against a GLOBAL scalar (fraction of total
    value). The total is a one-row aggregate broadcast into the per-part
    rollup (BroadcastNestedLoopJoin on a single row — constant-size, never
    a real cartesian); the lineitem scan is shared by both branches and
    aggregated map-side."""
    li = _t(spark, sf_dir, "lineitem")
    value = F.col("l_extendedprice") * F.col("l_quantity")
    pr = li.groupBy("l_partkey").agg(_dsum(value).alias("value"))
    total = li.agg(_dsum(value).alias("tv"))
    return (
        pr.crossJoin(F.broadcast(total))
        .filter(F.col("value") > 0.0005 * F.col("tv"))
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), F.asc("l_partkey"))
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(ROUND(
             100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))
                       ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS DOUBLE),
           6) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional-aggregate ratio over a broadcast
    dimension join; both decimal sums ride the same partial aggregation,
    division and rounding happen once on the driver-side single row."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-02-01")))
    )
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(27,6)"
    )
    zero = F.lit(0).cast("decimal(27,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.00)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "bloom_semi_join_lineitem",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS total_qty
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def bloom_semi_join_lineitem(spark, sf_dir):
    """Semi-join with a bloom pre-filter in the scan stage (the 100 TB
    shuffle-avoidance pattern for non-broadcastable filter sides): result
    is exactly the plain semi-join — false positives die in the final
    join (operators/bloomjoin.py)."""
    from chatdata_spark.operators.bloomjoin import bloom_semi_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hot = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 400000.0)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        bloom_semi_join(li, hot, "l_orderkey", n_bits=1 << 17)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "unpivot_part_measures",
    oracle="""
    WITH long AS (
        SELECT 'retailprice' AS measure, CAST(p_retailprice AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT 'size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
    )
    SELECT measure, COUNT(*) AS n, ROUND(AVG(val), 6) AS avg_val,
           CAST(MIN(val) AS DOUBLE) AS vmin, CAST(MAX(val) AS DOUBLE) AS vmax
    FROM long GROUP BY measure ORDER BY measure
    """,
)
def unpivot_part_measures(spark, sf_dir):
    """UNPIVOT/melt (wide→long): per-measure profile via the native
    unpivot operator (Expand node — one scan, rows×measures, no join)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    long = p.select(
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot([], ["retailprice", "size"], "measure", "val")
    return (
        long.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("val"), 6).alias("avg_val"),
            F.min("val").alias("vmin"),
            F.max("val").alias("vmax"),
        )
        .orderBy("measure")
    )


@query(
    "window_rank_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           ROUND(percent_rank() OVER w, 6) AS prank,
           ROUND(cume_dist() OVER w, 6) AS cdist
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_rank_family(spark, sf_dir):
    """The full ranking-function family in one windowed pass (rank /
    dense_rank / ntile / percent_rank / cume_dist share one sort)."""
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS st_f,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS st_o,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS st_p,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(27,6)) END) AS DOUBLE) AS rev_f
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark, sf_dir):
    """Native pivot (wide crosstab): Spark's groupBy().pivot() with pinned
    pivot values — one Expand-free aggregation (pivot values pinned =
    single pass, no value-discovery job)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias("rev"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.col("F_n").alias("st_f"),
        F.col("O_n").alias("st_o"),
        F.col("P_n").alias("st_p"),
        F.col("F_rev").cast("double").alias("rev_f"),
    ).orderBy("o_orderpriority")


_REV_DEC = "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))"


def _rev_dec():
    return (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(27,6)")


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rev) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year, {_REV_DEC} AS rev
        FROM supplier, lineitem, orders, customer, nation n1, nation n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional two-nation trade volume by year —
    two broadcast nation joins under one fact-side aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q9_profit_by_nation_year",
    oracle=f"""
    SELECT nation, l_year, CAST(SUM(rev) AS DOUBLE) AS revenue
    FROM (
        SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS l_year, {_REV_DEC} AS rev
        FROM lineitem, supplier, nation, part
        WHERE s_suppkey = l_suppkey AND s_nationkey = n_nationkey
          AND p_partkey = l_partkey AND p_name LIKE '%red%'
    )
    GROUP BY nation, l_year ORDER BY nation, l_year
    """,
)
def q9_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape (adapted: no partsupp table in the test schema, so
    profit = revenue): per-nation-per-year revenue on a name-filtered part
    subset — the filter lands on the part scan and prunes the join."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
        .orderBy("nation", "l_year")
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: order-count distribution including zero-order
    customers (conditional LEFT join preserved through two aggregations)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pa AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / 7.0, 6) AS DOUBLE)
             AS avg_yearly
    FROM lineitem, part, pa
    WHERE p_partkey = lineitem.l_partkey AND pa.l_partkey = lineitem.l_partkey
      AND p_brand = 'Brand#3' AND l_quantity < 0.2 * pa.avg_qty
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated per-part average decorrelated into a
    grouped subquery + broadcast join back (the exact-division form keeps
    the threshold bit-identical to the oracle)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pa = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == F.col("pa_key"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
    )
    return j.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(27,6)")).cast("double") / F.lit(7.0), 6
        ).alias("avg_yearly")
    )


@query(
    "q19_disjunctive_pushdown",
    oracle=f"""
    SELECT CAST(SUM({_REV_DEC}) AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))
    """,
)
def q19_disjunctive_pushdown(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides — Catalyst
    splits the disjunction into per-side pushable conjuncts before the
    broadcast join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).filter(
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.agg(F.sum(_rev_dec()).cast("double").alias("revenue"))


@query(
    "q22_global_sales_opportunity",
    oracle="""
    WITH ab AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS totacctbal
    FROM customer, ab
    WHERE c_acctbal > ab.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: scalar-subquery threshold (exact-division form) +
    NOT EXISTS as a broadcast anti-join, grouped by segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_bal")
        )
        .collect()[0]["avg_bal"]
    )
    rich = c.filter(F.col("c_acctbal") > avg_bal)
    no_orders = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        no_orders.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(27,6)")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


# --- round-3 TPC-H sweep completion (q8/q12/q15/q16/q20/q21 shapes) ----------

@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                                    ELSE CAST(0.0 AS DECIMAL(27,6)) END) AS DOUBLE)
                      / CAST(SUM(rev) AS DOUBLE), 6) AS DOUBLE) AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, {_REV_DEC} AS rev,
               n1.n_name AS supp_nation
        FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
          AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue among ASIA
    customers by order year — a 7-way join where every dimension
    (part/supplier/nation x2/region) broadcasts and only orders⋈lineitem
    shuffles, followed by a conditional-over-total two-sum aggregate.
    Both sums stay exact DECIMAL until the final float64 division (same
    operand order both sides, round 6)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
    )
    zero = F.lit(0.0).cast("decimal(27,6)")
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", _rev_dec()).otherwise(zero))
                .cast("double")
                / F.sum(_rev_dec()).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q12_priority_by_linestatus",
    oracle="""
    SELECT l_linestatus,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
             AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
             AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q12_priority_by_linestatus(spark, sf_dir):
    """TPC-H Q12 shape (adapted: the test schema has no l_shipmode, so
    l_linestatus is the grouping stand-in): orders⋈lineitem with
    conditional CASE counting per group. COUNT(CASE...) keeps both sides
    BIGINT (DuckDB's SUM(int) would widen to HUGEINT)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, F.lit(1))).alias("high_line_count"),
            F.count(F.when(~high, F.lit(1))).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no, CAST(SUM({_REV_DEC}) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, rev
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: quarterly per-supplier revenue view, then the
    supplier(s) hitting the global max — the max is attached as a
    broadcast one-row cross join (no driver collect), and equality on
    exact-decimal-summed doubles is deterministic on both sides."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_dec()).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape (adapted: lineitem is the part-supplier relation —
    no partsupp table; negative account balance stands in for the
    complaints NOT IN): distinct-supplier counts per part class with a
    broadcast anti-join exclusion. COUNT(DISTINCT) shuffles once on the
    grouping keys with per-partition partial dedup."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 49)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q20_dominant_promo_suppliers",
    oracle="""
    WITH usage AS (
        SELECT l_suppkey, l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(27,6))) AS qty
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
          AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
    ), tot AS (
        SELECT l_partkey, SUM(qty) AS part_qty FROM usage GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
        SELECT u.l_suppkey FROM usage u, tot t
        WHERE u.l_partkey = t.l_partkey
          AND CAST(u.qty AS DOUBLE) > 0.5 * CAST(t.part_qty AS DOUBLE)
    )
    ORDER BY s_suppkey
    """,
)
def q20_dominant_promo_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (adapted: shipped quantity stands in for partsupp
    availability): suppliers shipping more than half of a PROMO part's
    yearly volume — a nested IN chain decorrelated into grouped partials
    re-joined on l_partkey (partial-agg reuse: `tot` is a regroup of
    `usage`, not a rescan), ending in a semi join against supplier."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    promo = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    s = _t(spark, sf_dir, "supplier")
    usage = (
        li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(27,6)")).alias("qty"))
    )
    tot = usage.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("part_qty")
    )
    dominant = (
        usage.join(tot, usage.l_partkey == tot.t_partkey)
        .filter(F.col("qty").cast("double") > F.lit(0.5) * F.col("part_qty").cast("double"))
        .select("l_suppkey")
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name ORDER BY numwait DESC, s_name
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (adapted: l_returnflag = 'R' marks the failed
    delivery — no receipt/commit dates in the test schema): suppliers who
    were the SOLE returner on a multi-supplier finalized order. The
    correlated EXISTS becomes a semi join and the NOT EXISTS an anti
    join, both on l_orderkey with the supplier inequality in the join
    condition — the planner stressor is the semi/anti chain over the same
    fact table at three roles."""
    li = _t(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    )
    cand = (
        l1.join(o, l1.l_orderkey == o.o_orderkey, "left_semi")
        .join(l2, (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")), "left_semi")
        .join(l3, (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")), "left_anti")
    )
    return (
        cand.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem
    ),
    cost AS (
        SELECT ps.partkey, ps.suppkey, s.s_acctbal, s.s_name, n.n_name
        FROM ps, supplier s, nation n, region r
        WHERE ps.suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
          AND n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
    ),
    mn AS (SELECT partkey, MIN(s_acctbal) AS min_bal FROM cost GROUP BY partkey)
    SELECT p.p_partkey, p.p_type, c.s_name, c.n_name,
           CAST(c.s_acctbal AS DOUBLE) AS s_acctbal
    FROM part p, cost c, mn
    WHERE p.p_partkey = c.partkey AND mn.partkey = c.partkey
      AND c.s_acctbal = mn.min_bal
      AND p.p_size = 15 AND p.p_type = 'SMALL'
    ORDER BY s_acctbal, p.p_partkey, c.s_name
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (adapted: the distinct lineitem part-supplier pairs
    stand in for partsupp, account balance for supply cost, MIN for the
    original's min-cost correlation): per-part minimum-balance EUROPE
    supplier for a size/type part subset. The correlated subquery
    decorrelates into a grouped MIN re-joined on partkey; every dimension
    broadcasts, and the distinct pair projection shuffles narrow
    (partkey, suppkey) longs only."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).distinct()
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    )
    cost = (
        li.join(F.broadcast(s), li.suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select("partkey", "s_acctbal", "s_name", "n_name")
    )
    mn = cost.groupBy(F.col("partkey").alias("mn_key")).agg(F.min("s_acctbal").alias("min_bal"))
    return (
        cost.join(mn, (cost.partkey == mn.mn_key) & (cost.s_acctbal == mn.min_bal))
        .join(F.broadcast(p), F.col("partkey") == p.p_partkey)
        .select(
            "p_partkey", "p_type", "s_name", "n_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
        )
        .orderBy("s_acctbal", "p_partkey", "s_name")
    )


@query(
    "bucketed_fact_join_revenue",
    oracle=f"""
    SELECT o_orderpriority,
           {DSUM.format(e='l_extendedprice')} AS revenue,
           COUNT(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def bucketed_fact_join_revenue(spark, sf_dir):
    """Bucketed co-located fact join through the driver path (the
    MergeTree ORDER-BY clustering parity, operators/bucketing.py): both
    fact tables written bucketBy(orderkey) ONCE into the session
    warehouse, then joined with ZERO exchanges on the join itself — the
    plan property tests/test_bucketing.py pins and
    bench.py:fact_join_bucketed times (2-4x the shuffle twin at sf0.1).
    Result must equal the plain parquet join, which is the oracle."""
    import os
    import shutil
    from urllib.parse import urlparse

    from chatdata_spark.operators.bucketing import write_bucketed

    safe = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    lt, ot = f"q_bkt_li_{safe}", f"q_bkt_o_{safe}"
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    for name, df in ((lt, li), (ot, o)):
        if spark.catalog.tableExists(name):
            continue
        # catalog metadata dies with the session but the warehouse dir
        # survives: clear a stale location before re-creating (bench.py
        # fact_join_bucketed convention)
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = os.path.join(wh, name.lower())
        if os.path.exists(loc):
            shutil.rmtree(loc)
        write_bucketed(df, name, ["orderkey"], 8)
    return (
        spark.table(lt).hint("merge").join(spark.table(ot).hint("merge"), "orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(27,6)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "fuzzy_name_pairs",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name AS s FROM part)
    SELECT a.s AS name_a, b.s AS name_b,
           CAST(levenshtein(a.s, b.s) AS INT) AS dist
    FROM n a JOIN n b ON a.s < b.s AND levenshtein(a.s, b.s) <= 1
    ORDER BY name_a, name_b
    """,
)
def fuzzy_name_pairs(spark, sf_dir):
    """Edit-distance similarity self-join over the part-name vocabulary
    (operators/fuzzyjoin.py — Gravano et al. 2001 q-gram count
    filtering): every distinct-name pair within Levenshtein distance 1,
    found WITHOUT the O(n²) cross join the oracle runs. Occurrence-
    indexed q-gram equi-join + the count-filter bound generates
    candidates with zero false negatives (short strings take the
    broadcast band route); built-in levenshtein verifies. The fuzzy
    entity-resolution primitive next to the token-set joins — matches
    typo distance, not word overlap. Vocab-collapse shape: the join runs
    on DISTINCT strings, never corpus rows."""
    from chatdata_spark.operators.fuzzyjoin import edit_distance_self_join

    p = _t(spark, sf_dir, "part").select("p_name")
    return edit_distance_self_join(p, "p_name", k=1, q=2).orderBy(
        "name_a", "name_b"
    )

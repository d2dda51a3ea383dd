"""OLAP analytics surface the reference gets "for free" from ClickHouse SQL
(SURVEY §2.3/§2.9): multi-level aggregation (ROLLUP / CUBE / GROUPING
SETS), window frames (moving / cumulative aggregates), exact per-group
percentiles, per-group top-k (``LIMIT k BY`` parity), equi-width
histograms, and moment-based correlation.

Determinism notes (registry.py conventions):
- Frame/group sums of money go through DECIMAL(27,6) on both sides, so
  accumulation order (Spark partial-agg vs DuckDB segment-tree frames)
  can't produce float drift.
- Percentiles are the DISCRETE variant computed with explicit row_number
  index math on BOTH sides — no interpolation arithmetic to mismatch.
- Correlation is assembled driver-free from exact decimal moments with one
  fixed float64 formula applied identically in Spark and the oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from chatdata_spark.operators.quantsketch import exact_ceil_rank, exact_ceil_rank_sql
from chatdata_spark.registry import query


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


DSUM = "CAST(SUM(CAST({e} AS DECIMAL(27,6))) AS DOUBLE)"


# --- multi-level aggregation -------------------------------------------------

@query(
    "rollup_revenue_levels",
    oracle=f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           COUNT(*) AS n,
           {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')} AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, returnflag, linestatus
    """,
)
def rollup_revenue_levels(spark, sf_dir):
    """ROLLUP (flag, status): detail + per-flag subtotal + grand total in
    one pass. Spark plans this as a single Expand node over the scan — each
    input row fans out to its 3 grouping sets before ONE shuffle, so the
    subtotal levels cost no extra scan or extra shuffle; partial aggs still
    combine map-side (group count is tiny at every level)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(27,6)")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(rev).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid", "n", "revenue",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


@query(
    "cube_orders_status_priority",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority
    """,
)
def cube_orders_status_priority(spark, sf_dir):
    """CUBE (status, priority): all 4 grouping sets via one Expand + one
    shuffle (2^d fan-out — d=2 here; at high d prefer explicit GROUPING
    SETS of just the marginals you need)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)")).cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid", "n", "total",
        )
        .orderBy("gid", "status", "priority")
    )


# --- window frames: moving / cumulative aggregates ---------------------------

@query(
    "moving_avg_customer_orders",
    oracle="""
    WITH w AS (
        SELECT o_custkey, o_orderkey,
               SUM(CAST(o_totalprice AS DECIMAL(27,6))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_sum,
               COUNT(*) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_n,
               SUM(CAST(o_totalprice AS DECIMAL(27,6))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING) AS cum_sum
        FROM orders WHERE o_custkey % 50 = 0
    )
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(mov_sum AS DOUBLE) / CAST(mov_n AS DOUBLE), 6) AS moving_avg_3,
           CAST(cum_sum AS DOUBLE) AS cumulative_spend
    FROM w ORDER BY o_custkey, o_orderkey
    """,
)
def moving_avg_customer_orders(spark, sf_dir):
    """Moving average (ROWS 2 PRECEDING) + running total per customer —
    one shuffle on o_custkey serves both frames (same partition+order, so
    Spark evaluates them in a single Window node). Frame sums ride DECIMAL
    so DuckDB's segment-tree accumulation can't drift from Spark's running
    accumulation. Scale: partition key is the customer — millions of small
    groups, no hot task; tie-break (o_orderkey) makes the frame total."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    mov = w.rowsBetween(-2, 0)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    dec = F.col("o_totalprice").cast("decimal(27,6)")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(dec).over(mov).cast("double") / F.count(F.lit(1)).over(mov).cast("double"), 6
        ).alias("moving_avg_3"),
        F.sum(dec).over(cum).cast("double").alias("cumulative_spend"),
    ).orderBy("o_custkey", "o_orderkey")


# --- exact discrete percentiles ---------------------------------------------

@query(
    "percentile_disc_price_by_flag",
    oracle=f"""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT l_returnflag,
           MAX(CASE WHEN rn = {exact_ceil_rank_sql('n', 0.25)} THEN l_extendedprice END) AS p25,
           MAX(CASE WHEN rn = {exact_ceil_rank_sql('n', 0.50)} THEN l_extendedprice END) AS p50,
           MAX(CASE WHEN rn = {exact_ceil_rank_sql('n', 0.75)} THEN l_extendedprice END) AS p75,
           MAX(CASE WHEN rn = {exact_ceil_rank_sql('n', 0.99)} THEN l_extendedprice END) AS p99
    FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def percentile_disc_price_by_flag(spark, sf_dir):
    """Exact discrete percentiles (p25/p50/p75/p99) per group with explicit
    index math — rn == ceil(p*n), computed as INTEGER arithmetic on both
    sides ((num·n + den−1) div den, operators/quantsketch.py::
    exact_ceil_rank) so a float q·n can never land an ulp under an exact
    integer where the engines' ceils disagree (ADVICE r7). The percentile
    values are actual data elements, never arithmetic. Scale note: one
    sort per group (3 groups here ⇒ use the grouped_topk salting pattern
    or approx_percentile when groups are few AND huge); for the common
    many-group case this is the exact plan you want."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag", "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(p, name):
        idx = exact_ceil_rank(F.col("n"), p)
        return F.max(F.when(F.col("rn") == idx, F.col("l_extendedprice"))).alias(name)

    return (
        ranked.groupBy("l_returnflag")
        .agg(pick(0.25, "p25"), pick(0.50, "p50"), pick(0.75, "p75"), pick(0.99, "p99"))
        .orderBy("l_returnflag")
    )


# --- per-group top-k (ClickHouse LIMIT k BY parity) --------------------------

@query(
    "topk_orders_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    ORDER BY o_orderpriority, rnk
    """,
)
def topk_orders_per_priority(spark, sf_dir):
    """Top-3 orders per priority via the two-phase salted grouped_topk:
    5 groups over the whole fact table would serialize onto 5 tasks with a
    plain window; the salted local-top-k phase keeps 5 x 32 tasks busy and
    the final exact re-rank touches only 5 x 32 x 3 rows."""
    from chatdata_spark.operators.grouptopk import grouped_topk

    o = _t(spark, sf_dir, "orders")
    top = grouped_topk(
        o,
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        salt_on="o_orderkey",
    )
    return top.select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk").orderBy(
        "o_orderpriority", "rnk"
    )


# --- equi-width histogram ----------------------------------------------------

@query(
    "histogram_order_totalprice",
    oracle=f"""
    SELECT CAST(FLOOR((o_totalprice - 0.0) / 50000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           {DSUM.format(e='o_totalprice')} AS total
    FROM orders
    GROUP BY 1 ORDER BY bucket
    """,
)
def histogram_order_totalprice(spark, sf_dir):
    """Equi-width histogram: bucket = floor((x - lo) / width) — a pure
    scan-stage projection + tiny groupBy (map-side combine, one small
    shuffle). The float division uses identical operand order on both
    sides, and bucket ids are exact long arithmetic after floor."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.floor((F.col("o_totalprice") - F.lit(0.0)) / F.lit(50000.0)).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)")).cast("double").alias("total"),
        )
        .orderBy("bucket")
    )


# --- correlation from exact decimal moments ----------------------------------

@query(
    "corr_quantity_price_by_flag",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS corr_qty_price,
           ROUND((n * sxy - sx * sy) / (n * (n - 1.0)), 6) AS covar_samp
    FROM m ORDER BY l_returnflag
    """,
)
def corr_quantity_price_by_flag(spark, sf_dir):
    """Pearson correlation + sample covariance per group, assembled from
    exact decimal moments (n, Σx, Σy, Σxy, Σx², Σy²) with one fixed
    float64 combine formula — bit-identical across engines, unlike native
    corr()/covar_samp() whose accumulation order is engine-defined. The
    moments are all decomposable sums: map-side combine, one tiny shuffle,
    mergeable across incremental refreshes (rollup.py pattern)."""
    li = _t(spark, sf_dir, "lineitem")

    def dsum(expr, name):
        return F.sum(expr.cast("decimal(27,6)")).cast("double").alias(name)

    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x, "sx"), dsum(y, "sy"), dsum(x * y, "sxy"),
        dsum(x * x, "sxx"), dsum(y * y, "syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "l_returnflag",
        F.round(
            (n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)), 6
        ).alias("corr_qty_price"),
        F.round((n * sxy - sx * sy) / (n * (n - F.lit(1.0))), 6).alias("covar_samp"),
    ).orderBy("l_returnflag")


# --- graph centrality ---------------------------------------------------------

# The customer↔supplier transaction graph every centrality query reads:
# distinct orders⋈lineitem pairs with 'c'/'s'-prefixed node ids, so the
# two key spaces cannot collide. _PAIRS_SQL / _EDGES_SQL are the DuckDB
# twins of _transaction_pairs / _both_ways.
_PAIRS_SQL = """
    SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                    's' || CAST(l_suppkey AS VARCHAR) AS s
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""
_EDGES_SQL = "SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s AS src, c AS dst FROM pairs"


def _transaction_pairs(spark, sf_dir):
    """Distinct (c, s) customer→supplier pairs of orders⋈lineitem."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )


def _both_ways(pairs):
    """The symmetric (src, dst) edge multiset of a (c, s) pair frame."""
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def _seeded_pagerank_oracle(seeds: str, iterations: int = 6, d_pct: int = 85, k: int = 20) -> str:
    """Unrolled seeded PageRank over the symmetric transaction graph in
    DuckDB SQL, mirroring operators/graph.py::_seeded_pagerank term for
    term: initial mass, teleport and dangling redistribution land on the
    seed set ``seeds`` (a SELECT of one ``node`` column) only. Plain
    PageRank passes ``SELECT node FROM nodes``. Aggregates over a
    recursive reference are not allowed in a recursive CTE, so the
    iterations are chained CTEs; each level reads the previous one twice,
    so every level is MATERIALIZED (inlined, they cost 2^iterations
    evaluations). `//` is floor division — identical to Spark's DIV on the
    non-negative operands used here; SUMs are cast back to BIGINT (DuckDB
    SUM(BIGINT) returns HUGEINT, which pandas would materialize as float64
    and break the driver hash)."""
    scale = 10**12
    tele = f"(({100 - d_pct} * {scale} // 100) // ns.n)"
    its = []
    prev = "r0"
    for i in range(1, iterations + 1):
        its.append(f"""
r{i} AS MATERIALIZED (
    SELECT nd.node,
           CASE WHEN sm.node IS NOT NULL
                THEN {tele} + ({d_pct} * (COALESCE(c.csum, 0) + dg.dms)) // 100
                ELSE ({d_pct} * COALESCE(c.csum, 0)) // 100 END AS r
    FROM nodes nd CROSS JOIN ns
    CROSS JOIN (
        SELECT COALESCE(CAST(SUM(p.r) AS BIGINT), 0) // (SELECT n FROM ns) AS dms
        FROM {prev} p LEFT JOIN deg d ON p.node = d.node WHERE d.node IS NULL
    ) dg
    LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(p.r // d.deg) AS BIGINT) AS csum
        FROM {prev} p JOIN deg d ON p.node = d.node JOIN edges e ON e.src = p.node
        GROUP BY e.dst
    ) c ON c.node = nd.node
    LEFT JOIN sn sm ON sm.node = nd.node
)""")
        prev = f"r{i}"
    return f"""
    WITH pairs AS ({_PAIRS_SQL}),
    edges AS ({_EDGES_SQL}),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
                           UNION SELECT DISTINCT dst FROM edges),
    deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    sn AS MATERIALIZED ({seeds}),
    ns AS (SELECT COUNT(*) AS n FROM sn WHERE node IN (SELECT node FROM nodes)),
    r0 AS MATERIALIZED (
        SELECT nd.node,
               CASE WHEN sm.node IS NOT NULL THEN ({scale} // ns.n) ELSE 0 END AS r
        FROM nodes nd CROSS JOIN ns LEFT JOIN sn sm ON sm.node = nd.node
    ),
    {','.join(its)}
    SELECT node, r AS rank_fp, CAST(r AS DOUBLE) / 1000000000000.0 AS rank
    FROM {prev}
    ORDER BY rank_fp DESC, node LIMIT {k}
    """


@query("graph_pagerank_transactions", oracle=_seeded_pagerank_oracle("SELECT node FROM nodes"))
def graph_pagerank_transactions(spark, sf_dir):
    """PageRank over the customer↔supplier transaction graph (symmetric
    directed edges from distinct orders⋈lineitem pairs), top-20 entities.
    Graph centrality is the standard corpus-curation quality prior the
    reference's vector-only ranking lacks (module docstring of
    operators/graph.py); this query exercises the whole iterative path —
    integer fixed-point updates, edge-layout reuse, dangling broadcast —
    against a DuckDB oracle that replays all six iterations exactly
    (bit-identical bigint ranks; the double view is an exact conversion,
    no rounding or tolerance anywhere)."""
    from chatdata_spark.operators.graph import pagerank

    pr = pagerank(_both_ways(_transaction_pairs(spark, sf_dir)), iterations=6, damping_pct=85)
    return pr.orderBy(F.desc("rank_fp"), "node").limit(20)


# --- mergeable frequency sketch ----------------------------------------------

_CMS_CELL = (
    "CAST(('0x' || substr(md5('cms' || r.row_idx || '#' "
    "|| CAST({item} AS VARCHAR)), 1, 8)) AS BIGINT) % 1024"
)


@query(
    "cms_user_frequency",
    oracle=f"""
    WITH rows(row_idx) AS (VALUES (0), (1), (2), (3)),
    sketch AS (
        SELECT r.row_idx, {_CMS_CELL.format(item='e.user_id')} AS col,
               COUNT(*) AS cnt
        FROM events e CROSS JOIN rows r
        GROUP BY 1, 2
    ),
    top10 AS (
        SELECT user_id, COUNT(*) AS true_cnt
        FROM events GROUP BY user_id
        ORDER BY true_cnt DESC, user_id LIMIT 10
    ),
    probes AS (
        SELECT t.user_id, t.true_cnt, r.row_idx,
               {_CMS_CELL.format(item='t.user_id')} AS col
        FROM top10 t CROSS JOIN rows r
    )
    SELECT p.user_id,
           MIN(p.true_cnt) AS true_cnt,
           MIN(COALESCE(s.cnt, 0)) AS est_cnt,
           MIN(COALESCE(s.cnt, 0)) - MIN(p.true_cnt) AS overcount
    FROM probes p LEFT JOIN sketch s
      ON s.row_idx = p.row_idx AND s.col = p.col
    GROUP BY p.user_id
    ORDER BY true_cnt DESC, user_id
    """,
)
def cms_user_frequency(spark, sf_dir):
    """Count-min sketch over event actors: build the 4×1024 mergeable
    sketch in one scan + one BOUNDED groupBy (4096 post-shuffle rows no
    matter the corpus size — the state that makes per-shard sketches
    mergeable at 100 TB), then point-estimate the ten heaviest users and
    report the one-sided overcount against their exact counts. The oracle
    replays the identical md5 bucketing, so counts AND estimates match
    exactly; est_cnt ≥ true_cnt is the CMS guarantee (property-tested in
    tests/test_operator_properties.py)."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.cms import cms_build, cms_estimate

    ev = load_events(spark, sf_dir).select("user_id")
    sketch = cms_build(ev, "user_id", depth=4, width=1024)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(10)
    )
    est = cms_estimate(sketch, top, "user_id", depth=4, width=1024)
    return (
        top.join(est, "user_id")
        .select(
            "user_id",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("true_cnt"), "user_id")
    )


@query(
    "graph_trustrank_suppliers",
    oracle=_seeded_pagerank_oracle(
        "SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node"
        " FROM supplier WHERE s_nationkey < 5"
    ),
)
def graph_trustrank_suppliers(spark, sf_dir):
    """TrustRank over the same transaction graph: the random jump lands
    only on a trusted seed set (suppliers from nations 0-4 standing in
    for hand-vetted hosts), so rank measures proximity to the trust set —
    the anti-spam curation prior of Gyongyi et al. 2004, with spam-farm
    analogues far from every seed scoring ~0. Same bit-exact integer
    fixed-point core as graph_pagerank_transactions; the oracle replays
    all six seeded iterations, including the seed-restricted teleport and
    dangling redistribution."""
    from chatdata_spark.operators.graph import trustrank

    seeds = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    edges = _both_ways(_transaction_pairs(spark, sf_dir))
    tr = trustrank(edges, seeds, iterations=6, damping_pct=85)
    return tr.orderBy(F.desc("rank_fp"), "node").limit(20)


def _walks_sql(steps: int = 6) -> str:
    """Unrolled deterministic random-walk replay, unordered (walk_id,
    step, node) rows: per-src row_number indexing + the md5 choice hash,
    step by step (same cross-engine hash recipe as the sampling oracles)."""
    pick = (
        "CAST(('0x' || substr(md5('walk' || CAST(c.walk_id AS VARCHAR) "
        "|| '#{k}'), 1, 8)) AS BIGINT) % i.deg"
    )
    its = []
    prev = "w0"
    for k in range(1, steps + 1):
        its.append(f"""
w{k} AS (
    SELECT c.walk_id, {k} AS step, i.dst AS node
    FROM {prev} c JOIN indexed i
      ON i.src = c.node AND i.idx = {pick.format(k=k)}
)""")
        prev = f"w{k}"
    union = "\nUNION ALL\n".join(f"SELECT * FROM w{k}" for k in range(steps + 1))
    return f"""
    WITH pairs AS ({_PAIRS_SQL}),
    edges AS ({_EDGES_SQL}),
    indexed AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
               COUNT(*) OVER (PARTITION BY src) AS deg
        FROM edges
    ),
    w0 AS (SELECT DISTINCT s AS walk_id, 0 AS step, s AS node FROM pairs),
    {','.join(its)}
    SELECT walk_id, CAST(step AS BIGINT) AS step, node
    FROM ({union})
    """


def _supplier_walks(spark, sf_dir):
    """One 6-hop md5-salted walk from every supplier node of the
    symmetric transaction graph (the corpus _walks_sql replays)."""
    from chatdata_spark.operators.graph import random_walks

    pairs = _transaction_pairs(spark, sf_dir)
    starts = pairs.select(F.col("s").alias("node"))
    return random_walks(_both_ways(pairs), starts, steps=6, salt="walk")


@query("graph_random_walks", oracle=_walks_sql() + "ORDER BY walk_id, step")
def graph_random_walks(spark, sf_dir):
    """DeepWalk corpus generation: one 6-hop walk from every supplier node
    of the transaction graph, neighbor choices drawn from the
    cross-engine md5 hash so the EXACT same walks replay in DuckDB — the
    reproducible graph-embedding training-data op
    (operators/graph.py::random_walks). Each step is one frontier-sized
    equi-join against the once-indexed edge table; the whole corpus is a
    single lazy plan."""
    return (
        _supplier_walks(spark, sf_dir)
        .select("walk_id", F.col("step").cast("long").alias("step"), "node")
        .orderBy("walk_id", "step")
    )


# ``walks`` is MATERIALIZED: the self-join reads it twice, and inlined it
# ran the six-hop replay once per reference.
@query(
    "graph_skipgram_pairs",
    oracle=lambda: f"""
    WITH walks AS MATERIALIZED ({_walks_sql()})
    SELECT a.node AS center, b.node AS context,
           COUNT(*) AS n_pairs
    FROM walks a JOIN walks b
      ON a.walk_id = b.walk_id
     AND a.step <> b.step AND abs(a.step - b.step) <= 2
    GROUP BY center, context
    ORDER BY n_pairs DESC, center, context
    LIMIT 50
    """,
)
def graph_skipgram_pairs(spark, sf_dir):
    """The sliding-window pass completing the DeepWalk pipeline: the walk
    corpus from graph_random_walks becomes (center, context, n_pairs)
    skip-gram training pairs (window 2), top-50 by frequency. One
    walk-keyed self-join with a bounded step-distance predicate — fan-out
    ≤ 2·window per position, never graph-sized
    (operators/graph.py::skipgram_pairs); the oracle replays walks AND
    windowing in SQL."""
    from chatdata_spark.operators.graph import skipgram_pairs

    return (
        skipgram_pairs(_supplier_walks(spark, sf_dir), window=2)
        .orderBy(F.desc("n_pairs"), "center", "context")
        .limit(50)
    )


def _lpa_oracle(iterations: int = 4, k: int = 20) -> str:
    """Unrolled deterministic label propagation in DuckDB SQL (same
    chained-CTE scheme as _seeded_pagerank_oracle): each round re-derives every
    node's argmax-by-(count DESC, label ASC) over neighbor + self votes —
    integer counts and a total-order tie-break, so the labeling is exact
    on both engines with no tolerance."""
    its = []
    prev = "l0"
    for i in range(1, iterations + 1):
        its.append(f"""
l{i} AS (
    SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
        FROM (
            SELECT node, lbl, COUNT(*) AS cnt FROM (
                SELECT e.dst AS node, p.lbl FROM {prev} p JOIN edges e ON e.src = p.node
                UNION ALL
                SELECT node, lbl FROM {prev}
            ) GROUP BY node, lbl
        )
    ) WHERE rn = 1
)""")
        prev = f"l{i}"
    return f"""
    WITH pairs AS (
        SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
                        CAST(l_partkey AS BIGINT) + 1000000000 AS p
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
        SELECT c AS src, p AS dst FROM pairs
        UNION ALL
        SELECT p AS src, c AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    l0 AS (SELECT node, node AS lbl FROM nodes),
    {','.join(its)}
    SELECT lbl AS label, COUNT(*) AS n_members
    FROM {prev} GROUP BY lbl
    ORDER BY n_members DESC, label ASC LIMIT {k}
    """


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark, sf_dir):
    """Community sizes from deterministic label propagation over the
    customer↔part purchase graph (symmetric edges from distinct
    orders⋈lineitem pairs; parts offset by 10^9 to share the numeric id
    space) — 4 synchronous rounds with self-vote damping and min-label
    tie-break (operators/graph.py::label_propagation), top-20 communities.
    The oracle replays every round in unrolled SQL exactly — bit-identical
    labels, no tolerance."""
    from chatdata_spark.operators.graph import label_propagation

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("c"),
            (F.col("l_partkey").cast("long") + F.lit(1_000_000_000)).alias("p"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("p").alias("dst")).union(
        pairs.select(F.col("p").alias("src"), F.col("c").alias("dst"))
    )
    labels = label_propagation(edges, iterations=4)
    return (
        labels.groupBy(F.col("label"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), "label")
        .limit(20)
    )


@query(
    "heavy_hitter_parts_weighted",
    oracle="""
    SELECT CAST(l_partkey AS VARCHAR) AS item,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
               AS total_weight
    FROM lineitem
    GROUP BY l_partkey
    HAVING SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))
           >= CAST(2000000.0 AS DECIMAL(27,6))
    ORDER BY item
    """,
)
def heavy_hitter_parts_weighted(spark, sf_dir):
    """Weighted heavy hitters (topKWeighted capability, exact): parts
    whose total discounted revenue reaches 2M — weighted Misra-Gries
    candidates per partition (bounded memory: the operator shuffles the
    candidate set, never the full key space) + an exact decimal recount
    (operators/heavyhitters.py::heavy_hitters_weighted). The oracle is
    the naive full GROUP BY the operator avoids at scale; at sf0.01 the
    2M threshold clears the MG exactness bound (total/(k+1) ≈ 0.74M) ~3x
    over."""
    from chatdata_spark.operators.dedup import _spread
    from chatdata_spark.operators.heavyhitters import heavy_hitters_weighted

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # project to the 2 needed columns BEFORE spreading: the fixture's
    # single-row-group file plans a 1-partition scan (CLAUDE.md), and the
    # MG pass is the compute-heavy stage — spread the narrow frame so the
    # exchange carries 16 bytes/row, not the full lineitem width
    rev = _spread(
        li.select(
            F.col("l_partkey").alias("item"),
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("w"),
        )
    )
    return heavy_hitters_weighted(
        rev, "item", "w", min_weight=2_000_000.0, k_counters=4096
    ).orderBy("item")


# Shared by the batch query and streaming_quantile_sketch (stateful.py):
# the bottom-k-by-hash sample is an idempotent/commutative/associative
# lattice join, so the stream-merged sample provably equals the one-shot
# batch sample over the union of drained files — batch parity IS the
# streaming oracle.
QSK_ORACLE = f"""
    WITH s AS (
        SELECT o_orderpriority AS pri, o_orderkey AS k, o_totalprice AS v,
               CAST(('0x' || substr(md5('qsk' || CAST(o_orderkey AS VARCHAR)), 1, 8))
                    AS BIGINT) AS h
        FROM orders WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
    ),
    bk AS (
        SELECT pri, k, v FROM (
            SELECT pri, k, v,
                   ROW_NUMBER() OVER (PARTITION BY pri ORDER BY h, k) AS rn
            FROM s
        ) WHERE rn <= 256
    ),
    r AS (
        SELECT pri, v,
               ROW_NUMBER() OVER (PARTITION BY pri ORDER BY v, k) AS rn2,
               COUNT(*) OVER (PARTITION BY pri) AS n
        FROM bk
    )
    SELECT pri AS o_orderpriority, MAX(n) AS sample_n,
           MAX(CASE WHEN rn2 = {exact_ceil_rank_sql('n', 0.25)} THEN v END) AS p25,
           MAX(CASE WHEN rn2 = {exact_ceil_rank_sql('n', 0.5)} THEN v END) AS p50,
           MAX(CASE WHEN rn2 = {exact_ceil_rank_sql('n', 0.75)} THEN v END) AS p75,
           MAX(CASE WHEN rn2 = {exact_ceil_rank_sql('n', 0.95)} THEN v END) AS p95
    FROM r GROUP BY pri ORDER BY o_orderpriority
    """


@query("quantile_sketch_totalprice", oracle=QSK_ORACLE)
def quantile_sketch_totalprice(spark, sf_dir):
    """Deterministic mergeable quantile sketch (the ClickHouse
    quantileDeterministic role re-expressed partition-order-independent —
    operators/quantsketch.py): per-priority p25/p50/p75/p95 of order
    totals from a bottom-256-by-hash uniform sample. The sample is a pure
    function of (salt, key-set), so DuckDB materializes the IDENTICAL 256
    rows per group and replays every estimate exactly — a sketch query
    with an exact-replay oracle, like the KMV/CMS family. Estimates are
    raw data elements (no arithmetic), sample_n is exact."""
    from chatdata_spark.operators.quantsketch import quantile_sketch

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return quantile_sketch(
        o, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=256, salt="qsk"
    ).orderBy("o_orderpriority")


def _zorder_expected() -> str:
    """Lazy oracle for zorder_events_zvalues: replays the linear bucket
    (frozen [lo,hi] literals, identical float64 operand order) and the
    Morton magic-shift interleave as a chained-CTE bit pipeline — every
    operation integer-exact in both engines."""
    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir

    lo, hi = duckdb.sql(
        f"SELECT min(value), max(value) FROM read_parquet('{oracle_sf_dir()}/events.parquet') "
        # user_id non-null too: the Spark side derives [lo,hi] from rows
        # filtered on BOTH columns — a value extreme on a NULL-user_id row
        # would silently diverge the frozen bucket edges (ADVICE r8)
        "WHERE value IS NOT NULL AND user_id IS NOT NULL"
    ).fetchall()[0]
    top = 65535.0
    vb = (
        f"LEAST(GREATEST(CAST(FLOOR((CAST(value AS DOUBLE) - {float(lo)!r}) * {top!r} "
        f"/ {float(hi) - float(lo)!r}) AS BIGINT), 0), 65535)"
    )
    steps = [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]
    ctes = [
        "b1 AS (SELECT event_id, ub, vb, (ub & 65535) AS xa, (vb & 65535) AS xb FROM b0)"
    ]
    for n, (sh, m) in enumerate(steps, start=2):
        ctes.append(
            f"b{n} AS (SELECT event_id, ub, vb, "
            f"((xa | (xa << {sh})) & {m}) AS xa, ((xb | (xb << {sh})) & {m}) AS xb "
            f"FROM b{n - 1})"
        )
    return f"""
    WITH b0 AS (
        SELECT event_id, user_id AS ub, {vb} AS vb
        FROM events WHERE event_id < 50 AND value IS NOT NULL AND user_id IS NOT NULL
    ),
    {','.join(ctes)}
    SELECT event_id, ub, vb, (xa | (xb << 1)) AS z
    FROM b5 ORDER BY event_id
    """


@query("zorder_events_zvalues", oracle=_zorder_expected)
def zorder_events_zvalues(spark, sf_dir):
    """Z-order clustering key (the Delta OPTIMIZE ZORDER BY role,
    operators/layout.py::morton_interleave + linear_bucket): per-row
    Morton z-value over (user_id, 16-bit linear value bucket) — the sort
    key zorder_write range-partitions files by, giving BOTH dimensions
    bounded per-file spans so parquet min/max stats prune scans filtered
    on either (pinned by tests/test_layout.py). Bucket edges are frozen
    [min,max] literals (2-scalar build-time collect, the bucket-boundary
    convention); the whole pipeline is constant-shift integer codegen and
    the oracle replays it bit-exactly. user_id rides raw under the
    morton 0..65535 domain contract (fixture ids fit; a 100 TB id column
    would go through linear_bucket/pmod first — zorder_write
    validate=True enforces it, see operators/layout.py)."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.layout import linear_bucket, morton_interleave

    e = load_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    row = e.agg(
        F.min(F.col("value").cast("double")).alias("lo"),
        F.max(F.col("value").cast("double")).alias("hi"),
    ).collect()[0]
    ub = F.col("user_id")
    vb = linear_bucket(F.col("value"), row.lo, row.hi)
    return (
        e.filter(F.col("event_id") < 50)
        .select(
            "event_id",
            ub.alias("ub"),
            vb.alias("vb"),
            morton_interleave(ub, vb).alias("z"),
        )
        .orderBy("event_id")
    )


def _hilbert_expected() -> str:
    """Lazy oracle for hilbert_events_hvalues: replays the linear bucket
    (frozen [lo,hi] literals) and the 16-round rotate-reflect Hilbert
    recurrence as a chained-CTE integer pipeline — every round exact in
    both engines (two's-complement AND on the transiently negative
    reflect values included)."""
    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.operators.layout import hilbert_sql_cte

    lo, hi = duckdb.sql(
        f"SELECT min(value), max(value) FROM read_parquet('{oracle_sf_dir()}/events.parquet') "
        # user_id non-null too: the Spark side derives [lo,hi] from rows
        # filtered on BOTH columns — a value extreme on a NULL-user_id row
        # would silently diverge the frozen bucket edges (ADVICE r8)
        "WHERE value IS NOT NULL AND user_id IS NOT NULL"
    ).fetchall()[0]
    top = 65535.0
    vb = (
        f"LEAST(GREATEST(CAST(FLOOR((CAST(value AS DOUBLE) - {float(lo)!r}) * {top!r} "
        f"/ {float(hi) - float(lo)!r}) AS BIGINT), 0), 65535)"
    )
    chain = hilbert_sql_cte("ub", "vb", "base", "event_id, ub, vb")
    return f"""
    WITH base AS (
        SELECT event_id, user_id AS ub, {vb} AS vb
        FROM events WHERE event_id < 50 AND value IS NOT NULL AND user_id IS NOT NULL
    ),
    {chain}
    SELECT event_id, ub, vb, d AS h
    FROM h16 ORDER BY event_id
    """


@query("hilbert_events_hvalues", oracle=_hilbert_expected)
def hilbert_events_hvalues(spark, sf_dir):
    """Hilbert-curve clustering key — the locality UPGRADE over the
    Morton z-order (zorder_events_zvalues): consecutive Hilbert indices
    are always UNIT steps in (x, y) (Morton jumps across the plane at
    every power-of-two boundary), so equal-size file tiles have strictly
    smaller worst-case per-dimension spans — measured side by side in
    tests/test_layout.py, and selectable at write time via
    zorder_write(curve='hilbert'). Same frozen-bucket convention and the
    same 0..65535 domain contract as the z-order query; the 16-round
    rotate-reflect recurrence runs as chained BIGINT SELECT layers
    (whole-stage codegen, no UDF — operators/layout.py::with_hilbert)
    and the oracle replays every round bit-exactly."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.layout import linear_bucket, with_hilbert

    e = load_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    row = e.agg(
        F.min(F.col("value").cast("double")).alias("lo"),
        F.max(F.col("value").cast("double")).alias("hi"),
    ).collect()[0]
    base = e.filter(F.col("event_id") < 50).select(
        "event_id",
        F.col("user_id").alias("ub"),
        linear_bucket(F.col("value"), row.lo, row.hi).alias("vb"),
    )
    return with_hilbert(base, F.col("ub"), F.col("vb"), out="h").orderBy("event_id")


def _morton3_expected() -> str:
    """Lazy oracle for morton3d_events_zvalues: replays the frozen-[lo,hi]
    linear bucket and the bits×3 shift-OR interleave
    (operators/layout.py::morton_nd_sql_expr) — every term an exact
    BIGINT op in both engines."""
    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.operators.layout import morton_nd_sql_expr

    lo, hi = duckdb.sql(
        f"SELECT min(value), max(value) FROM read_parquet('{oracle_sf_dir()}/events.parquet') "
        # same dual non-null filter as the Spark side (the layout-oracle
        # [lo,hi] convention, ADVICE r8)
        "WHERE value IS NOT NULL AND user_id IS NOT NULL"
    ).fetchall()[0]
    top = 65535.0
    vb = (
        f"LEAST(GREATEST(CAST(FLOOR((CAST(value AS DOUBLE) - {float(lo)!r}) * {top!r} "
        f"/ {float(hi) - float(lo)!r}) AS BIGINT), 0), 65535)"
    )
    z = morton_nd_sql_expr(["ub", "vb", "hb"], bits=16)
    return f"""
    WITH base AS (
        SELECT event_id, user_id AS ub, {vb} AS vb,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hb
        FROM events WHERE event_id < 50 AND value IS NOT NULL AND user_id IS NOT NULL
    )
    SELECT event_id, ub, vb, hb, {z} AS z3
    FROM base ORDER BY event_id
    """


@query("morton3d_events_zvalues", oracle=_morton3_expected)
def morton3d_events_zvalues(spark, sf_dir):
    """THREE-dimensional Morton clustering key (r8 verdict item 7: a
    100 TB layout job commonly clusters 3-4 dims, and the 2-D
    morton_interleave/hilbert pair stopped there): z3 over (user_id,
    16-bit linear value bucket, hour-of-day) via
    operators/layout.py::morton_nd — bit b of dimension i lands at
    position 3b+i, so per-file z-ranges bound ALL THREE dimensions'
    spans and parquet min/max stats prune scans filtered on any of them
    (pinned by tests/test_layout.py::test_zorder_write_3d_prunes_all_dims;
    zorder_write now routes 3+ bucket columns here, shrinking bits/dim
    to fit BIGINT). Same frozen-[lo,hi] bucket convention as the 2-D
    queries; the whole key is bits×3 constant-shift OR-terms in
    whole-stage codegen and the oracle replays it bit-exactly. Hilbert
    stays 2-D by contract (rotate-reflect recurrence; zorder_write
    raises for curve='hilbert' at 3+ dims)."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.layout import linear_bucket, morton_nd

    e = load_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    row = e.agg(
        F.min(F.col("value").cast("double")).alias("lo"),
        F.max(F.col("value").cast("double")).alias("hi"),
    ).collect()[0]
    base = e.filter(F.col("event_id") < 50).select(
        "event_id",
        F.col("user_id").alias("ub"),
        linear_bucket(F.col("value"), row.lo, row.hi).alias("vb"),
        F.hour("ts").cast("long").alias("hb"),
    )
    return base.select(
        "event_id", "ub", "vb", "hb",
        morton_nd(["ub", "vb", "hb"], bits=16).alias("z3"),
    ).orderBy("event_id")


def _hits_oracle(iterations: int = 6, k: int = 10) -> str:
    """Unrolled integer fixed-point HITS in DuckDB SQL (the _seeded_pagerank_oracle
    convention: chained CTEs, `//` floor division ≡ Spark DIV on the
    non-negative operands, SUMs cast back to BIGINT against the HUGEINT
    promotion). Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    each HITS level references the previous one 4× (raw twice via the
    quantizer, nodes, edges), so un-materialized unrolling duplicates the
    base parquet scan 4^iterations times — 4096 open file handles blew
    EMFILE before materialization pinned the chain to linear."""
    scale = 10**12
    its = []
    prev_h = "h0"
    for i in range(1, iterations + 1):
        its.append(f"""
ar{i} AS MATERIALIZED (
    SELECT e.dst AS node, CAST(SUM(p.h) AS BIGINT) AS raw
    FROM {prev_h} p JOIN edges e ON e.src = p.node GROUP BY e.dst
),
qa{i} AS MATERIALIZED (SELECT GREATEST(MAX(raw) // {scale}, 1) AS q FROM ar{i}),
a{i} AS MATERIALIZED (
    SELECT nd.node, COALESCE(r.raw, 0) // q.q AS a
    FROM nodes nd CROSS JOIN qa{i} q LEFT JOIN ar{i} r ON r.node = nd.node
),
hr{i} AS MATERIALIZED (
    SELECT e.src AS node, CAST(SUM(p.a) AS BIGINT) AS raw
    FROM a{i} p JOIN edges e ON e.dst = p.node GROUP BY e.src
),
qh{i} AS MATERIALIZED (SELECT GREATEST(MAX(raw) // {scale}, 1) AS q FROM hr{i}),
h{i} AS MATERIALIZED (
    SELECT nd.node, COALESCE(r.raw, 0) // q.q AS h
    FROM nodes nd CROSS JOIN qh{i} q LEFT JOIN hr{i} r ON r.node = nd.node
)""")
        prev_h = f"h{i}"
    last = iterations
    return f"""
    WITH pairs AS ({_PAIRS_SQL}),
    edges AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    h0 AS MATERIALIZED (SELECT node, CAST({scale} AS BIGINT) AS h FROM nodes),
    {','.join(its)},
    scored AS (
        SELECT a.node, a.a AS auth_fp, h.h AS hub_fp
        FROM a{last} a JOIN h{last} h ON a.node = h.node
    )
    SELECT * FROM (
        SELECT 'authority' AS role, node, auth_fp, hub_fp,
               CAST(auth_fp AS DOUBLE) / {float(scale)} AS auth,
               CAST(hub_fp AS DOUBLE) / {float(scale)} AS hub
        FROM scored ORDER BY auth_fp DESC, node LIMIT {k}
    )
    UNION ALL
    SELECT * FROM (
        SELECT 'hub' AS role, node, auth_fp, hub_fp,
               CAST(auth_fp AS DOUBLE) / {float(scale)} AS auth,
               CAST(hub_fp AS DOUBLE) / {float(scale)} AS hub
        FROM scored ORDER BY hub_fp DESC, node LIMIT {k}
    )
    ORDER BY role, node
    """


@query("graph_hits_entities", oracle=_hits_oracle())
def graph_hits_entities(spark, sf_dir):
    """HITS hubs and authorities (Kleinberg 1999) over the DIRECTED
    customer→supplier transaction graph — on this bipartite graph hubs
    are broad-basket customers and authorities are widely-bought-from
    suppliers, the two roles PageRank's single score conflates (compare
    graph_pagerank_transactions on the symmetrized version of the same
    edges). Top-10 of each role. Exercises the second iterative
    fixed-point template in operators/graph.py: per-half-round integer
    max-quantizer normalization (score = raw DIV GREATEST(max DIV SCALE,
    1)) instead of PageRank's mass conservation — bit-identical across
    engines, replayed exactly by the unrolled DuckDB CTE oracle."""
    from chatdata_spark.operators.graph import hits

    scored = hits(_transaction_pairs(spark, sf_dir), src="c", dst="s", iterations=6)
    auth_top = (
        scored.orderBy(F.desc("auth_fp"), "node")
        .limit(10)
        .select(F.lit("authority").alias("role"), "*")
    )
    hub_top = (
        scored.orderBy(F.desc("hub_fp"), "node")
        .limit(10)
        .select(F.lit("hub").alias("role"), "*")
    )
    return auth_top.unionByName(hub_top).orderBy("role", "node")


def _hyperball_oracle() -> str:
    """Lazy oracle for graph_harmonic_hyperball: sequential pure-Python
    replay of the register lattice (dict-of-buckets MIN merges — exact
    integers), the hll_estimate arithmetic (same a_num literal via
    hll_alpha, same one float64 division, same ln-on-integer-ratio
    small-range branch), and the clamped fixed-order harmonic fold;
    HALF_UP round-6 via Decimal(repr(x)) — Spark's BigDecimal.valueOf
    shortest-repr convention."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.operators.hll import hll_alpha

    sf = oracle_sf_dir()
    pairs = duckdb.sql(
        f"WITH orders AS (FROM read_parquet('{sf}/orders.parquet')),"
        f" lineitem AS (FROM read_parquet('{sf}/lineitem.parquet')) {_PAIRS_SQL}"
    ).fetchall()
    edges = [(c, s) for c, s in pairs] + [(s, c) for c, s in pairs]
    nodes = sorted({n for e in edges for n in e})
    p, radius = 4, 4
    w, m = 32 - p, 1 << p
    out: dict = {}
    for s_, d_ in edges:
        out.setdefault(s_, []).append(d_)

    def hb(key: str) -> int:
        return int(hashlib.md5(("hb" + key).encode()).hexdigest()[:8], 16)

    state = {}
    for n in nodes:
        h = hb(n)
        state[n] = {h >> w: h & ((1 << w) - 1)}
    a_num = hll_alpha(m) * m * m * float(1 << (w + 1))

    def estimate(regs: dict) -> float:
        s_used = 0
        for tail in regs.values():
            rho = (w + 1) if tail == 0 else (w + 1) - tail.bit_length()
            s_used += 1 << ((w + 1) - rho)
        hs = s_used + (m - len(regs)) * (1 << (w + 1))
        raw = a_num / float(hs)
        v = m - len(regs)
        if raw <= 2.5 * m and v > 0:
            return float(m) * math.log(float(m) / float(v))
        return raw

    ests = {n: [estimate(state[n])] for n in nodes}
    for _t in range(radius):
        new = {n: dict(state[n]) for n in nodes}
        for n in nodes:
            tgt = new[n]
            for d_ in out.get(n, ()):
                for b, tail in state[d_].items():
                    if b not in tgt or tail < tgt[b]:
                        tgt[b] = tail
        state = new
        for n in nodes:
            ests[n].append(estimate(state[n]))
    rows = []
    for n in nodes:
        h = 0.0
        for t in range(1, radius + 1):
            h = h + max(ests[n][t] - ests[n][t - 1], 0.0) / float(t)
        rows.append((n, h, ests[n][radius]))
    rows.sort(key=lambda r: (-r[1], r[0]))
    q6 = Decimal("0.000001")
    values = ", ".join(
        f"('{n}', {Decimal(repr(h)).quantize(q6, ROUND_HALF_UP)},"
        f" {Decimal(repr(b)).quantize(q6, ROUND_HALF_UP)})"
        for n, h, b in rows[:20]
    )
    return (
        "SELECT node, CAST(harmonic AS DOUBLE) AS harmonic,"
        " CAST(ball_est AS DOUBLE) AS ball_est FROM (VALUES "
        + values
        + ") AS t(node, harmonic, ball_est) ORDER BY harmonic DESC, node"
    )


@query("graph_harmonic_hyperball", oracle=_hyperball_oracle)
def graph_harmonic_hyperball(spark, sf_dir):
    """Radius-4 harmonic centrality over the symmetric customer↔supplier
    graph via HyperBall (Boldi & Vigna 2013) on the deterministic HLL
    (operators/graph.py::harmonic_hyperball) — the distance-based third
    member of the centrality family, the closeness prior all-pairs BFS
    can't deliver at crawl scale. Top-20 by harmonic score. The Python
    oracle replays register lattice, estimator arithmetic, and the
    clamped fixed-order harmonic fold operand-for-operand — doubles are
    bit-identical, so even the top-20 CUT is tie-hazard-free."""
    from chatdata_spark.operators.graph import harmonic_hyperball

    edges = _both_ways(_transaction_pairs(spark, sf_dir))
    scored = harmonic_hyperball(edges, radius=4, p=4, salt="hb")
    return (
        scored.orderBy(F.desc("harmonic"), "node")
        .limit(20)
        .select(
            "node",
            F.round("harmonic", 6).alias("harmonic"),
            F.round("ball_est", 6).alias("ball_est"),
        )
        .orderBy(F.desc("harmonic"), "node")
    )

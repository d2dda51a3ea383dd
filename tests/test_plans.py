"""Physical-plan assertions: the scale properties the engine promises
(SURVEY §4) must be visible in the executed plans, not just intended.
If a refactor silently turns a pushed filter into a post-scan filter or a
broadcast join into a shuffle join, these fail."""

from __future__ import annotations

import pyspark.sql.functions as F

from chatdata_spark.functions.vector import hash_embed
from chatdata_spark.operators.knn import knn
from chatdata_spark.registry import queries
from tests.conftest import SF_ORACLE

_QS = queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_knn_plans_take_ordered_no_sort(spark):
    """Top-k must be TakeOrderedAndProject (per-partition heap), never a
    global Sort+Limit."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    p = _plan(knn(emb, "embedding", hash_embed("q", 64), k=5, id_col="vec_id"))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global sort operator


def test_knn_filter_pushed_to_scan(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    df = knn(emb, "embedding", hash_embed("q", 64), k=5, where=F.col("label") > 3, id_col="vec_id")
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(label), GreaterThan(label,3)]" in p


def test_q3_uses_broadcast_joins(spark):
    p = _plan(_QS["q3_shipping_priority"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in p


def test_semi_join_is_broadcast_semi(spark):
    p = _plan(_QS["semi_join_orders"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_projection_pruning_reaches_scan(spark):
    """A 2-column projection must read a 2-column schema, not the table."""
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    p = _plan(li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10))
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p


def test_ivf_search_prunes_partitions(spark, tmp_path):
    from chatdata_spark.operators.ivf import build_or_load_ivf

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = build_or_load_ivf(spark, emb, str(tmp_path / "ivf"), "vec_id", "embedding", 8)
    df = idx.search(hash_embed("q", 64), k=5, n_probe=2)
    p = _plan(df)
    assert "PartitionFilters: [cluster_id" in p


def test_q1_partial_aggregation(spark):
    """GroupBy must plan partial (map-side) + final agg — the shuffle
    carries 4 groups, not 600k rows."""
    p = _plan(_QS["q1_pricing_summary"](spark, SF_ORACLE))
    assert "partial_" in p.lower() or "HashAggregate" in p
    assert p.count("HashAggregate") >= 2  # partial + final


def test_distance_expression_stays_jvm(spark):
    """The cosine distance in the kNN path must contain no Python UDF
    (BatchEvalPython / ArrowEvalPython) — JVM higher-order functions only."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    p = _plan(knn(emb, "embedding", hash_embed("q", 64), k=5, id_col="vec_id"))
    assert "EvalPython" not in p


def test_q6_filters_pushed_and_partial_agg(spark):
    """Q6's predicates must reach the parquet scan (PushedFilters) and the
    aggregate must be partial (map-side combine) — the scan+filter+scalar
    agg plan whose shuffle is one row per task at any scale."""
    p = _plan(_QS["q6_forecast_revenue"](spark, SF_ORACLE))
    # the PushedFilters list is elided in toString; the leading entries
    # prove the predicates reached the scan, ReadSchema proves pruning
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)" in p
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate" in p
    assert "partial_sum" in p


def test_q18_broadcasts_having_survivors(spark):
    """The HAVING>250 survivor set must broadcast into orders — a shuffle
    join there would move the whole orders table for a tiny filter."""
    p = _plan(_QS["q18_large_volume_customer"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in p


def test_lsh_probe_is_scan_stage_predicate(spark):
    """The LSH bucket probe must stay a scan-stage filter + top-k heap —
    no shuffle, no sort before the rerank's TakeOrderedAndProject."""
    p = _plan(_QS["ann_lsh_probe"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in p
    assert "arrays_overlap" in p


def test_decontam_bench_set_is_broadcast(spark):
    """The benchmark n-gram set must reach the corpus as a broadcast hash
    join — shuffling the corpus against it would move the whole corpus for
    a set that is tiny by definition."""
    p = _plan(_QS["decontam_docs"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_jaccard_counts_from_index_without_window_or_self_join(spark):
    """Count-from-the-index design: exact common counts come from a hash
    aggregate over Generate-expanded bucket pairs — so the plan must carry
    no window (no row_number prefix ranking), no sort-merge self-join of
    the token index, and the only array_intersect is the bounded
    stop-shingle correction."""
    p = _plan(_QS["dedup_jaccard_exact"](spark, SF_ORACLE))
    assert "Window" not in p
    assert "SortMergeJoin" not in p
    assert "Generate" in p  # posexplode pair expansion, not a join
    assert "array_intersect" in p  # stop-array exactness correction


def test_retrieval_funnel_plan_shape(spark):
    """The flagship funnel's physical contract: every stage ranks through
    a top-k heap (4 of them: BM25, routed kNN, RRF page, rerank page), no
    cartesian product, no row-at-a-time Python; the only nested-loop join
    is the deliberate ONE-ROW corpus-stats broadcast.

    Since r12 the corpus-touching stages live in _funnel_page and the
    query checkpoints its ≤20-row result once (one funnel pass instead of
    two — plans/r12/retrieval_funnel_docs_{before,after}.txt), so the
    top-k contract is asserted on the pre-checkpoint page plan and the
    final plan must show the checkpoint actually took (the corpus subtree
    replaced by the ExistingRDD scan — a regression re-inlining it would
    double the corpus scans back)."""
    from chatdata_spark.queries.textsearch import _funnel_page

    pg = _plan(_funnel_page(spark, SF_ORACLE))
    assert pg.count("TakeOrderedAndProject") >= 4
    assert "CartesianProduct" not in pg
    assert "BatchEvalPython" not in pg
    p = _plan(_QS["retrieval_funnel_docs"](spark, SF_ORACLE))
    assert "Scan ExistingRDD" in p and "Scan parquet" not in p, (
        "final funnel plan re-inlines the corpus subtree (page checkpoint lost)"
    )
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_bucketed_fact_join_no_exchange_on_join(spark):
    """The registered bucketed join must read co-located buckets: the only
    exchange in the plan is the final aggregation's, never the join's."""
    df = _QS["bucketed_fact_join_revenue"](spark, SF_ORACLE)
    p = _plan(df)
    assert "SortMergeJoin" in p
    assert "Bucketed: true" in p
    import re

    # every hashpartitioning exchange must be on the agg key, not orderkey
    for m in re.finditer(r"Exchange hashpartitioning\(([a-z_#0-9]+)", p):
        assert not m.group(1).startswith("orderkey"), f"join-side shuffle:\n{m.group(0)}"


def test_stuff_context_single_shuffle_tail(spark):
    """Context assembly runs on a pre-limited page: beyond the page
    construction, the stuff stage itself adds only the ordering window +
    final single-row aggregate — no join back out, no Python eval."""
    p = _plan(_QS["stuff_context_docs"](spark, SF_ORACLE))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_substring_spans_plan_shape(spark):
    """The substring-dedup scale promises, plan-visible: the gram stream
    is hash-partitioned once and PERSISTED, and both the per-hash count
    and the survivor probe read the cache (two InMemoryTableScans — the
    Arrow gram pass executes once; without the persist the optimizer
    plans the subtree twice, r12 measurement). The occurrence count
    never builds a positions list (no collect_list — the r11
    formulation buffered every position of a hot gram in ONE
    unsplittable aggregation buffer), the survivor probe is a sort-free
    shuffled-hash LEFT SEMI join, zero row-at-a-time Python, zero
    cartesian products, and the text column never rides a shuffle (the
    post-explode stream is (id, pos, hash8) only)."""
    p = _plan(_QS["dedup_substring_spans"](spark, SF_ORACLE))
    assert p.count("InMemoryTableScan") >= 2
    assert "ShuffledHashJoin" in p and "LeftSemi" in p
    assert "collect_list" not in p
    assert "BatchEvalPython" not in p and "CartesianProduct" not in p
    import re

    # the same cached ArrowEvalPython node reprints under each
    # InMemoryTableScan — a REAL duplicate (distinct output ids) is
    # caught by conftest.assert_no_duplicated_python_udf in the oracle sweep
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "text" not in m.group(1), f"text column shuffled: {m.group(0)}"


def test_bounded_range_join_never_enumerates_pairs(spark):
    """The bounded interval join must NOT contain the join-then-prune
    shape: no WindowGroupLimit over the pair stream (the count-based path
    has no pair stream at all), no cartesian product, and an as-of union
    window instead. The output bound lives in the sequence explode."""
    p = _plan(_QS["range_join_bounded_recent_clicks"](spark, SF_ORACLE))
    import re

    # the ONLY WindowGroupLimits allowed are the as-of tie-break dedups
    # (row_number limit 1 over the RIGHT stream); a limit-N one would be
    # the join-then-prune pair ranking sneaking back in
    for m in re.finditer(r"WindowGroupLimit .*?row_number\(\), (\d+),", p):
        assert m.group(1) == "1", f"pair-stream top-N reappeared: {m.group(0)}"
    assert "CartesianProduct" not in p
    assert "Generate explode(sequence" in p


def test_star_components_round_is_two_aggregates_no_cartesian(spark):
    """One star-contraction round compiles to groupBy(min) + equi-joins —
    no per-component serialization, no cartesian products."""
    from chatdata_spark.operators.components import connected_components_star

    pairs = spark.createDataFrame([(i, i + 1) for i in range(30)], "i long, j long")
    p = _plan(connected_components_star(pairs))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p


def test_profile_approx_mode_has_no_expand_and_no_spread_exchange(spark):
    """Approx mode folds HLL into the partial agg: no Expand row-multiply
    and no repartition exchange before it (the r4->r5 drift fix) — the
    only exchange is the final single-partition aggregate combine."""
    from chatdata_spark.operators.profile import profile_table

    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    p = _plan(profile_table(o, ["o_custkey", "o_totalprice"], distinct="approx"))
    assert "Expand" not in p
    assert p.count("Exchange") == 1


def test_embedding_decontam_no_corpus_shuffle(spark):
    """The embedding decontamination promise, plan-visible: the corpus is
    screened in the scan stage (exactly one Arrow eval node) and NEVER
    shuffles — the only exchange is the broadcast of the tiny eval
    mapping; no cartesian product, no row-at-a-time Python."""
    from chatdata_spark.operators.decontam import embedding_decontaminate

    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    ev = e.filter(F.col("vec_id") % 13 == 0)
    tr = e.filter(F.col("vec_id") % 13 != 0)
    p = _plan(embedding_decontaminate(tr, ev, threshold=0.38))
    assert "Exchange hashpartitioning" not in p
    assert p.count("ArrowEvalPython") == 1
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p


def test_tfidf_single_tokenize_and_no_rank_exchange(spark):
    """tfidf_top_terms' scale promises, plan-visible: the per-(doc, term)
    tf table is persisted and BOTH branches (doc-length window, vocabulary
    df aggregate) read the cache — the corpus is tokenized once, not
    re-planned per branch; the vocabulary comes back broadcast (never a
    term-keyed corpus shuffle); and the rank window sits directly on the
    doc-partitioned stream with no exchange between it and the dl
    window."""
    from chatdata_spark.operators.textsearch import tfidf_top_terms

    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    p = _plan(tfidf_top_terms(d, "doc_id", "text"))
    assert p.count("InMemoryTableScan") == 2, "tf cache not shared by both branches"
    assert "BroadcastExchange" in p
    assert "BatchEvalPython" not in p and "CartesianProduct" not in p
    # between the rank window (row_number) and the dl window (sum) there
    # must be no exchange: the rank window reuses hash(id) partitioning
    rank_to_dl = p[p.index("Window [row_number") : p.index("Window [sum")]
    assert "Exchange" not in rank_to_dl, f"rank window added an exchange:\n{rank_to_dl}"


def test_cms_build_bounded_state_jvm_only(spark):
    """The count-min promises, plan-visible: the corpus path is pure JVM
    (md5 bucketing in codegen — no Python eval of any kind), the explode
    feeds a map-side-combined aggregate (partial+final HashAggregate pair)
    and the ONLY corpus exchange is the bounded (row_idx, col) shuffle —
    ≤ depth·width distinct keys regardless of input size."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.cms import cms_build

    ev = load_events(spark, SF_ORACLE).select("user_id")
    p = _plan(cms_build(ev, "user_id", depth=4, width=1024))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("HashAggregate") == 2, "cell count must map-side combine"
    assert "Generate explode" in p


def test_cms_estimate_broadcasts_sketch(spark):
    """Estimation joins the probes against the SKETCH side broadcast —
    the sketch is depth·width rows by construction, so a shuffle join
    here would be a plan regression."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.cms import cms_build, cms_estimate

    ev = load_events(spark, SF_ORACLE).select("user_id")
    sk = cms_build(ev, "user_id", depth=4, width=1024)
    p = _plan(cms_estimate(sk, ev.limit(10), "user_id", depth=4, width=1024))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_pmi_single_tokenize_broadcast_lookups(spark):
    """PMI's scale promises, plan-visible: the tokenized frame is
    persisted and BOTH the unigram and bigram branches read the cache
    (tokenize once); the unigram lookups and the 1-row totals come back
    broadcast (never a corpus re-shuffle onto the vocabulary); no Python
    eval, no cartesian product (the totals crossJoin is a broadcast
    nested-loop over ONE row — the benign scalar pattern)."""
    from chatdata_spark.operators.phrases import pmi_top_bigrams

    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    p = _plan(pmi_top_bigrams(d, "text", min_count=5, k=30))
    assert p.count("InMemoryTableScan") >= 2, "token cache not shared by both branches"
    assert "BroadcastExchange" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p  # top-k is a heap, not global sort


def test_locf_single_window_exchange(spark):
    """locf is ONE window pass: exactly one hashpartitioning exchange on
    the key before the final output sort."""
    p = _plan(_QS["events_locf_fill"](spark, SF_ORACLE))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" in p


def test_token_budget_agg_reuses_window_partitioning(spark):
    """The audit aggregate groups on the window's partition key (source
    leading), so no second hash exchange appears between the window and
    the aggregate."""
    p = _plan(_QS["token_budget_mixture"](spark, SF_ORACLE))
    assert p.count("Exchange hashpartitioning") == 1


def test_gap_fill_grid_joins_broadcast(spark):
    """fill_gaps: the dims cross and the grid⋈observed join must both be
    broadcast-side (the grid is |dims|x|buckets| — never a corpus-sized
    shuffle)."""
    p = _plan(_QS["timeseries_gap_fill"](spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # the only hash exchanges are the two aggregations (bounds + counts)
    assert p.count("Exchange hashpartitioning") <= 2


def test_morton3d_is_scan_stage_codegen(spark):
    """The 3-D interleave is constant-shift integer work inside
    whole-stage codegen — no UDF/BatchEvalPython anywhere."""
    p = _plan(_QS["morton3d_events_zvalues"](spark, SF_ORACLE))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the full interleave is a plain Project over the scan (JVM
    # expressions — AQE's formatted mode doesn't print codegen spans),
    # and the row filter reached the parquet scan
    assert "shiftrightunsigned" in p
    assert "LessThan(event_id,50)" in p


def test_sq8_rerank_screen_is_take_ordered(spark):
    """The quantized screen must end in TakeOrderedAndProject (top-50
    without a global sort); only candidates pay the exact cosine."""
    p = _plan(_QS["sq8_rerank_knn"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p

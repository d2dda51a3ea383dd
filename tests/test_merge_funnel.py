"""MERGE INTO clause semantics on tiny frames; funnel ordering/window
rules; retention cohort math. (Driver-scale oracle checks for the same
operators run in test_correctness.py.)"""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F

from chatdata_spark.operators.funnel import (
    cohort_retention,
    event_sequence,
    funnel_steps,
    sequence_count,
    sequence_match,
)
from chatdata_spark.operators.upsert import merge_into


def t(d, h=0):
    return datetime(2024, 1, d, h)


def test_merge_into_all_three_clauses(spark):
    target = spark.createDataFrame(
        [(1, "keep", 10.0), (2, "upd", 20.0), (3, "del", 30.0)], "k long, tag string, v double"
    )
    source = spark.createDataFrame(
        [(2, "upd2", 99.0), (3, "x", 0.0), (4, "new", 40.0)], "k long, tag string, v double"
    )
    out = merge_into(
        target,
        source,
        ["k"],
        when_matched_update={"v": F.col("__src_v"), "tag": F.col("__src_tag")},
        when_matched_delete=F.col("tag") == "del",
    )
    rows = {(r.k, r.tag, r.v) for r in out.collect()}
    assert rows == {
        (1, "keep", 10.0),   # untouched target
        (2, "upd2", 99.0),   # matched update from source
        (4, "new", 40.0),    # not-matched insert
    }


def test_merge_into_without_insert(spark):
    """An update-only MERGE is a merge of the source rows whose key the
    target holds: nothing is inserted."""
    target = spark.createDataFrame([(1, 1.0)], "k long, v double")
    source = spark.createDataFrame([(1, 2.0), (9, 9.0)], "k long, v double")
    matched = source.join(target.select("k"), "k", "left_semi")
    out = merge_into(target, matched, ["k"], when_matched_update={"v": F.col("__src_v")})
    assert {(r.k, r.v) for r in out.collect()} == {(1, 2.0)}


def test_funnel_order_and_window_rules(spark):
    rows = [
        # u1 completes in order within 7 days → step 3
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # u2 clicks BEFORE first view → click doesn't count → step 1
        (2, t(2), "click"), (2, t(3), "view"),
        # u3 purchase outside the 7-day window of t1 → step 2
        (3, t(1), "view"), (3, t(2), "click"), (3, t(20), "purchase"),
        # u4 never views → not in funnel at all
        (4, t(1), "click"), (4, t(2), "purchase"),
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    conds = [F.col("event_type") == s for s in ("view", "click", "purchase")]
    got = {r.user_id: r.step for r in funnel_steps(e, "user_id", "ts", conds).collect()}
    assert got == {1: 3, 2: 1, 3: 2}


def _sym():
    return (
        F.when(F.col("event_type") == "view", F.lit("v"))
        .when(F.col("event_type") == "click", F.lit("c"))
        .when(F.col("event_type") == "purchase", F.lit("p"))
        .otherwise(F.lit("o"))
    )


def test_event_sequence_orders_by_ts_then_tiebreak(spark):
    rows = [
        # u1: same-ts tie broken by event_id (2 before 3)
        (1, t(1), 1, "view"), (1, t(2), 3, "purchase"), (1, t(2), 2, "click"),
        # u2: out-of-arrival-order timestamps sort correctly
        (2, t(3), 5, "purchase"), (2, t(1), 4, "view"),
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    got = {r.user_id: r.seq for r in
           event_sequence(e, "user_id", "ts", _sym(), tie_break="event_id").collect()}
    assert got == {1: "vcp", 2: "vp"}


def test_sequence_match_exclusion_gap(spark):
    rows = [
        (1, t(1), 1, "click"), (1, t(2), 2, "purchase"),          # c..p, no view → match
        (2, t(1), 3, "click"), (2, t(2), 4, "view"), (2, t(3), 5, "purchase"),  # view between
        (3, t(1), 6, "view"), (3, t(2), 7, "purchase"),           # no click at all
        # u4: first c..p pair has a view between, but a LATER clean pair exists
        (4, t(1), 8, "click"), (4, t(2), 9, "view"), (4, t(3), 10, "purchase"),
        (4, t(4), 11, "click"), (4, t(5), 12, "purchase"),
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    got = {r.user_id: r.matched for r in
           sequence_match(e, "user_id", "ts", _sym(), "c[^v]*p", tie_break="event_id").collect()}
    assert got == {1: True, 2: False, 3: False, 4: True}


def test_sequence_count_nonoverlapping_lazy(spark):
    rows = [
        # u1: v p v p → 2 cycles
        (1, t(1), 1, "view"), (1, t(2), 2, "purchase"),
        (1, t(3), 3, "view"), (1, t(4), 4, "purchase"),
        # u2: v v p p → lazy leftmost consumes v..p once; second v already used,
        # remaining "p" alone can't restart → 1 (greedy-earliest, non-overlapping)
        (2, t(1), 5, "view"), (2, t(2), 6, "view"),
        (2, t(3), 7, "purchase"), (2, t(4), 8, "purchase"),
        # u3: p v → 0
        (3, t(1), 9, "purchase"), (3, t(2), 10, "view"),
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    got = {r.user_id: r.n_matches for r in
           sequence_count(e, "user_id", "ts", _sym(), "v.*?p", tie_break="event_id").collect()}
    assert got == {1: 2, 2: 1, 3: 0}


def test_cohort_retention_counts(spark):
    rows = [
        (1, t(1)), (1, t(2)), (1, t(3)),   # cohort d1, back on d2 and d3
        (2, t(1)), (2, t(3)),              # cohort d1, back on d3
        (3, t(2)), (3, t(3)),              # cohort d2, back on d3
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.cohort_day.day, r.offset_days): r.n_users
        for r in cohort_retention(e, "user_id", "ts").collect()
    }
    assert got == {(1, 0): 2, (1, 1): 1, (1, 2): 2, (2, 0): 1, (2, 1): 1}


def test_funnel_step_gap_bounds_each_adjacent_step(spark):
    rows = [
        # u1 completes with tight gaps → step 3 under both modes
        (1, t(1), "view"), (1, t(1, 6), "click"), (1, t(1, 12), "purchase"),
        # u2: click comes 3 days after view — fine loose (7d window),
        # out of the 1-day adjacent gap → step 1 tight
        (2, t(1), "view"), (2, t(4), "click"), (2, t(4, 1), "purchase"),
        # u3: click next hour, purchase 3 days after the click — step 2 tight
        (3, t(1), "view"), (3, t(1, 1), "click"), (3, t(5), "purchase"),
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    conds = [F.col("event_type") == s for s in ("view", "click", "purchase")]
    loose = {r.user_id: r.step for r in funnel_steps(e, "user_id", "ts", conds).collect()}
    tight = {r.user_id: r.step for r in
             funnel_steps(e, "user_id", "ts", conds, step_gap="INTERVAL 1 DAY").collect()}
    assert loose == {1: 3, 2: 3, 3: 3}
    assert tight == {1: 3, 2: 1, 3: 2}

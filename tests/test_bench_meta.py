"""bench.py guard logic — the median-normalized e2e regression guard
(r9 verdict item 3) must fire on relative movement only, never on
uniform box drift, with the 3x absolute backstop intact."""

from __future__ import annotations

import importlib.util
import os
import sys


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench_meta_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_meta_mod"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_uniform_drift_never_fires():
    """The r8/r9 driver-final failure mode: EVERY entry inflated ~1.7x
    (driver-box ambient). The old raw 1.5x line fired on all of them;
    the normalized guard must fire on none."""
    b = _bench()
    prev = {f"q{i}": 1.0 + 0.1 * i for i in range(10)}
    cur = {k: v * 1.7 for k, v in prev.items()}
    assert b.e2e_guard_firings(cur, prev) == []


def test_relative_movement_fires_through_drift():
    """One entry regresses 2.5x against peers that drifted 1.2x — the
    normalized ratio (~2.1x) must fire, and ONLY that entry."""
    b = _bench()
    prev = {f"q{i}": 1.0 for i in range(10)}
    cur = {k: 1.2 for k in prev}
    cur["q3"] = 2.5 * 1.2
    lines = b.e2e_guard_firings(cur, prev)
    assert len(lines) == 1 and "q3" in lines[0]


def test_absolute_backstop_catches_collective_regression():
    """Everything regressing together 3.5x would be cancelled by the
    median — the 3x raw backstop must still fire on every entry."""
    b = _bench()
    prev = {f"q{i}": 1.0 for i in range(10)}
    cur = {k: 3.5 for k in prev}
    lines = b.e2e_guard_firings(cur, prev)
    assert len(lines) == 10


def test_improvements_fire_too():
    """A large one-entry improvement (committed value was inflated) is
    also a signal — rel < 1/1.5 fires so the artifact gets recommitted
    at the better value (the token_budget r10 case)."""
    b = _bench()
    prev = {f"q{i}": 1.0 for i in range(10)}
    cur = dict.fromkeys(prev, 1.0)
    cur["q7"] = 0.5
    lines = b.e2e_guard_firings(cur, prev)
    assert len(lines) == 1 and "q7" in lines[0]


def test_small_overlap_uses_raw_ratio():
    """Fewer than 5 shared entries: the median is unreliable — fall back
    to raw ratios (med = 1)."""
    b = _bench()
    prev = {"a": 1.0, "b": 1.0}
    cur = {"a": 1.6, "b": 1.0}
    lines = b.e2e_guard_firings(cur, prev)
    assert len(lines) == 1 and lines[0].count("a") >= 1


def test_guard_context_lines_carry_sentinel_and_shard_medians():
    """r10 verdict item 4: a firing must carry its own ambient-vs-real
    evidence — the knn_topk sentinel time and each shard's median ratio
    vs the committed artifact — so a driver-final firing is classifiable
    from the artifact alone."""
    b = _bench()
    lines = b.guard_context_lines(
        {"knn_topk": 0.121},
        [("q1_pricing_summary+9", 1.43, ["graph_pagerank_transactions"])],
    )
    assert any("knn_topk sentinel=0.121s" in ln for ln in lines)
    assert any(
        "shard[q1_pricing_summary+9] median-vs-committed=1.43" in ln
        and "graph_pagerank_transactions" in ln
        for ln in lines
    )
    # missing sentinel (e.g. a shard failed) must not crash the guard path
    lines = b.guard_context_lines({}, [("a+0", None, [])])
    assert any("sentinel=n/a" in ln for ln in lines)
    assert any("median-vs-committed=n/a" in ln for ln in lines)


def test_x10_fixture_replicates_jaccard_pairs_tenfold(spark, tmp_path):
    """The 10x fixture (tools/gen_sf10x.py) is key-disjoint and
    word-perturbed per replica, so ``dedup_jaccard_exact`` over it returns
    each 1x pair once per replica: exactly 10x the pairs, both ends in one
    replica (ids offset by rep * 2^33), each with its 1x score. The build
    leaves no half-written sibling dir behind."""
    from chatdata_spark.registry import queries
    from tests.conftest import SF_SMOKE
    from tools import gen_sf10x

    dst = str(tmp_path / "x10")
    gen_sf10x.build(spark, SF_SMOKE, dst)
    assert sorted(os.listdir(tmp_path)) == ["x10"]

    q = queries()["dedup_jaccard_exact"]
    one = {(r.i, r.j): r.jaccard for r in q(spark, SF_SMOKE).collect()}
    ten = [(r.i, r.j, r.jaccard) for r in q(spark, dst).collect()]
    assert one and len(ten) == 10 * len(one)
    mask = gen_sf10x.OFF - 1
    for i, j, score in ten:
        assert i >> 33 == j >> 33
        assert one[(i & mask, j & mask)] == score
    assert len({(i >> 33, i, j) for i, j, _ in ten}) == len(ten)

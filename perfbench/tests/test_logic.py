"""Spark-free tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import gen, oracle
from perfbench.layers import E2E, PER_LAYER
from perfbench.stats import beyond, check_name, percentile, summarize, tail_level
from perfbench.tracing import Span, Tracer, covered, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile rule -------------------------------------------------------------
@pytest.mark.parametrize("n,level", [
    (1, None), (19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_level_is_highest_with_ten_beyond(n, level):
    assert tail_level(n) == level
    if level is not None:
        assert beyond(n, level) >= 10
        higher = [p for p in (75.0, 90.0, 95.0, 99.0, 99.9) if p > level]
        assert all(beyond(n, p) < 10 for p in higher)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([3.0], 99) == 3.0
    assert sum(x > percentile(xs, 90) for x in xs) == beyond(100, 90) == 10


def test_summarize_reports_count_and_no_tail_below_twenty():
    s = summarize([0.5] * 19)
    assert s == {"n": 19, "p50": 0.5, "tail_pct": None, "tail": None}
    s = summarize([float(i) for i in range(100)])
    assert (s["n"], s["tail_pct"], s["tail"]) == (100, 90.0, 89.0)


# -- seed determinism ------------------------------------------------------------
def _inputs(seed: int) -> dict:
    c = gen.corpus(gen.rng_for(seed, "rag_corpus"), 200)
    b = gen.curation_base(gen.rng_for(seed, "curation_corpus"), 100)
    rng = gen.rng_for(seed, "kb_plan")
    plan = gen.kb_plan(rng, gen.vocabulary(rng), 40)
    return {"text": c["text"], "emb": c["embedding"].tobytes(), "lang": c["lang"],
            "cur": b["text"], "near": b["near"], "plan": json.dumps(plan, sort_keys=True),
            "req": gen.rag_requests(gen.rng_for(seed, "rag_requests"), c, 20),
            "events": gen.event_batch(gen.rng_for(seed, "kb_events"), 0)["item"]}


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_other_seed_gives_other_inputs_of_the_same_size():
    a, b = _inputs(7), _inputs(8)
    for k in a:
        assert a[k] != b[k], k
    assert len(a["text"]) == len(b["text"]) and len(a["emb"]) == len(b["emb"])
    assert [r["kind"] for r in a["req"]] == [r["kind"] for r in b["req"]]


def test_replicas_are_key_disjoint_and_share_no_words():
    base = gen.curation_base(gen.rng_for(1, "c"), 50)
    docs = gen.replicate(base, 3)
    assert len(set(docs["doc_id"].tolist())) == 150
    w0 = {w for t in docs["text"][:50] for w in t.split()}
    w1 = {w for t in docs["text"][50:100] for w in t.split()}
    assert not w0 & w1


# -- metric names ----------------------------------------------------------------
def test_metric_names_use_the_allowed_charset():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert check_name(n) == n
    for bad in ("", "a b", "x/y", "-lead", "a" * 65, "ms:p50"):
        with pytest.raises(ValueError):
            check_name(bad)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == E2E
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, u, b, _fn in PER_LAYER]
    assert any(m["name"] == "setup_s" and m["bound"] == max(x["bound"] for x in bench["end_to_end"])
               for m in bench["end_to_end"])


# -- span self time --------------------------------------------------------------
def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered(0, 10, [(-5, 2), (9, 20)]) == 3
    assert covered(0, 10, [(3, 3)]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "req", 1, None, 0.0, 10.0),
        Span(1, "build", 1, 0, 1.0, 4.0),
        Span(2, "inner", 1, 1, 2.0, 3.0),
        Span(3, "exec", 1, 0, 3.5, 9.0),  # overlaps build by 0.5 s
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 8)  # children cover [1, 9]
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(5.5)


def test_tracer_records_nesting_and_is_silent_when_off():
    t = Tracer(False)
    with t.span("a"):
        t.count("c")
    assert t.spans == [] and not t.counts
    t.enabled = True
    t.new_op()
    with t.span("a"):
        with t.span("b"):
            t.count("c", 2)
    a, b = t.spans
    assert (a.parent, b.parent, b.op_id, t.counts["c"]) == (None, 0, 1, 2)
    agg = t.by_name()
    assert agg["a"]["self_s"] == pytest.approx(a.dur - b.dur)


# -- oracles ---------------------------------------------------------------------
def test_topk_check_accepts_ties_and_rejects_wrong_rows():
    ids = np.array([1, 2, 3, 4])
    dist = np.array([0.1, 0.2, 0.2, 0.5])
    assert oracle.check_topk([(1, 0.1), (3, 0.2)], ids, dist, 2) == []
    assert oracle.check_topk([(1, 0.1), (4, 0.5)], ids, dist, 2)
    assert oracle.check_topk([(1, 0.1)], ids, dist, 2)


def test_trustrank_fixed_point_conserves_mass_on_a_cycle():
    r = oracle.trustrank_fp([1, 2, 3], [2, 3, 1], [1], iterations=6)
    assert set(r) == {1, 2, 3}
    assert sum(r.values()) <= oracle.SCALE
    assert r[1] > 0


def test_components_and_split_are_deterministic():
    assert oracle.components([1, 2, 3, 4], [(2, 4), (4, 3)]) == {1: 1, 2: 2, 3: 2, 4: 2}
    assert oracle.split_of(12345) == oracle.split_of(12345)
    assert {oracle.split_of(i) for i in range(200)} == {"train", "val", "test"}

"""Multi-vector MaxSim late interaction: numpy reference parity, the
decomposable-aggregation plan shape (one shuffle, partial max map-side)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from chatdata_spark.functions.vector import hash_embed
from chatdata_spark.operators.maxsim import maxsim_scores, maxsim_topk
from tests.conftest import SF_ORACLE

MQ = [hash_embed(f"mq{i}", 64) for i in range(3)]


def _numpy_scores(emb_rows, qs):
    by_label = {}
    for r in emb_rows:
        by_label.setdefault(r["label"], []).append(r["embedding"])
    out = {}
    for lbl, vecs in by_label.items():
        m = np.array(vecs, dtype=np.float64)
        mn = np.linalg.norm(m, axis=1)
        score = 0.0
        for q in qs:
            q = np.asarray(q, dtype=np.float64)
            score += float(np.max((m @ q) / (mn * np.linalg.norm(q))))
        out[lbl] = round(score, 6)
    return out


def test_maxsim_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    rows = emb.select("label", "embedding").collect()
    want = _numpy_scores(rows, MQ)
    got = {r["label"]: r["score"] for r in maxsim_scores(emb, "label", "embedding", MQ).collect()}
    assert set(got) == set(want)
    for lbl in want:
        assert abs(got[lbl] - want[lbl]) < 2e-6, (lbl, got[lbl], want[lbl])


def test_maxsim_topk_orders_and_limits(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    top = maxsim_topk(emb, "label", "embedding", MQ, k=3).collect()
    assert len(top) == 3
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_maxsim_single_shuffle_with_partial_agg(spark):
    """The scoring aggregation must be decomposable: one Exchange, with a
    partial HashAggregate BEFORE it (map-side max) — the network carries
    q doubles per group, never vectors."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    plan = (
        maxsim_scores(emb, "label", "embedding", MQ)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    pre_exchange = plan.split("Exchange")[-1]  # below the exchange = map side
    assert "partial_max" in pre_exchange or "partial" in pre_exchange, plan


def test_mmr_fetch_n_contract_guard(spark):
    """fetch_n is a results-page constant: the bounded-driver-greedy
    contract refuses corpus-scale candidate sets explicitly."""
    import pytest

    from chatdata_spark.operators.mmr import mmr_select
    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    with pytest.raises(ValueError, match="fetch_n"):
        mmr_select(emb, "embedding", [0.1] * 64, k=10, id_col="vec_id", fetch_n=5000)


def test_mmr_distributed_matches_driver_greedy(spark):
    """The executor-side MMR (mmr_greedy in a mapInPandas task) is bit-identical
    to the bounded driver greedy on the same screen — the scale path
    changes WHERE the arithmetic runs, not what it computes."""
    from chatdata_spark.operators.mmr import mmr_select, mmr_select_distributed
    from chatdata_spark.functions.vector import hash_embed
    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = hash_embed("mmr dist parity", 64)
    a = [(r.vec_id, r.mmr_rank, r.mmr_score)
         for r in mmr_select(emb, "embedding", q, k=10, id_col="vec_id", fetch_n=100).collect()]
    b = [(r.vec_id, r.mmr_rank, r.mmr_score)
         for r in mmr_select_distributed(emb, "embedding", q, k=10, id_col="vec_id", fetch_n=100).collect()]
    assert a == b
    # and the scale path accepts a fetch_n the driver contract refuses
    big = mmr_select_distributed(emb, "embedding", q, k=5, id_col="vec_id", fetch_n=5000).collect()
    assert len(big) == 5

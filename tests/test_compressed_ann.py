"""The compressed-ANN path shared by PQ, IVF-PQ, SQ8 and binary search:
(a) every screen reranks through knn(), so a screen that passes the whole
corpus returns exactly knn()'s top-k; (b) the one PQ codec writes the codes
that _encode_np gives over the stored float32 vectors, which is what keeps
indexes built earlier loadable and searchable unchanged."""

from __future__ import annotations

import os

import numpy as np
import pytest

from chatdata_spark.operators.binquant import binary_knn
from chatdata_spark.operators.ivfpq import IVFPQIndex, _centroid_lookup
from chatdata_spark.operators.knn import knn
from chatdata_spark.operators.pq import PQIndex, _encode_np
from chatdata_spark.operators.sq8 import sq8_knn
from chatdata_spark.queries.vector import DIM, Q1, _ivf_index, _ivfpq_index, _pq_index
from tests.conftest import SF_ORACLE

K = 10


def _emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


def _pq_full_screen(emb, n, tmp_path):
    idx = PQIndex.build(emb, str(tmp_path / "pq"), "vec_id", "embedding", m=8)
    return idx.search(emb, Q1, k=K, refine=-(-n // K), select=["vec_id", "label"])


def _sq8_full_screen(emb, n, tmp_path):
    return sq8_knn(emb, "embedding", Q1, dim=DIM, k=K, select=["vec_id", "label"], rerank=n)


def _binary_full_screen(emb, n, tmp_path):
    return binary_knn(
        emb, "embedding", Q1, DIM, k=K, id_col="vec_id", select=["vec_id", "label"], rerank=n
    )


@pytest.mark.parametrize(
    "screen", [_pq_full_screen, _sq8_full_screen, _binary_full_screen],
    ids=["pq", "sq8", "binary"],
)
def test_full_corpus_screen_equals_exact_knn(spark, tmp_path, screen):
    """With the screen covering all n rows the candidate set is the corpus,
    so the rerank must return knn()'s rows: same ids, same distances, same
    order (the (dist, id) tie-break included)."""
    emb = _emb(spark)
    n = emb.count()
    want = knn(emb, "embedding", Q1, k=K, select=["vec_id", "label"], id_col="vec_id").collect()
    got = screen(emb, n, tmp_path).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def _assert_codes_are_encode_np(spark, idx, rows, centroids=None):
    """The codes ``idx`` wrote equal _encode_np over the stored vectors as
    the encoder sees them: float32 read back as float64, L2-normalized,
    minus the row's centroid (residual), times the rotation (OPQ)."""
    ids = [int(r["vec_id"]) for r in rows]
    x = np.array([r["embedding"] for r in rows], dtype=np.float32).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    if centroids is not None:
        x = x - centroids
    if idx.rotation is not None:
        x = x @ idx.rotation
    written = {
        int(r["vec_id"]): list(r["codes"])
        for r in spark.read.parquet(os.path.join(idx.path, "codes")).collect()
    }
    assert [written[i] for i in ids] == _encode_np(x, idx.codebooks).tolist()


@pytest.mark.parametrize("opq_iters", [0, 2], ids=["plain", "opq"])
def test_pq_build_writes_encode_np_codes(spark, tmp_path, opq_iters):
    emb = _emb(spark)
    idx = PQIndex.build(emb, str(tmp_path / "pq"), "vec_id", "embedding", m=8, opq_iters=opq_iters)
    assert (idx.rotation is not None) == (opq_iters > 0)
    _assert_codes_are_encode_np(spark, idx, emb.select("vec_id", "embedding").collect())


def _assert_ivfpq_codes_are_encode_np(spark, idx):
    rows = spark.read.parquet(idx.ivf._data_path()).select(
        "vec_id", "embedding", "cluster_id"
    ).collect()
    centroids = None
    if idx.residual:
        cids = np.array([r["cluster_id"] for r in rows], dtype=np.int64)
        centroids = _centroid_lookup(idx.ivf)[cids]
    _assert_codes_are_encode_np(spark, idx, rows, centroids)


@pytest.mark.parametrize(
    "kw", [{}, {"residual": True}, {"residual": True, "opq_iters": 2}],
    ids=["plain", "residual", "residual_opq"],
)
def test_ivfpq_build_writes_encode_np_codes(spark, tmp_path, kw):
    ivf = _ivf_index(spark, SF_ORACLE)
    idx = IVFPQIndex.build(ivf, str(tmp_path / "ivfpq"), m=8, **kw)
    assert idx.residual == kw.get("residual", False)
    _assert_ivfpq_codes_are_encode_np(spark, idx)


def test_shared_cache_indexes_hold_encode_np_codes(spark):
    """The shared-cache indexes the registered queries load (keyed on the
    source parquet only, so they outlive code changes) hold the codes the
    current codec would write."""
    emb = _emb(spark)
    for idx in (_pq_index(spark, SF_ORACLE), _pq_index(spark, SF_ORACLE, opq_iters=6)):
        _assert_codes_are_encode_np(spark, idx, emb.select("vec_id", "embedding").collect())
    for idx in (
        _ivfpq_index(spark, SF_ORACLE),
        _ivfpq_index(spark, SF_ORACLE, residual=True, opq_iters=6),
    ):
        _assert_ivfpq_codes_are_encode_np(spark, idx)

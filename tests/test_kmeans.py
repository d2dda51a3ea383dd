"""Fixed-point distributed k-means (operators/kmeans.py): partition
invariance, degenerate inputs, and the exact-replay contract beyond the
registry oracle (tests/test_correctness.py covers the sf0.01 driver
comparison)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from chatdata_spark.operators.kmeans import (
    QSCALE,
    kmeans_fixed_point,
    kmeans_replay,
)


def _make_df(spark, vecs, n_partitions):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "id long, vec array<float>").repartition(n_partitions)


def _collect(df):
    return sorted((r.id, r.cluster_id, r.dist2) for r in df.collect())


def test_matches_replay_and_partition_invariant(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((120, 16)).astype(np.float32)
    expected_a, expected_d = kmeans_replay(list(range(120)), vecs, k=5, n_iter=3)
    expected = sorted((i, int(expected_a[i]), int(expected_d[i])) for i in range(120))
    for parts in (1, 7):
        got = _collect(kmeans_fixed_point(_make_df(spark, vecs, parts), "id", "vec", k=5, n_iter=3))
        assert got == expected, f"partitioning {parts} diverged from the sequential replay"


def test_identical_points_collapse_to_seed_zero(spark):
    # All points identical: every assignment ties across seeds -> argmin
    # takes cluster 0; empty clusters keep their (identical) seed.
    vecs = np.ones((30, 8), dtype=np.float32) * 0.5
    out = _collect(kmeans_fixed_point(_make_df(spark, vecs, 3), "id", "vec", k=4, n_iter=2))
    assert {c for _, c, _ in out} == {0}
    assert all(d == 0 for _, _, d in out)


def test_empty_cluster_keeps_previous_centroid(spark):
    # Two tight blobs, k=3: one seed never wins a point after round 1 and
    # must keep its centroid (no division by zero, no drift).
    a = np.full((10, 4), -1.0, dtype=np.float32)
    b = np.full((10, 4), 1.0, dtype=np.float32)
    vecs = np.vstack([a, b])
    out = _collect(kmeans_fixed_point(_make_df(spark, vecs, 2), "id", "vec", k=3, n_iter=3))
    ids_a = {c for i, c, _ in out if i < 10}
    ids_b = {c for i, c, _ in out if i >= 10}
    assert len(ids_a) == 1 and len(ids_b) == 1 and ids_a != ids_b
    assert all(d == 0 for _, _, d in out)  # centroids land exactly on the blobs


def test_null_vectors_excluded(spark):
    rows = [(0, [0.1, 0.2]), (1, None), (2, [0.3, 0.4]), (3, [0.5, 0.6])]
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    out = kmeans_fixed_point(df, "id", "vec", k=2, n_iter=1)
    assert sorted(r.id for r in out.collect()) == [0, 2, 3]


def test_quantization_is_exact_floor(spark):
    # floor(float64(v) * 2^20) — spot-check the sign convention around 0.
    df = spark.createDataFrame([(0, [0.5, -0.5, 0.0])], "id long, vec array<float>")
    from chatdata_spark.operators.kmeans import quantize_vectors

    q = quantize_vectors(df, "vec").collect()[0]["q"]
    assert q == [QSCALE // 2, -(QSCALE // 2), 0]


def test_assignment_stage_has_no_shuffle(spark):
    # The per-round assignment is a scan-stage Arrow projection: quantized
    # scan -> ArrowEvalPython, no Exchange before the groupBy update.
    vecs = np.random.default_rng(3).standard_normal((40, 8)).astype(np.float32)
    df = _make_df(spark, vecs, 2)
    from chatdata_spark.operators.kmeans import _assign_udf, quantize_vectors

    cents = np.floor(vecs[:3].astype(np.float64) * QSCALE).astype(np.int64)
    assigned = quantize_vectors(df, "vec").withColumn(
        "c", _assign_udf(cents, False)(F.col("q"))
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("ArrowEvalPython")[0]


def test_udf_objects_memoized():
    from chatdata_spark.operators.kmeans import _assign_udf, _quant_udf

    cents = np.arange(12, dtype=np.int64).reshape(3, 4)
    assert _assign_udf(cents, True) is _assign_udf(cents.copy(), True)
    assert _quant_udf(20) is _quant_udf(20)


@pytest.mark.parametrize("k,n_iter", [(2, 1), (4, 5)])
def test_replay_tie_break_is_smallest_cluster(k, n_iter):
    # Duplicate seed vectors: distances tie exactly; argmin must take the
    # smaller cluster id on BOTH paths (numpy argmin first-occurrence).
    vecs = np.tile(np.linspace(-1, 1, 6, dtype=np.float32), (k + 3, 1))
    a, d = kmeans_replay(list(range(k + 3)), vecs, k=k, n_iter=n_iter)
    assert set(a) == {0} and set(d) == {0}


def test_assign_udf_key_includes_shape():
    from chatdata_spark.operators.kmeans import _assign_udf

    z48 = np.zeros((4, 8), dtype=np.int64)
    z216 = np.zeros((2, 16), dtype=np.int64)
    assert z48.tobytes() == z216.tobytes()  # the collision the key must split
    assert _assign_udf(z48, False) is not _assign_udf(z216, False)


def test_assign_udf_cache_bounded():
    from chatdata_spark.operators import kmeans as km

    before = dict(km._ASSIGN_UDFS)
    try:
        km._ASSIGN_UDFS.clear()
        for i in range(km._ASSIGN_UDFS_MAX + 10):
            km._assign_udf(np.full((2, 2), i, dtype=np.int64), False)
        assert len(km._ASSIGN_UDFS) <= km._ASSIGN_UDFS_MAX
    finally:
        km._ASSIGN_UDFS.clear()
        km._ASSIGN_UDFS.update(before)


def test_replay_rejects_unsorted_ids_and_overflow():
    import pytest as _pytest

    vecs = np.ones((4, 4), dtype=np.float32)
    with _pytest.raises(ValueError, match="sorted"):
        kmeans_replay([2, 1, 3, 4], vecs, k=2, n_iter=1)
    big = np.full((4, 4), 1.0e9, dtype=np.float32)  # quantizes past the bound
    with _pytest.raises(ValueError, match="bound"):
        kmeans_replay([1, 2, 3, 4], big, k=2, n_iter=1)


def test_quantize_udf_rejects_overflow_magnitude(spark):
    from chatdata_spark.operators.kmeans import quantize_vectors

    df = spark.createDataFrame([(0, [1.0e9] * 4)], "id long, vec array<float>")
    import pytest as _pytest

    with _pytest.raises(Exception, match="bound"):
        quantize_vectors(df, "vec").collect()

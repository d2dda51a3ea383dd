"""PSI drift monitor: bin math, clamp semantics, identical-vs-shifted
behavior. (Driver-scale oracle check runs in test_correctness.py via
drift_psi_event_values.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chatdata_spark.operators.drift import (
    bin_id,
    fixed_bin_edges,
    hist_counts,
    psi_from_counts,
    psi_report,
)


def _df(spark, vals):
    return spark.createDataFrame([(float(v),) for v in vals], "v double")


def test_fixed_bin_edges_math():
    assert fixed_bin_edges(0.0, 10.0, 5) == [2.0, 4.0, 6.0, 8.0]
    with pytest.raises(ValueError):
        fixed_bin_edges(1.0, 1.0, 4)


def test_bin_id_clamps_tails(spark):
    edges = fixed_bin_edges(0.0, 10.0, 5)
    df = _df(spark, [-100, 0, 1.9, 2.0, 9.9, 10, 1e9])
    got = [r.b for r in df.select(bin_id(F.col("v"), edges).alias("b")).collect()]
    # left-closed bins; out-of-range values land in the edge bins
    assert got == [0, 0, 0, 1, 4, 4, 4]


def test_psi_near_zero_for_identical_distributions(spark):
    vals = [i % 50 for i in range(2000)]
    rep = psi_report(_df(spark, vals), _df(spark, vals), "v", n_bins=10)
    total = rep.filter(F.col("bin") == -1).collect()[0]
    assert total.n_ref == total.n_cur == 2000
    assert abs(total.psi_term) < 1e-4  # smoothing only


def test_psi_flags_a_shift(spark):
    ref = [i % 50 for i in range(2000)]
    cur = [25 + (i % 50) for i in range(2000)]  # mean shift by half the range
    rep = psi_report(_df(spark, ref), _df(spark, cur), "v", n_bins=10)
    total = rep.filter(F.col("bin") == -1).collect()[0]
    assert total.psi_term > 0.25  # the "shifted" rule-of-thumb threshold


def test_explicit_edges_pin_the_bins(spark):
    ref, cur = _df(spark, range(100)), _df(spark, range(100))
    edges = fixed_bin_edges(0.0, 100.0, 4)
    rc = hist_counts(ref, "v", edges, out="n_ref")
    cc = hist_counts(cur, "v", edges, out="n_cur")
    rep = psi_from_counts(rc, cc, len(edges)).filter(F.col("bin") >= 0)
    rows = {r.bin: (r.n_ref, r.n_cur) for r in rep.collect()}
    assert rows == {0: (25, 25), 1: (25, 25), 2: (25, 25), 3: (25, 25)}


def test_nulls_dropped_and_empty_ref_raises(spark):
    ref = spark.createDataFrame([(1.0,), (None,)], "v double")
    cur = spark.createDataFrame([(1.5,), (None,)], "v double")
    total = psi_report(ref, cur, "v", n_bins=2).filter(F.col("bin") == -1).collect()[0]
    assert (total.n_ref, total.n_cur) == (1, 1)
    empty = spark.createDataFrame([(None,)], "v double")
    with pytest.raises(ValueError, match="empty reference"):
        psi_report(empty, cur, "v")


def test_psi_categorical_counts_and_vanished_category(spark):
    from chatdata_spark.operators.drift import psi_categorical

    ref = spark.createDataFrame([("en",)] * 6 + [("de",)] * 4, "c string")
    cur = spark.createDataFrame([("en",)] * 8 + [("fr",)] * 2, "c string")
    rep = psi_categorical(ref, cur, "c")
    rows = {r.category: (r.n_ref, r.n_cur) for r in rep.collect()}
    # de vanished, fr appeared — both participate with a zero side
    assert rows == {"en": (6, 8), "de": (4, 0), "fr": (0, 2), None: (10, 10)}
    total = [r for r in rep.collect() if r.category is None][0]
    assert total.psi_term > 0.1  # a quarter of the mass moved


def test_psi_categorical_identical_mix_is_zero(spark):
    from chatdata_spark.operators.drift import psi_categorical

    df = spark.createDataFrame([("a",), ("b",), ("b",)], "c string")
    total = [r for r in psi_categorical(df, df, "c").collect() if r.category is None][0]
    assert total.psi_term == 0.0  # p == q exactly per category


# ---- embedding centroid drift --------------------------------------------


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(g, i, [float(x) for x in v]) for i, (g, v) in enumerate(rows)],
        "g string, id long, embedding array<float>",
    )


def test_centroid_drift_zero_for_identical_snapshots(spark):
    from chatdata_spark.operators.drift import embedding_centroid_drift

    rows = [("a", [0.5, 0.25, -0.125]), ("a", [0.1, 0.2, 0.3])]
    ref = _vecs(spark, rows)
    got = embedding_centroid_drift(ref, ref, ["g"]).collect()[0]
    assert got.n_ref == got.n_cur == 2
    assert abs(got.cos_shift) < 1e-12  # identical sum vectors


def test_centroid_drift_detects_orthogonal_shift(spark):
    from chatdata_spark.operators.drift import embedding_centroid_drift

    ref = _vecs(spark, [("a", [1.0, 0.0]), ("a", [1.0, 0.0])])
    cur = _vecs(spark, [("a", [0.0, 1.0])])
    got = embedding_centroid_drift(ref, cur, ["g"]).collect()[0]
    assert abs(got.cos_shift - 1.0) < 1e-12  # orthogonal centroids


def test_centroid_drift_one_sided_group_is_null(spark):
    from chatdata_spark.operators.drift import embedding_centroid_drift

    ref = _vecs(spark, [("only_ref", [1.0, 2.0])])
    cur = _vecs(spark, [("only_cur", [3.0, 4.0])])
    got = {r.g: r for r in embedding_centroid_drift(ref, cur, ["g"]).collect()}
    assert got["only_ref"].cos_shift is None and got["only_ref"].n_cur == 0
    assert got["only_cur"].cos_shift is None and got["only_cur"].n_ref == 0


def test_centroid_drift_scale_invariance(spark):
    # doubling every current vector must not change the statistic —
    # the operator computes cosine on SUM vectors precisely because
    # the 1/n normalization cancels
    from chatdata_spark.operators.drift import embedding_centroid_drift

    ref = _vecs(spark, [("a", [0.3, 0.4]), ("a", [0.1, -0.2])])
    cur1 = _vecs(spark, [("a", [0.25, 0.5])])
    cur2 = _vecs(spark, [("a", [0.5, 1.0])])
    s1 = embedding_centroid_drift(ref, cur1, ["g"]).collect()[0].cos_shift
    s2 = embedding_centroid_drift(ref, cur2, ["g"]).collect()[0].cos_shift
    assert s1 == s2

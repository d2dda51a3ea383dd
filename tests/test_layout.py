"""Clustered-layout data skipping: ``zorder_write`` tiles every clustered
dimension, so per-file footer ranges (the parquet equivalent of MergeTree's
sparse index) let a selective predicate on ANY of them skip files, where a
single-key sort prunes only its own key."""

from __future__ import annotations

import pyspark.sql.functions as F

from chatdata_spark.operators.layout import linear_bucket, zorder_write
from tests.conftest import SF_ORACLE, file_key_ranges


def _files_hit(path, column, lo, hi):
    """Files whose footer [min,max] intersects [lo,hi] — what the reader
    would actually open for that predicate."""
    ranges = file_key_ranges(path, column)
    return sum(1 for (fmin, fmax) in ranges if not (fmax < lo or fmin > hi)), len(ranges)


def _bucketed(df, *cols):
    """``linear_bucket`` over each column's observed [min, max]."""
    bounds = df.agg(*[f(c) for c in cols for f in (F.min, F.max)]).first()
    return tuple(
        linear_bucket(F.col(c), bounds[2 * i], bounds[2 * i + 1]) for i, c in enumerate(cols)
    )


def test_zorder_prunes_on_both_columns(spark, tmp_path):
    """Z-ORDER layout: a selective range on EITHER z-column intersects a
    bounded fraction of files; a single-column sort prunes only its own
    column (the control)."""
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    zpath = str(tmp_path / "li_z")
    spath = str(tmp_path / "li_s")
    zorder_write(li, zpath, _bucketed(li, "l_orderkey", "l_partkey"), num_files=16)
    li.repartitionByRange(16, "l_orderkey").sortWithinPartitions("l_orderkey").write.parquet(spath)

    ok_lo, ok_hi = 100, 200
    pk_lo, pk_hi = 100, 150

    z_ok, z_n = _files_hit(zpath, "l_orderkey", ok_lo, ok_hi)
    z_pk, _ = _files_hit(zpath, "l_partkey", pk_lo, pk_hi)
    s_ok, s_n = _files_hit(spath, "l_orderkey", ok_lo, ok_hi)
    s_pk, _ = _files_hit(spath, "l_partkey", pk_lo, pk_hi)

    # the sorted control: perfect on its key, useless on the other
    assert s_ok <= 2
    assert s_pk == s_n
    # z-order: BOTH selective predicates skip at least half the files
    assert z_ok <= z_n // 2, f"l_orderkey hit {z_ok}/{z_n}"
    assert z_pk <= z_n // 2, f"l_partkey hit {z_pk}/{z_n}"


def test_zorder_preserves_rows_and_values(spark, tmp_path):
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    path = str(tmp_path / "orders_z")
    zorder_write(o, path, _bucketed(o, "o_orderkey", "o_custkey"), num_files=8)
    z = spark.read.parquet(path)
    assert z.count() == o.count()
    want = o.filter((F.col("o_orderkey") % 97 == 0)).agg(
        F.sum("o_orderkey"), F.sum("o_custkey")
    ).collect()
    got = z.filter((F.col("o_orderkey") % 97 == 0)).agg(
        F.sum("o_orderkey"), F.sum("o_custkey")
    ).collect()
    assert got == want


def test_morton_matches_python_reference(spark):
    from chatdata_spark.operators.layout import morton_interleave, morton_interleave_py

    rows = [(i, (i * 37) % 65536, (i * 101) % 65536) for i in range(200)]
    df = spark.createDataFrame(rows, "i long, a long, b long")
    got = {
        r.i: r.z
        for r in df.select(
            "i", morton_interleave(F.col("a"), F.col("b")).alias("z")
        ).collect()
    }
    for i, a, b in rows:
        assert got[i] == morton_interleave_py(a, b), (i, a, b)


def test_morton_known_values():
    from chatdata_spark.operators.layout import morton_interleave_py

    assert morton_interleave_py(0, 0) == 0
    assert morton_interleave_py(1, 0) == 1
    assert morton_interleave_py(0, 1) == 2
    assert morton_interleave_py(0b11, 0b11) == 0b1111
    assert morton_interleave_py(0xFFFF, 0) == 0x55555555
    assert morton_interleave_py(0, 0xFFFF) == 0xAAAAAAAA


def test_zorder_bounds_both_dims(spark, tmp_path):
    """Z-ordered files tile BOTH dimensions: the per-file span of each
    dim is far below the full domain — where a plain single-key sort
    leaves the second dim's span at ~full range in every file."""
    n = 20000
    rows = [(i, i % 199, float((i * 7919) % 10000)) for i in range(n)]
    df = spark.createDataFrame(rows, "i long, u long, v double")
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_write(
        df, zpath,
        (linear_bucket(F.col("u"), 0, 198), linear_bucket(F.col("v"), 0.0, 9999.0)),
        num_files=16,
    )
    df.repartitionByRange(16, "u").sortWithinPartitions("u").write.parquet(spath)

    def mean_span(path, col, domain):
        rs = file_key_ranges(path, col)
        return sum(hi - lo for lo, hi in rs) / len(rs) / domain

    # clustered dim comparable on both layouts...
    assert mean_span(zpath, "u", 199) < 0.5
    # ...but the SECOND dim only the z-order bounds (plain sort leaves ~full span)
    assert mean_span(zpath, "v", 10000) < 0.5
    assert mean_span(spath, "v", 10000) > 0.9
    # layout changes row order only — same rows
    assert spark.read.parquet(zpath).count() == n


def test_zorder_range_scan_correct(spark, tmp_path):
    rows = [(i, i % 199, float((i * 7919) % 10000)) for i in range(5000)]
    df = spark.createDataFrame(rows, "i long, u long, v double")
    path = str(tmp_path / "z2")
    zorder_write(
        df, path,
        (linear_bucket(F.col("u"), 0, 198), linear_bucket(F.col("v"), 0.0, 9999.0)),
        num_files=8,
    )
    pred = (F.col("u").between(10, 20)) & (F.col("v") < 500.0)
    got = {r.i for r in spark.read.parquet(path).filter(pred).collect()}
    want = {r.i for r in df.filter(pred).collect()}
    assert got == want and len(want) > 0


def test_linear_bucket_null_stays_null(spark):
    """NULL values must map to NULL buckets, not silently to bucket 0 —
    the least/greatest NULL-eating clamp trap (r7 verdict finding #1)."""
    df = spark.createDataFrame([(1, 5.0), (2, None), (3, 0.0)], "i long, v double")
    rows = {r.i: r.b for r in df.select(
        "i", linear_bucket(F.col("v"), 0.0, 10.0).alias("b")).collect()}
    assert rows[2] is None
    assert rows[3] == 0  # a real 0.0 still lands in bucket 0
    assert rows[1] == 32767  # midpoint of [0,10] → ~half of 65535
    # degenerate hi<=lo range: non-null → 0, NULL stays NULL
    rows2 = {r.i: r.b for r in df.select(
        "i", linear_bucket(F.col("v"), 3.0, 3.0).alias("b")).collect()}
    assert rows2[2] is None and rows2[1] == 0


def test_zorder_write_validate_rejects_out_of_domain(spark, tmp_path):
    """morton_interleave masks to 16 bits; validate=True must refuse to
    write a silently-aliased layout (r7 verdict finding #2)."""
    import pytest

    df = spark.createDataFrame(
        [(1, 70000, 5), (2, 3, 9)], "i long, u long, v long"
    )
    with pytest.raises(ValueError, match="outside"):
        zorder_write(df, str(tmp_path / "zbad"), (F.col("u"), F.col("v")),
                     num_files=2, validate=True)
    # NULL buckets are rejected too
    dfn = spark.createDataFrame([(1, None, 5), (2, 3, 9)], "i long, u long, v long")
    with pytest.raises(ValueError, match="outside"):
        zorder_write(dfn, str(tmp_path / "znull"), (F.col("u"), F.col("v")),
                     num_files=2, validate=True)
    # in-domain passes and round-trips
    ok = spark.createDataFrame([(1, 70, 5), (2, 3, 9)], "i long, u long, v long")
    zorder_write(ok, str(tmp_path / "zok"), (F.col("u"), F.col("v")),
                 num_files=2, validate=True)
    assert spark.read.parquet(str(tmp_path / "zok")).count() == 2


def test_morton_16bit_aliasing_is_the_documented_contract():
    """Values beyond 2^16-1 alias (mask) — pinned so the docstring
    contract stays true rather than silently changing."""
    from chatdata_spark.operators.layout import morton_interleave_py

    assert morton_interleave_py(65536 + 7, 3) == morton_interleave_py(7, 3)


# ---- Hilbert curve ----------------------------------------------------------


def test_hilbert_py_bijection_and_unit_steps():
    """xy2d is a bijection on the 2^bits x 2^bits grid AND consecutive
    indices are UNIT steps (|dx|+|dy| == 1) — the locality property that
    distinguishes Hilbert from Morton, whose curve jumps at power-of-two
    boundaries."""
    from chatdata_spark.operators.layout import hilbert_py, morton_interleave_py

    bits, n = 4, 16
    pts = {}
    for x in range(n):
        for y in range(n):
            pts[hilbert_py(x, y, bits=bits)] = (x, y)
    assert len(pts) == n * n and min(pts) == 0 and max(pts) == n * n - 1
    assert all(
        abs(pts[d][0] - pts[d + 1][0]) + abs(pts[d][1] - pts[d + 1][1]) == 1
        for d in range(n * n - 1)
    )
    # Morton, by contrast, has non-unit jumps (the measured contrast)
    mpts = {}
    for x in range(n):
        for y in range(n):
            mpts[morton_interleave_py(x, y)] = (x, y)
    steps = [
        abs(mpts[d][0] - mpts[d + 1][0]) + abs(mpts[d][1] - mpts[d + 1][1])
        for d in range(n * n - 1)
    ]
    assert max(steps) > 1


def test_with_hilbert_matches_reference(spark):
    from chatdata_spark.operators.layout import hilbert_py, with_hilbert

    pts = [(i, (i * 7919) % 65536, (i * 104729) % 65536) for i in range(300)]
    df = spark.createDataFrame(pts, "i long, a long, b long")
    got = {r.i: r.h for r in with_hilbert(df, F.col("a"), F.col("b"), out="h").collect()}
    assert got == {i: hilbert_py(a, b) for i, a, b in pts}


def test_hilbert_write_bounds_both_dims_at_least_as_well_as_morton(spark, tmp_path):
    """curve='hilbert' tiles both dimensions like the Morton layout (the
    pruning property), and its mean per-file span on each dim is <= the
    Morton layout's * 1.1 (unit-step locality can't be worse; the margin
    absorbs range-partition boundary noise)."""
    n = 20000
    rows = [(i, i % 199, float((i * 7919) % 10000)) for i in range(n)]
    df = spark.createDataFrame(rows, "i long, u long, v double")
    buckets = (linear_bucket(F.col("u"), 0, 198), linear_bucket(F.col("v"), 0.0, 9999.0))
    hpath, zpath = str(tmp_path / "h"), str(tmp_path / "z")
    zorder_write(df, hpath, buckets, num_files=16, curve="hilbert")
    zorder_write(df, zpath, buckets, num_files=16, curve="morton")

    def mean_span(path, col, domain):
        rs = file_key_ranges(path, col)
        return sum(hi - lo for lo, hi in rs) / len(rs) / domain

    for col, dom in (("u", 199), ("v", 10000)):
        h, z = mean_span(hpath, col, dom), mean_span(zpath, col, dom)
        assert h < 0.5
        assert h <= z * 1.1, (col, h, z)
    assert spark.read.parquet(hpath).count() == n
    # validate + unknown-curve guard
    import pytest

    with pytest.raises(ValueError, match="curve"):
        zorder_write(df, str(tmp_path / "x"), buckets, num_files=2, curve="peano")


def test_morton_nd_matches_python_reference(spark):
    from chatdata_spark.operators.layout import morton_nd, morton_nd_py

    rows = [(i, (i * 37) % 65536, (i * 7919) % 65536, i % 24) for i in range(500)]
    df = spark.createDataFrame(rows, "i long, a long, b long, c long")
    got = {
        r.i: r.z
        for r in df.select("i", morton_nd(["a", "b", "c"], bits=16).alias("z")).collect()
    }
    for i, a, b, c in rows:
        assert got[i] == morton_nd_py([a, b, c], bits=16)


def test_morton_nd_2d_agrees_with_magic_shift(spark):
    # the general form must reduce to morton_interleave at n=2
    from chatdata_spark.operators.layout import morton_interleave, morton_nd

    rows = [((i * 131) % 65536, (i * 37) % 65536) for i in range(300)]
    df = spark.createDataFrame(rows, "a long, b long")
    r = df.select(
        (morton_nd(["a", "b"]) == morton_interleave(F.col("a"), F.col("b"))).alias("eq")
    ).agg(F.min("eq")).collect()[0][0]
    assert r is True


def test_morton_nd_bigint_width_guard():
    import pytest

    from chatdata_spark.operators.layout import morton_nd

    with pytest.raises(ValueError, match="exceeds 63"):
        morton_nd(["a", "b", "c", "d"], bits=16)


def test_zorder_write_3d_prunes_all_dims(spark, tmp_path):
    """3-D Morton layout (morton_nd): every clustered dim has bounded
    per-file span (vs ~full-domain span for non-leading dims of a plain
    sort), so selective predicates on ANY of the three prune files.
    Thresholds carry margin over measured means (0.64/0.55/0.38 at 16
    files) because repartitionByRange SAMPLES its boundaries — a strict
    hits<=half assertion flaked (9/16 one run, 8/16 the next). With only
    log2(files) prefix bits shared across THREE dims, per-dim spans are
    inherently wider than 2-D; the LAST bucket column owns the top
    interleave bit (position b·n+i), so it prunes best — order
    bucket_cols accordingly."""
    n = 24000
    rows = [
        (i, i % 199, float((i * 7919) % 10000), (i * 31) % 24) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "i long, u long, v double, h long")
    zpath = str(tmp_path / "z3")
    spath = str(tmp_path / "s3")
    zorder_write(
        df, zpath,
        (
            linear_bucket(F.col("u"), 0, 198),
            linear_bucket(F.col("v"), 0.0, 9999.0),
            linear_bucket(F.col("h"), 0, 23),
        ),
        num_files=16,
    )
    df.repartitionByRange(16, "u").sortWithinPartitions("u").write.parquet(spath)

    def mean_span(path, col, domain):
        rs = file_key_ranges(path, col)
        return sum(hi - lo for lo, hi in rs) / len(rs) / domain

    assert mean_span(zpath, "u", 199.0) < 0.8
    assert mean_span(zpath, "v", 10000.0) < 0.7
    assert mean_span(zpath, "h", 24.0) < 0.55
    # the single-key sort control: non-leading dims unbounded (~full span)
    assert mean_span(spath, "v", 10000.0) > 0.9
    assert mean_span(spath, "h", 24.0) > 0.9
    # and a selective range on every dim still skips SOME files
    for col, lo, hi in (("u", 10, 40), ("v", 100.0, 1500.0), ("h", 2, 5)):
        hit, total = _files_hit(zpath, col, lo, hi)
        assert hit < total, f"{col} hit {hit}/{total} (no pruning at all)"
    assert spark.read.parquet(zpath).count() == n


def test_zorder_write_hilbert_is_2d_only(spark, tmp_path):
    import pytest

    df = spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")
    with pytest.raises(ValueError, match="2-D only"):
        zorder_write(
            df, str(tmp_path / "h3"),
            (F.col("a"), F.col("b"), F.col("c")), curve="hilbert",
        )


def test_with_hilbert_rejects_reserved_name_collision(spark):
    import pytest

    from chatdata_spark.operators.layout import with_hilbert

    df = spark.createDataFrame([(1, 2, 0)], "a long, b long, __hx long")
    with pytest.raises(ValueError, match="reserved state names"):
        with_hilbert(df, F.col("a"), F.col("b"))

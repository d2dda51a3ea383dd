"""Shared test harness: session-scoped Spark, DuckDB oracle comparator.

The comparator mirrors (and is stricter than) the driver's t2 check:
row-count, schema width, and order-insensitive value equality with columns
sorted by name. Strictness: exact value equality (no tolerance) — our
determinism conventions (registry.py docstring) are supposed to make both
sides bit-identical.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from chatdata_spark.catalog import TESTDATA_TABLES
from chatdata_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def pytest_collection_modifyitems(session, config, items):
    """Driver-budget insurance (r11 verdict item 3): run the full-registry
    oracle sweep (the driver's t2-equivalent gate, tests/test_correctness)
    FIRST, so if an external budget truncates the run the loss falls on
    unit/plan tests — which the sweep's operators already exercise — not
    on registry correctness coverage. Stable sort: original (alphabetical)
    order is preserved within each group."""
    items.sort(key=lambda it: 0 if "test_correctness" in it.nodeid else 1)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="chatdata_spark_tests", shuffle_partitions=8)
    yield s


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def file_key_ranges(path: str, column: str) -> list[tuple]:
    """(min, max) of ``column`` per parquet file under ``path``, from footer
    statistics — what the scan's file/row-group pruning consumes."""
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                if col.path_in_schema == column and col.statistics is not None:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            ranges.append((lo, hi))
    return ranges


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


# HUGEINT maps to its OWN family (not bigint): the real driver materializes
# HUGEINT as pandas float64 (20882.0 vs bigint 20882 → hash red, CLAUDE.md),
# so an oracle producing it must FAIL the family gate here too (ADVICE r7).
_DUCK_TYPE_FAMILY = {
    "BIGINT": "bigint", "HUGEINT": "hugeint", "INTEGER": "int", "SMALLINT": "int",
    "TINYINT": "int", "DOUBLE": "double", "FLOAT": "float", "VARCHAR": "string",
    "JSON": "string", "TIMESTAMP": "timestamp", "TIMESTAMP_NS": "timestamp",
    "DATE": "date", "BOOLEAN": "boolean",
}


def _duck_family(t) -> str:
    t = str(t)
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.endswith("[]"):
        return "array"
    return _DUCK_TYPE_FAMILY.get(t, t.lower())


def _spark_family(t: str) -> str:
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("array"):
        return "array"
    return "timestamp" if t == "timestamp_ntz" else t


def assert_driver_hashable_schema(spark_df, name: str = "?"):
    """The real driver canonicalizes result rows via pandas sort_values over
    all columns, which raises ``TypeError: unhashable type: 'list'`` on any
    top-level array/map/struct cell (r8: dialect_parity_sweep5 went red in
    the driver while pytest + replay were green). Every registered query
    must therefore emit only scalar top-level columns — serialize arrays
    with array_join/array_to_string on BOTH sides."""
    from pyspark.sql import types as T

    bad = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not bad, (
        f"[{name}] top-level complex-typed columns {bad}: the driver's pandas "
        "canonicalizer cannot hash array/map/struct cells — serialize them "
        "(array_join / array_to_string) on both Spark and oracle sides"
    )


def assert_no_duplicated_python_udf(spark_df, name: str = "?"):
    """A Generate over a UDF-output column makes the optimizer infer
    `size(col) > 0` (InferFiltersFromGenerate); predicate pushdown can
    then drag that filter below the spread exchange WITH a second copy
    of the UDF, re-running it over the whole input single-threaded
    (caught live in decontaminate, r11). A real duplicate is the same
    UDF call args appearing under two DIFFERENT output columns — a
    persisted subtree merely reprints the same node (same output id)
    under every InMemoryTableScan. The oracle sweep applies this to every
    registered query."""
    import re

    mode = spark_df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = spark_df._jdf.queryExecution().explainString(mode.fromString("formatted"))
    nodes = re.findall(
        r"EvalPython\nInput.*?\nArguments: \[(.*?)\], \[(pythonUDF\d+#\d+)\]", plan
    )
    byargs: dict = {}
    for args, out in nodes:
        byargs.setdefault(args, set()).add(out)
    dups = {a: o for a, o in byargs.items() if len(o) > 1}
    assert not dups, f"[{name}] duplicated Python UDF eval nodes: {dups}"


def assert_matches_oracle(spark_df, oracle: str, sf_dir: str, name: str = "?"):
    con = duck_con(sf_dir)
    rel = con.sql(oracle)
    duck_types = dict(zip(rel.columns, rel.types))
    want = con.execute(oracle)
    want_cols = [d[0] for d in want.description]
    want_rows = want.fetchall()

    got_cols = spark_df.columns
    got_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(got_cols) == sorted(want_cols), (
        f"[{name}] column mismatch: spark={sorted(got_cols)} duck={sorted(want_cols)}"
    )
    # type-family agreement (the driver records schema matches, not just values)
    for c, spark_t in spark_df.dtypes:
        if c in duck_types:
            assert _spark_family(spark_t) == _duck_family(duck_types[c]), (
                f"[{name}] dtype mismatch on {c}: spark={spark_t} duck={duck_types[c]}"
            )
    assert len(got_rows) == len(want_rows), (
        f"[{name}] row count: spark={len(got_rows)} duck={len(want_rows)}"
    )
    g, w = _canon(got_rows, got_cols), _canon(want_rows, want_cols)
    for i, (a, b) in enumerate(zip(g, w)):
        assert a == b, f"[{name}] first differing row #{i}:\n  spark={a}\n  duck ={b}"

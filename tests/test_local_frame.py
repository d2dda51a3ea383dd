"""``session.local_frame``: driver rows → a ``LocalRelation``, with the same
rows and schema as ``spark.createDataFrame(list, schema)``.

Parity covers every schema the library feeds through the helper (the four
stores, the MMR page, the decontam eval mapping) with NULLs, empty input,
naive datetimes and array columns. The plan tests pin what the helper is
for: no ``PythonRDD`` and no job until the consumer's own action. The
static guard keeps library code from going back to ``createDataFrame``
on a Python list.
"""

from __future__ import annotations

import ast
import datetime
import pathlib

import pytest
from pyspark.sql import types as T

from chatdata_spark.session import local_frame
from chatdata_spark.stores.state import ChatMemoryStore, PrivateKBStore, SessionStore

_TS = datetime.datetime(2024, 2, 29, 23, 59, 58, 123456)  # naive, leap day, micros


def _decontam_mapping(id_type: T.DataType) -> T.StructType:
    """decontam.decontaminate_embeddings' eval-row mapping; eval_id takes
    the eval frame's id type."""
    return T.StructType(
        [
            T.StructField("__eidx", T.IntegerType()),
            T.StructField("eval_id", id_type),
            T.StructField("__evec", T.ArrayType(T.DoubleType())),
        ]
    )


CASES = {
    "sessions": (
        SessionStore.SCHEMA,
        [("u1", "u1?s1", "be brief", _TS, "{}"),
         ("u2", None, None, None, None),
         ("u3", "u3?s9", "", datetime.datetime(1969, 12, 31, 23, 59, 59, 999999), "{}")],
    ),
    "chat_memory": (
        ChatMemoryStore.SCHEMA,
        [(1718000000.123456, "u1?s1", "u1", "ab" * 32, "human", "{}", "héllo ✓"),
         (None, "u1?s1", None, None, None, None, None)],
    ),
    "private_kb": (
        PrivateKBStore.KB_SCHEMA,
        [("e1", "f.txt", "para", "u1", _TS, [0.1, -2.5, 3.4028234e38, 1e-45]),
         ("e2", "f.txt", None, "u1", None, None),
         ("e3", "g.txt", "x", "u2", _TS, [None, 0.0]),
         ("e4", "g.txt", "y", "u2", _TS, [])],
    ),
    "private_tool": (
        PrivateKBStore.TOOL_SCHEMA,
        [("t1", "tool", ["a.txt", "b.txt"], "u1", _TS, "desc"),
         ("t2", "tool2", [None, "c"], "u1", None, None),
         ("t3", "tool3", [], "u2", _TS, ""),
         ("t4", None, None, None, None, None)],
    ),
    # mmr.mmr_select's page: (id, mmr_rank, mmr_score)
    "mmr_page": (
        "doc_id long, mmr_rank int, mmr_score double",
        [(9007199254740993, 0, 0.812345), (-1, 1, -0.0), (None, None, None)],
    ),
    "decontam_long": (
        _decontam_mapping(T.LongType()),
        [(0, 7, [0.25, -1.0, 1e300]), (1, None, None), (2, 8, [])],
    ),
    "decontam_str": (
        _decontam_mapping(T.StringType()),
        [(0, "q-1", [0.5]), (1, None, [None])],
    ),
}


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case, empty):
    schema, rows = CASES[case]
    rows = [] if empty else rows
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()  # row for row, in input order


@pytest.mark.parametrize(
    "schema, row",
    [
        ("a string, b double", ("x", 1)),  # int is not a double
        ("a long, b string", ("x", "y")),
        (PrivateKBStore.KB_SCHEMA, ("e", "f", "t", "u", "2024-01-01", [0.1])),
        (PrivateKBStore.TOOL_SCHEMA, ("t", "n", "a.txt", "u", _TS, "d")),
        ("a long, b string", (1,)),  # wrong arity
    ],
)
def test_local_frame_wrong_type_raises_on_driver(spark, schema, row):
    sc = spark.sparkContext
    group = "local_frame_wrong_type"
    sc.setJobGroup(group, "must stay empty")
    try:
        with pytest.raises((TypeError, ValueError)):
            local_frame(spark, [row], schema)
        with pytest.raises((TypeError, ValueError)):
            spark.createDataFrame([row], schema).collect()  # the classic path agrees
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_local_frame_rejects_non_struct_schema(spark):
    with pytest.raises(TypeError, match="struct"):
        local_frame(spark, [(1,)], "bigint")


def test_local_frame_plans_a_local_relation(spark):
    df = local_frame(spark, CASES["private_kb"][1], PrivateKBStore.KB_SCHEMA)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.startswith("LocalRelation"), opt
    assert "LogicalRDD" not in opt and "PythonRDD" not in opt
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in executed and "Scan ExistingRDD" not in executed
    # and the classic call it replaces is the PythonRDD scan
    classic = spark.createDataFrame(CASES["private_kb"][1], PrivateKBStore.KB_SCHEMA)
    assert "LogicalRDD" in classic._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_collect_runs_no_job(spark):
    sc = spark.sparkContext
    group = "local_frame_collect"
    sc.setJobGroup(group, "local relation collect")
    try:
        rows = local_frame(spark, CASES["chat_memory"][1], ChatMemoryStore.SCHEMA).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 2
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_mmr_page_is_a_local_relation(spark):
    from chatdata_spark.operators.mmr import mmr_select

    vecs = local_frame(
        spark,
        [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(12)],
        "doc_id long, vec array<float>",
    )
    page = mmr_select(vecs, "vec", [1.0, 1.0, 1.0], k=4, id_col="doc_id", fetch_n=8)
    opt = page._jdf.queryExecution().optimizedPlan().toString()
    assert opt.startswith("LocalRelation"), opt
    assert page.count() == 4


def _create_dataframe_calls(path: pathlib.Path) -> list[tuple[int, str]]:
    """(line, enclosing function) of every ``.createDataFrame(...)`` call."""
    tree = ast.parse(path.read_text(), filename=str(path))
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                out.append((child.lineno, fn))
            walk(child, name)

    walk(tree, "<module>")
    return out


def test_library_builds_driver_rows_only_through_local_frame():
    """Static guard: under chatdata_spark/, ``createDataFrame`` is called in
    exactly one place — ``session.local_frame``, on an Arrow table. A call
    on a Python list plans a PythonRDD that starts a Python-worker job on
    every evaluation; route driver rows through ``local_frame`` instead."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "chatdata_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for line, fn in _create_dataframe_calls(path):
            rel = path.relative_to(pkg.parent).as_posix()
            if (rel, fn) != ("chatdata_spark/session.py", "local_frame"):
                offenders.append(f"{rel}:{line} in {fn}()")
    assert not offenders, "createDataFrame outside session.local_frame:\n" + "\n".join(offenders)

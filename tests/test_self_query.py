"""Property-based test: compiled filter AST ≡ naive row-wise evaluation
(SURVEY §5.3) on the documents table, plus error-path checks."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from chatdata_spark.catalog import AttributeInfo
from chatdata_spark.plans.self_query import (
    Comparison,
    Operation,
    SelfQueryCompiler,
    and_,
    eq,
    gt,
    gte,
    in_,
    like,
    lt,
    lte,
    ne,
    nin,
    not_,
    or_,
    python_eval,
)
from tests.conftest import SF_SMOKE

ATTRS = (
    AttributeInfo("lang", "string"),
    AttributeInfo("source", "string"),
    AttributeInfo("n_chars", "int"),
    AttributeInfo("n_words", "int", expr="size(split(text, ' '))"),  # computed attr
)
ATTR_MAP = {a.name: a for a in ATTRS}

# the filter algebra's constructors, one per comparator name
_CONSTRUCTORS = {
    "eq": eq, "ne": ne, "gt": gt, "gte": gte, "lt": lt, "lte": lte,
    "like": like, "in": in_, "nin": nin,
}

comparisons = st.one_of(
    st.tuples(
        st.sampled_from(["eq", "ne", "gt", "gte", "lt", "lte"]),
        st.just("n_chars"),
        st.integers(min_value=0, max_value=600),
    ),
    st.tuples(
        st.sampled_from(["eq", "ne", "gt", "gte", "lt", "lte"]),
        st.just("n_words"),
        st.integers(min_value=0, max_value=100),
    ),
    st.tuples(st.just("eq"), st.just("lang"), st.sampled_from(["en", "de", "fr", "zh", "es"])),
    st.tuples(
        st.just("like"),
        st.just("source"),
        st.sampled_from(["src1%", "%2", "%rc%", "src_", "src10"]),
    ),
    st.tuples(
        st.sampled_from(["in", "nin"]),
        st.just("lang"),
        st.sampled_from([("en",), ("en", "de"), ("fr", "zh", "es")]),
    ),
).map(lambda t: _CONSTRUCTORS[t[0]](t[1], t[2]))


def trees(depth: int):
    if depth == 0:
        return comparisons
    sub = trees(depth - 1)
    return st.one_of(
        comparisons,
        st.builds(and_, sub, sub),
        st.builds(or_, sub, sub),
        st.builds(not_, sub),
    )


_cached_rows = None


def _rows(spark):
    global _cached_rows
    if _cached_rows is None:
        from pyspark.sql import functions as F

        df = (
            spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
            .withColumn("n_words", F.size(F.split("text", " ")))
            .select("doc_id", "lang", "source", "n_chars", "n_words")
        )
        _cached_rows = [r.asDict() for r in df.collect()]
    return _cached_rows


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ast=trees(2))
def test_compiled_filter_matches_python_eval(spark, ast):
    from pyspark.sql import functions as F

    rows = _rows(spark)
    df = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .withColumn("n_words", F.size(F.split("text", " ")))
    )
    comp = SelfQueryCompiler(ATTRS)
    got = {r.doc_id for r in df.filter(comp.compile(ast)).select("doc_id").collect()}
    want = {r["doc_id"] for r in rows if python_eval(ast, r, ATTR_MAP)}
    assert got == want


def test_unknown_attribute_raises():
    with pytest.raises(ValueError, match="unknown attribute"):
        SelfQueryCompiler(ATTRS).compile(Comparison("eq", "nope", 1))


def test_contain_requires_list():
    with pytest.raises(ValueError, match="contain requires"):
        SelfQueryCompiler(ATTRS).compile(Comparison("contain", "lang", "en"))


def test_bad_operator_raises():
    with pytest.raises(ValueError, match="unsupported operator"):
        SelfQueryCompiler(ATTRS).compile(Operation("xor", Comparison("eq", "lang", "en")))

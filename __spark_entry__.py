"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real definitions live in ``chatdata_spark.registry`` (one entry per
implemented operator from SURVEY.md §2); this file stays a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from chatdata_spark import registry as _registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the end-to-end retrieval
    funnel — routed ANN screen + BM25, RRF fusion, overlap-scorer rerank,
    MMR diversification (the reference's whole user journey,
    SURVEY §3.1/3.2, as one composed plan; queries/textsearch.py)."""
    return _registry.queries()["retrieval_funnel_docs"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()

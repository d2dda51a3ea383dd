"""Bucketed table layout for shuffle-free co-located joins (the brief's
'bucketing for co-located joins'; the reference's analog is the MergeTree
primary-key clustering, README.md:88).

``write_bucketed`` persists a DataFrame as a bucketed Spark-catalog table
(``bucketBy(n, key)`` + ``sortBy``). Two tables bucketed the same way join
with **zero Exchange** in the plan: each task reads matching buckets from
both sides — at 100 TB this converts the recurring fact-to-fact join
shuffle (the single most expensive stage) into a scan-side merge. The
shuffle is paid ONCE at write time, amortized over every subsequent join.

Bucketed tables live in the session catalog (spark.sql warehouse dir), not
plain parquet paths — bucket metadata only exists in the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    df.write.mode(mode).bucketBy(num_buckets, *bucket_cols).saveAsTable(table_name)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner") -> DataFrame:
    """Join two identically-bucketed catalog tables — verify the plan has
    no Exchange on either side (tests/test_bucketing.py asserts it)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)

"""Mutation conventions (SURVEY §2.8 M1-M5) on immutable parquet.

ClickHouse's ``ReplacingMergeTree ORDER BY k`` gives the reference lazy
upsert-by-key (myscale_tables.py:37,65 — dedup happens at merge time, reads
may see duplicates). We pick the **stricter eager semantics** (SURVEY §7
risks): every mutation materializes a state where reads are deterministic.

These are pure DataFrame→DataFrame transforms; stores/state.py binds them
to versioned parquet directories for atomic swap. At warehouse scale the
same transforms back a Delta/Iceberg MERGE; nothing here assumes local FS.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keep_latest(df: DataFrame, key_cols: list[str], version_col: str) -> DataFrame:
    """M1 read-side dedup: one row per key, highest version wins; ties broken
    by the key itself are impossible (same key), so tie-break on all columns
    is unnecessary — equal versions keep an arbitrary-but-deterministic row
    via a final stable ordering on the remaining columns' hash."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(),
        F.xxhash64(*[c for c in df.columns if c not in key_cols]).asc(),
    )
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def upsert(current: DataFrame, updates: DataFrame, key_cols: list[str], version_col: str) -> DataFrame:
    """M1 write-side: union + keep-latest (the ReplacingMergeTree INSERT
    path, private_knowledge_base.py:85-89 re-upload dedup)."""
    return keep_latest(current.unionByName(updates), key_cols, version_col)


def delete_where(df: DataFrame, cond: Column) -> DataFrame:
    """M2/M3: DELETE FROM t WHERE cond ≡ keep ~cond
    (private_knowledge_base.py:92-99; session cascade session_manager.py:91-96)."""
    return df.filter(~cond | cond.isNull())


def update_where(df: DataFrame, cond: Column, assignments: Mapping[str, Column]) -> DataFrame:
    """M4: UPDATE t SET c=v WHERE cond as a conditional projection
    (session_manager.py:70-78 system-prompt edit)."""
    out = df
    for col_name, value in assignments.items():
        out = out.withColumn(col_name, F.when(cond, value).otherwise(F.col(col_name)))
    return out


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    when_matched_update: Mapping[str, Column] | None = None,
    when_matched_delete: Column | None = None,
) -> DataFrame:
    """Full MERGE INTO (Delta/Iceberg `MERGE` semantics) as one
    DataFrame transform over immutable inputs:

    - matched + ``when_matched_delete`` cond → row dropped;
    - matched otherwise → ``when_matched_update`` assignments applied
      (columns not assigned keep the TARGET's value);
    - unmatched target rows → unchanged;
    - source rows with no target match → inserted.

    One outer-join shuffle on the key; assignments may reference source
    columns as ``F.col("__src_<name>")``. Assumes source has at most one
    row per key (enforce upstream with keep_latest — same contract as
    SQL MERGE, which errors on multiple matches)."""
    src = source.select(
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"__src_{c}") for c in source.columns if c not in key_cols],
        F.lit(True).alias("__src_present"),
    )
    joined = target.withColumn("__tgt_present", F.lit(True)).join(src, key_cols, "full_outer")
    matched = F.col("__tgt_present").isNotNull() & F.col("__src_present").isNotNull()

    out = joined
    if when_matched_delete is not None:
        out = out.filter(~(matched & when_matched_delete) | (matched & when_matched_delete).isNull())
    upd = when_matched_update or {}
    for col_name, value in upd.items():
        out = out.withColumn(col_name, F.when(matched, value).otherwise(F.col(col_name)))
    insert_only = F.col("__tgt_present").isNull()
    for c in target.columns:
        src_c = f"__src_{c}"
        if c not in key_cols and src_c in out.columns:
            out = out.withColumn(c, F.when(insert_only, F.col(src_c)).otherwise(F.col(c)))
    return out.select(*target.columns)

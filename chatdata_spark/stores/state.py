"""Versioned parquet state stores — the reference's mutable ClickHouse
tables (sessions, chat_memory, private_kb, private_tool; SURVEY §1.2 rows
3-6) rebuilt on immutable files.

Storage layout::

    <path>/v_00000001/part-*.parquet
    <path>/v_00000002/part-*.parquet
    <path>/_LATEST            # contains "2"

Every mutation reads the current version, applies a pure transform
(operators/upsert.py), writes the next version directory, then atomically
updates the ``_LATEST`` pointer (write temp + os.replace). Readers resolve
the pointer once — a reader never observes a half-written version, and
old versions give time travel / rollback for free. This is the same
pointer-swap idea Delta/Iceberg commit logs formalize; at warehouse scale
swap this class for Delta ``MERGE INTO`` — the operator layer is unchanged.

Never read-transform-overwrite the SAME parquet dir in Spark: the lazy
read would scan already-clobbered files at action time.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chatdata_spark.operators.upsert import delete_where, keep_latest, update_where
from chatdata_spark.session import local_frame


class VersionedParquetStore:
    def __init__(self, spark: SparkSession, path: str, partition_cols: tuple[str, ...] = ()):
        self.spark = spark
        self.path = path
        self.partition_cols = partition_cols
        os.makedirs(path, exist_ok=True)

    # -- version plumbing --------------------------------------------------
    def _latest_file(self) -> str:
        return os.path.join(self.path, "_LATEST")

    def current_version(self) -> int:
        try:
            with open(self._latest_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"v_{v:08d}")

    def exists(self) -> bool:
        return self.current_version() > 0

    def read(self) -> DataFrame:
        v = self.current_version()
        if v == 0:
            raise FileNotFoundError(f"store {self.path} is empty — write() first")
        return self.spark.read.parquet(self._version_dir(v))

    def read_version(self, v: int) -> DataFrame:
        """Time travel: read a specific retained version (Delta
        `VERSION AS OF` / Iceberg snapshot-id parity). Raises if the
        version was never written or has been vacuumed."""
        d = self._version_dir(v)
        if not os.path.isdir(d):
            raise FileNotFoundError(f"store {self.path} has no version {v}")
        return self.spark.read.parquet(d)

    def changes(self, v_from: int, v_to: int, key_cols: list[str]) -> DataFrame:
        """Change data feed between two retained versions: one row per
        changed key with ``_op`` ∈ insert / update / delete (Delta CDF /
        Debezium-shape parity), carrying the AFTER image (BEFORE image for
        deletes).

        Plan: one full-outer shuffle on the key; change detection hashes
        the full row (xxhash64 over all non-key columns) on each side so
        unchanged keys drop without comparing columns one-by-one — at
        100 TB the shuffle carries (key, hash, row) once per side and the
        comparison is O(1) per key."""
        from pyspark.sql import functions as F

        old, new = self.read_version(v_from), self.read_version(v_to)
        val_cols = [c for c in new.columns if c not in key_cols]
        fp = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in val_cols])
        o = old.select(*key_cols, fp.alias("__old_fp"))
        n = new.select(*key_cols, fp.alias("__new_fp"), *[F.col(c) for c in val_cols])
        j = o.join(n, key_cols, "full_outer")
        changed = j.filter(
            F.col("__old_fp").isNull()
            | F.col("__new_fp").isNull()
            | (F.col("__old_fp") != F.col("__new_fp"))
        )
        op = (
            F.when(F.col("__old_fp").isNull(), F.lit("insert"))
            .when(F.col("__new_fp").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        with_op = changed.withColumn("_op", op).drop("__old_fp", "__new_fp")
        # deletes carry the BEFORE image (their value columns are NULL on
        # the new side) — restore via a second pruned join of just deletes
        deletes = with_op.filter(F.col("_op") == "delete").select(*key_cols, "_op")
        dels_full = deletes.join(old, key_cols, "left").select(
            *key_cols, *val_cols, "_op"
        )
        rest = with_op.filter(F.col("_op") != "delete").select(*key_cols, *val_cols, "_op")
        return rest.unionByName(dels_full)

    def read_meta(self) -> dict:
        """Sidecar metadata of the CURRENT version ({} when none): committed
        by the same pointer swap as the data, so data+meta are atomic — a
        crash can never pair new state with an old watermark or vice versa."""
        import json

        v = self.current_version()
        if v == 0:
            return {}
        try:
            with open(os.path.join(self._version_dir(v), "_META.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def write(self, df: DataFrame, meta: dict | None = None) -> int:
        """Materialize ``df`` (plus optional sidecar ``meta``) as the next
        version, then swap the pointer. Readers see data and meta together
        or not at all."""
        import json

        v = self.current_version() + 1
        writer = df.write.mode("overwrite")
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(self._version_dir(v))
        if meta is not None:
            with open(os.path.join(self._version_dir(v), "_META.json"), "w") as f:
                json.dump(meta, f)
        tmp = self._latest_file() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._latest_file())  # atomic pointer swap
        return v

    # -- mutations (each = read → pure transform → next version) -----------
    def append(self, rows: DataFrame) -> int:
        df = self.read().unionByName(rows) if self.exists() else rows
        return self.write(df)

    def upsert(self, rows: DataFrame, key_cols: list[str], version_col: str) -> int:
        # NOTE (measured and rejected): upserting through a broadcast key
        # semi/anti join against ``rows`` instead of one keep_latest over
        # the union was worse: a rag_serve KB upload went 0.96 -> 1.31 CPU-s
        # at local[4].
        df = self.read().unionByName(rows) if self.exists() else rows
        return self.write(keep_latest(df, key_cols, version_col))

    def delete_where(self, cond) -> int:
        return self.write(delete_where(self.read(), cond))

    def update_where(self, cond, assignments) -> int:
        return self.write(update_where(self.read(), cond, assignments))

    def compact(self, num_files: int | None = None, target_mb: int = 128,
                sort_cols: list[str] | None = None) -> int:
        """Small-file compaction (the OPTIMIZE step): rewrite the current
        version into ``num_files`` larger files (default: sized from the
        current version's bytes / ``target_mb``) as a NEW version behind
        the same atomic pointer — readers never see a half-compacted
        table. With ``sort_cols`` the rewrite also re-sorts (range
        partition + in-file sort), restoring the min-max-prunable layout
        after many small appends. At warehouse scale this is the
        bin-packing OPTIMIZE job; per-file footer overhead and open-file
        costs make thousands of KB-files the classic scan killer."""
        import glob

        meta = self.read_meta()
        if num_files is None:
            cur = self._version_dir(self.current_version())
            nbytes = sum(
                os.path.getsize(f) for f in glob.glob(os.path.join(cur, "**", "*.parquet"), recursive=True)
            )
            num_files = max(1, -(-nbytes // (target_mb << 20)))  # ceil
        df = self.read()
        if sort_cols:
            df = df.repartitionByRange(int(num_files), *sort_cols).sortWithinPartitions(*sort_cols)
        else:
            df = df.coalesce(int(num_files))
        return self.write(df, meta=meta or None)

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop version directories older than the newest ``keep_last``
        (time travel window). Never touches the current version; safe to run
        while readers hold the resolved pointer (they already opened their
        files). Returns the removed version numbers."""
        import shutil

        current = self.current_version()
        removed = []
        for v in range(1, max(1, current - keep_last + 1)):
            d = self._version_dir(v)
            if os.path.isdir(d):
                shutil.rmtree(d)
                removed.append(v)
        return removed


def _sha256(*parts: str) -> str:
    return hashlib.sha256("".join(parts).encode("utf-8")).hexdigest()


class SessionStore:
    """chat.sessions (tools.py:85-100): PK session_id, list by user ordered
    create_by DESC (session_manager.py:52-67), prompt update (M4), delete
    with message cascade (M3)."""

    SCHEMA = "user_id string, session_id string, system_prompt string, create_by timestamp, additionals string"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.store = VersionedParquetStore(spark, path)

    def add_session(self, user_id: str, session_id: str, system_prompt: str, create_by=None) -> None:
        import datetime

        create_by = create_by or datetime.datetime.utcnow()
        row = local_frame(
            self.spark, [(user_id, session_id, system_prompt, create_by, "{}")], self.SCHEMA
        )
        self.store.upsert(row, ["session_id"], "create_by")

    def list_sessions(self, user_id: str) -> DataFrame:
        return (
            self.store.read()
            .filter(F.col("user_id") == user_id)
            .orderBy(F.desc("create_by"), F.asc("session_id"))
        )

    def update_system_prompt(self, session_id: str, prompt: str) -> None:
        self.store.update_where(F.col("session_id") == session_id, {"system_prompt": F.lit(prompt)})

    def delete_session(self, session_id: str, memory: "ChatMemoryStore | None" = None) -> None:
        self.store.delete_where(F.col("session_id") == session_id)
        if memory is not None and memory.store.exists():
            memory.store.delete_where(F.col("session_id") == session_id)


class ChatMemoryStore:
    """chat.chat_memory (tools.py:63-82): PARTITION BY session_id layout,
    PK msg_id = sha256(session+message+ts) (message_converter.py:44-45),
    replay ordered (id, msg_id) (T3). Column 'addtionals' keeps the
    reference's [sic] spelling (tools.py:72)."""

    SCHEMA = "id double, session_id string, user_id string, msg_id string, type string, addtionals string, message string"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.store = VersionedParquetStore(spark, path, partition_cols=("session_id",))

    def append_message(self, session_id: str, msg_type: str, message: str, ts: float | None = None) -> None:
        ts = ts if ts is not None else time.time()
        user_id = session_id.split("?")[0]  # reference convention, message_converter.py:46
        msg_id = _sha256(session_id, message, repr(ts))
        row = local_frame(
            self.spark,
            [(float(ts), session_id, user_id, msg_id, msg_type, "{}", message)],
            self.SCHEMA,
        )
        # PK msg_id: idempotent re-append (upsert, not blind append)
        self.store.upsert(row, ["msg_id"], "id")

    def history(self, session_id: str) -> DataFrame:
        return (
            self.store.read()
            .filter(F.col("session_id") == session_id)  # partition-pruned scan
            .orderBy("id", "msg_id")
        )


class PrivateKBStore:
    """chat.private_kb + chat.private_tool (private_knowledge_base.py:21-44):
    per-user uploaded paragraphs with entity_id = sha256(file+text) upsert
    (tools.py:35-37), mandatory tenancy scoping (P10), tool registry with
    semi-join file scoping (J1, :140-166)."""

    KB_SCHEMA = "entity_id string, file_name string, text string, user_id string, created_by timestamp, vector array<float>"
    TOOL_SCHEMA = "tool_id string, tool_name string, file_names array<string>, user_id string, created_by timestamp, tool_description string"

    def __init__(self, spark: SparkSession, kb_path: str, tool_path: str):
        self.spark = spark
        self.kb = VersionedParquetStore(spark, kb_path)
        self.tools = VersionedParquetStore(spark, tool_path)

    def add_paragraphs(self, user_id: str, file_name: str, texts: list[str], embed, created_by=None) -> None:
        import datetime

        created_by = created_by or datetime.datetime.utcnow()
        rows = [
            (_sha256(file_name, t), file_name, t, user_id, created_by, embed(t)) for t in texts
        ]
        df = local_frame(self.spark, rows, self.KB_SCHEMA)
        self.kb.upsert(df, ["entity_id"], "created_by")

    def user_files(self, user_id: str) -> DataFrame:
        """A1-A3 file listing (private_knowledge_base.py:73-79)."""
        return (
            self.kb.read()
            .filter(F.col("user_id") == user_id)  # P10 tenancy
            .groupBy("file_name")
            .agg(
                F.count("entity_id").alias("num_paragraph"),
                F.max(F.length("text")).alias("max_chars"),
            )
            .orderBy("file_name")
        )

    def create_tool(self, user_id: str, tool_name: str, file_names: list[str], description: str, created_by=None) -> None:
        import datetime

        created_by = created_by or datetime.datetime.utcnow()
        row = local_frame(
            self.spark,
            [(_sha256(user_id, tool_name), tool_name, file_names, user_id, created_by, description)],
            self.TOOL_SCHEMA,
        )
        self.tools.upsert(row, ["tool_id"], "created_by")

    def tool_paragraphs(self, user_id: str, tool_name: str) -> DataFrame:
        """J1: paragraphs scoped to a tool's file list — LEFT SEMI join
        replacing the reference's two-query isin lookup (:140-166)."""
        files = (
            self.tools.read()
            .filter((F.col("user_id") == user_id) & (F.col("tool_name") == tool_name))
            .select(F.explode("file_names").alias("file_name"))
        )
        return (
            self.kb.read()
            .filter(F.col("user_id") == user_id)
            .join(F.broadcast(files), "file_name", "left_semi")
        )

    def delete_user(self, user_id: str) -> None:
        """M2: clear a user's rows from both tables."""
        self.kb.delete_where(F.col("user_id") == user_id)
        if self.tools.exists():
            self.tools.delete_where(F.col("user_id") == user_id)

    def delete_tools(self, user_id: str, tool_names: list[str]) -> None:
        self.tools.delete_where(
            (F.col("user_id") == user_id) & F.col("tool_name").isin(tool_names)
        )

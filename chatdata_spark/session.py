"""SparkSession factory.

Single place where engine-level performance knobs live so every entry point
(tests, bench, driver) gets the same tuned session:

- AQE on (runtime re-plan, skew-join handling) — the 100 TB posture.
- Arrow on — all pandas UDF exchange is Arrow-batched.
- shuffle partitions default to cores on local mode; at cluster scale callers
  override via ``shuffle_partitions`` (rule of thumb: ~2-3× total cores,
  sized so a partition stays well under executor memory).
- parquet pushdown/pruning left at defaults (on) — queries are written so
  filters and projections reach the scan (verified in tests/test_plans.py).
- generated-code cache sized to the working set (see ``get_spark``).

``local_frame`` is the one way library code turns driver-side rows into a
DataFrame (see its docstring for why not ``createDataFrame(list)``).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier, _parse_datatype_string

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _default_driver_mem() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    machine's physical memory, at most 24g, at least 1g. In local mode
    storage and execution share this one heap; on a 128 GiB box 8g made
    persisted signature tables thrash against 32 concurrent shuffle tasks
    (cached-plan queries 3× slower under bench load), hence the 24g cap.
    A fixed 24g on a 15.7 GiB box let the JVM grow until the kernel
    OOM-killed it (11.7 GB resident during the test suite); half leaves
    the rest to Python workers and the page cache. At cluster scale
    executor memory governs."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1024, min(24 * 1024, total // 2**21))}m"


def get_spark(
    app_name: str = "chatdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # NOTE (r11 optimization round, measured-and-rejected):
        # spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=32m
        # (AQE runtime SMJ->shuffled-hash, guide §3.1) measured median
        # 1.03x across a 9-entry join-heavy paired subset — flat to
        # slightly worse everywhere except range_join_hotkey (0.80x);
        # at this partition size the hash-table build costs what the
        # sort saves. Left at the default (off).
        .config("spark.sql.session.timeZone", "UTC")
        # Spark caches 100 generated classes by default; one warm rag_serve
        # cycle (perfbench, local[4]) generates ~150, so the second cycle
        # recompiled MORE classes (176) than the first (156) and the JIT
        # re-warmed each one. Measured working set: ~250 classes for
        # rag_serve set-up + 2 cycles, ~220 for one curation pass. At 2000
        # the second cycle compiled 58 classes and Metaspace stayed at
        # 181 MB. Static conf: only a fresh session picks it up.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows: Iterable, schema: str | StructType) -> DataFrame:
    """DataFrame over a few driver-side ``rows`` (tuples) typed by
    ``schema`` (a DDL string or a ``StructType``).

    ``spark.createDataFrame(list, schema)`` is planned as a ``PythonRDD``:
    every evaluation starts a Python-worker job (one task per core) just to
    unpickle a handful of rows — on a chat write or an MMR page that job
    was most of the request. An Arrow table instead becomes a
    ``LocalRelation``: the rows ship with the plan, nothing runs until the
    consumer's own job, and no Python worker is involved.

    Same rows and schema as the classic call: each row goes through the
    classic type verifier (a wrong-typed value raises ``TypeError`` /
    ``ValueError`` here, on the driver) and ``StructType.toInternal``, so a
    naive ``datetime`` becomes the same epoch micros (the driver process's
    local time) before Arrow sees it."""
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    if not isinstance(struct, StructType):
        raise TypeError(f"local_frame needs a struct schema, got {struct.simpleString()}")
    verify = _make_type_verifier(struct)
    internal = []
    for r in rows:
        verify(r)
        internal.append(struct.toInternal(r))
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in internal], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)

"""Typed table catalog.

Port of the reference's ``TableConfig`` dataclass
(/root/reference/app/backend/types/table_config.py:8-25) plus loaders for the
driver's parquet test tables (TESTDATA.md). A table config declares the
designated text/vector/id columns, the must-have columns, and the typed
attribute list the self-query compiler is allowed to filter on
(/root/reference/app/backend/constants/myscale_tables.py:81-112).
"""

from __future__ import annotations

import functools
import hashlib
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class AttributeInfo:
    """A column (or computed expression) the structured-filter layer may
    reference. ``expr`` defaults to the name; computed attributes (e.g. the
    reference's ``length(categories)``, myscale_tables.py:111) set a SQL
    expression instead."""

    name: str
    type: str  # string | int | float | timestamp | date | list[string]
    description: str = ""
    expr: str | None = None

    @property
    def sql_expr(self) -> str:
        return self.expr or self.name


@dataclass(frozen=True)
class TableConfig:
    """Declarative table description (reference table_config.py:8-25)."""

    name: str
    id_col: str = "id"
    text_col: str | None = None
    vector_col: str | None = None
    vector_dim: int | None = None
    must_have_cols: tuple[str, ...] = ()
    attributes: tuple[AttributeInfo, ...] = ()
    # upsert key for ReplacingMergeTree-style keep-latest semantics
    # (myscale_tables.py:37,65); None → append-only table.
    upsert_key: tuple[str, ...] = ()
    version_col: str | None = None
    partition_cols: tuple[str, ...] = field(default=())


def to_documents(df: DataFrame, text_col: str, must_have_cols) -> DataFrame:
    """S9 row→Document sink projection (reference
    myscale_without_metadata.py:42-48): ``page_content`` = the text column,
    ``metadata`` = the must-have columns (names or Columns) serialized to
    JSON (representation-stable for comparisons)."""
    from pyspark.sql import functions as F

    return df.select(
        F.col(text_col).alias("page_content"),
        F.to_json(F.struct(*must_have_cols)).alias("metadata"),
    )


def oracle_sf_dir() -> str:
    """The fixture dir the driver's DuckDB views read — lazy replay
    oracles (queries/vector.py ANN replays, queries/text.py BPE replay)
    must read the SAME files. ONE definition so the override knob
    (tools/driver_replay.py REPLAY_SF pairs with it for the regeneration
    dry-run) cannot drift per-module."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ``ts`` as parquet TIMESTAMP(NANOS), which Spark
    rejects by default. Read nanos as long (runtime conf, works under any
    session) and convert to a microsecond timestamp with exact integer
    division — same truncation DuckDB applies reading ns→us."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TESTDATA_TABLES) -> dict[str, DataFrame]:
    """Load the driver test tables as DataFrames."""
    return {
        n: (load_events(spark, sf_dir) if n == "events" else spark.read.parquet(f"{sf_dir}/{n}.parquet"))
        for n in names
    }


def register_views(spark: SparkSession, sf_dir: str, names=TESTDATA_TABLES) -> dict[str, DataFrame]:
    """Register each test table as a temp view so ``spark.sql`` entry points
    (Vector SQL dialect, plain SQL) see the same names DuckDB's oracle does.
    The only place a fixture-table view is defined (a static test pins it),
    so every query's ``events`` / ``documents`` / ... view is the same read.
    Returns the registered frames."""
    tables = load_tables(spark, sf_dir, names)
    for n, df in tables.items():
        df.createOrReplaceTempView(n)
    return tables


# --- Reference-shaped table configs (SURVEY §1.2) ---------------------------

WIKIPEDIA = TableConfig(
    name="wiki_pedia",
    id_col="id",
    text_col="text",
    vector_col="emb",
    vector_dim=768,
    must_have_cols=("id", "title", "url", "text", "views"),
    attributes=(
        AttributeInfo("title", "string", "title of the wikipedia page"),
        AttributeInfo("text", "string", "paragraph text"),
        AttributeInfo("views", "float", "page view count"),
    ),
    upsert_key=("id",),
)

CHAT_ARXIV = TableConfig(
    name="chat_arxiv",
    id_col="id",
    text_col="abstract",
    vector_col="vector",
    vector_dim=768,
    must_have_cols=("title", "id", "categories", "abstract", "authors", "pubdate"),
    attributes=(
        AttributeInfo("pubdate", "timestamp", "publish date of the paper"),
        AttributeInfo("authors", "list[string]", "list of author names"),
        AttributeInfo("title", "string", "title of the paper"),
        AttributeInfo("categories", "list[string]", "arxiv categories"),
        AttributeInfo("length(categories)", "int", "length of categories list",
                      expr="size(categories)"),
    ),
    upsert_key=("id",),
)

PRIVATE_KB = TableConfig(
    name="private_kb",
    id_col="entity_id",
    text_col="text",
    vector_col="vector",
    vector_dim=768,
    must_have_cols=("entity_id", "file_name", "text", "user_id"),
    upsert_key=("entity_id",),
    version_col="created_by",
)

SESSIONS = TableConfig(
    name="sessions",
    id_col="session_id",
    upsert_key=("session_id",),
    version_col="create_by",
)

CHAT_MEMORY = TableConfig(
    name="chat_memory",
    id_col="msg_id",
    upsert_key=("msg_id",),
    version_col="id",
    partition_cols=("session_id",),
)


_OPERATORS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "operators")


@functools.lru_cache(maxsize=None)
def _builder_digest(operators_dir: str) -> str:
    """md5 over the bytes of every ``operators/*.py`` — the code that
    builds a cached index. Once per process: the digest describes the code
    this interpreter imported, which is what builds and reads the caches."""
    import pathlib

    h = hashlib.md5()
    for p in sorted(pathlib.Path(operators_dir).glob("*.py")):
        h.update(p.name.encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def shared_cache_path(
    kind: str, sf_dir: str, suffix: str, source: str = "embeddings.parquet"
) -> str:
    """/tmp location for a one-time derived artifact (IVF/PQ layout,
    signature store) shared across sessions and rounds. The path embeds a
    fingerprint of the SOURCE parquet (size + mtime) AND of the operator
    source that builds the artifact (:func:`_builder_digest`), so neither
    a regenerated testdata file nor a changed build (PQ codebooks, IVF
    KMeans, an encode UDF) can silently serve a stale layout — the /tmp
    caches follow the same static-data contract as the in-process plan
    memos (operators/dedup.py:_STOP_SETS), enforced by key instead of by
    convention. Any edit under operators/ rebuilds every cache once."""
    st = os.stat(os.path.join(sf_dir, source))
    key = f"{st.st_size}:{st.st_mtime_ns}:{_builder_digest(_OPERATORS_DIR)}"
    fp = hashlib.md5(key.encode()).hexdigest()[:10]
    safe = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    return f"/tmp/chatdata_spark_{kind}/{safe}_{suffix}_{fp}"

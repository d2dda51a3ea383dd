"""Batch ingestion (SURVEY §2.1 S2/S3/S8 + §1.3 constraint validation).

The reference bulk-loads zstd JSONEachRow from S3 with an inline schema and
flattens the JSON ``metadata`` object into typed columns at ingest
(docs/vector-sql.md:200-218: ``JSONExtractString``, ``JSONExtractArrayRaw``
+ ``arrayMap(trim)``, ``parseDateTimeBestEffort``), and parses uploaded
files via the Unstructured API keeping NarrativeText elements > 10 words
(tools.py:13-50, filter at :42).

Spark-first: ``spark.read.schema(...).json`` handles S3 globs + zstd
natively with predicate/column pruning; flattening is ``from_json`` /
``get_json_object`` / ``to_timestamp`` projections; the upload parser is a
``mapInPandas`` over binary file contents (the Unstructured HTTP call is
stubbed — not in this container — behind a deterministic fake with the
real batch plumbing).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_json_bulk(spark: SparkSession, path_glob: str, schema: str) -> DataFrame:
    """S2: bulk JSON(EachRow) load with explicit schema (no sampling pass —
    at 100 TB schema inference would read everything twice). Compressed
    inputs (.zst/.gz) decode transparently."""
    return spark.read.schema(schema).json(path_glob)


def flatten_arxiv_metadata(df: DataFrame, json_col: str = "metadata") -> DataFrame:
    """S3: the reference's exact flatten (docs/vector-sql.md:204-209) —
    string field, trimmed string array, best-effort timestamp — as typed
    projections. Schema-on-write: downstream queries touch native columns,
    never JSON."""
    j = F.col(json_col)
    return df.withColumns(
        {
            "title": F.get_json_object(j, "$.title"),
            "authors": F.transform(
                F.from_json(F.get_json_object(j, "$.authors"), "array<string>"),
                lambda x: F.trim(x),
            ),
            "pubdate": F.to_timestamp(F.get_json_object(j, "$.pubdate")),
        }
    )


def validate_vector_dim(df: DataFrame, vector_col: str, dim: int) -> tuple[DataFrame, DataFrame]:
    """§1.3: ``CONSTRAINT CHECK length(v) = dim`` (myscale_tables.py:36,64)
    as ingest-time split — (valid rows, rejected rows). Parquet has no table
    constraints; rejects are returned for a quarantine sink + metric."""
    ok = F.col(vector_col).isNotNull() & (F.size(vector_col) == dim)
    return df.filter(ok), df.filter(~ok | F.col(vector_col).isNull())


# --- S8: upload → parse → filter → id → embed --------------------------------

def maybe_real_parser() -> Callable[[bytes, str], list[dict]] | None:
    """Env escape hatch mirroring the embedder's
    (functions/embedders.py:maybe_real_embedder): when
    ``SPARK_GRAFT_UNSTRUCTURED_PARSE`` is set AND the ``unstructured``
    package is importable, return a real parser producing the same
    ``(bytes, name) -> [{'type', 'text'}]`` contract as the stub — the
    reference's Unstructured element types flow straight into the
    NarrativeText filter (tools.py:27-42). None otherwise (this container
    ships no parser; the stub stays the default). The returned closure
    imports unstructured INSIDE itself and captures nothing from this
    module, so it pickles by value to workers."""
    import os

    if not os.environ.get("SPARK_GRAFT_UNSTRUCTURED_PARSE"):
        return None
    try:
        import unstructured  # noqa: F401
    except ImportError:
        return None

    def parser(content: bytes, file_name: str) -> list[dict]:
        import io

        from unstructured.partition.auto import partition

        els = partition(file=io.BytesIO(content), metadata_filename=file_name)
        return [{"type": type(e).__name__, "text": str(e)} for e in els]

    return parser


def parse_uploads(
    files_df: DataFrame,
    parser: Callable[[bytes, str], list[dict]] | None = None,
    min_words: int = 10,
) -> DataFrame:
    """S8 pipeline over a binary-file DataFrame (``spark.read.format(
    "binaryFile")`` shape: path, content). mapInPandas replaces the
    reference's ThreadPool(8) fan-out (tools.py:46-50) — parallelism is
    partition count, not a thread knob. Keeps ``type == 'NarrativeText' AND
    words > min_words`` (tools.py:42) and derives the upsert key
    ``entity_id = sha256(file + text)`` (tools.py:35-37).

    The default parser is a deterministic stand-in for the Unstructured
    API parse (tools.py:27-33): it splits on blank lines and alternates
    element types so the NarrativeText filter has something to drop."""
    if parser is None:
        parser = maybe_real_parser()
    if parser is None:

        def parser(content: bytes, file_name: str) -> list[dict]:
            text = content.decode("utf-8", errors="replace")
            out = []
            for i, para in enumerate(p.strip() for p in text.split("\n\n")):
                if para:
                    out.append({"type": "NarrativeText" if i % 3 != 2 else "Title", "text": para})
            return out

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                name = r["path"].rsplit("/", 1)[-1]
                for el in parser(bytes(r["content"]), name):
                    rows.append((name, el["type"], el["text"]))
            yield pd.DataFrame(rows, columns=["file_name", "el_type", "text"])

    parsed = files_df.mapInPandas(gen, "file_name string, el_type string, text string")
    return (
        parsed.filter(
            (F.col("el_type") == "NarrativeText")
            & (F.size(F.split(F.col("text"), " ")) > min_words)
        )
        .withColumn("entity_id", F.sha2(F.concat(F.col("file_name"), F.col("text")), 256))
        .drop("el_type")
    )


def embed_and_validate(
    df: DataFrame,
    text_col: str,
    dim: int,
    vector_col: str = "vector",
    embed_model: str = "hash",
) -> DataFrame:
    """V5 batch embedding + dim constraint in one pass. ``embed_model`` is
    a name resolved through the embedder registry
    (functions/embedders.py) — hash stub unless a real factory is
    registered under that name."""
    from chatdata_spark.functions.embedders import embedder_udf

    out = df.withColumn(vector_col, embedder_udf(embed_model, dim)(F.col(text_col)))
    valid, _rejected = validate_vector_dim(out, vector_col, dim)
    return valid


def read_json_quarantine(
    spark: SparkSession, path_glob: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """Malformed-input-tolerant JSON load: (clean rows, quarantine rows).

    PERMISSIVE mode keeps the pipeline running when a 100 TB crawl batch
    contains broken lines — schema-conforming rows land typed, each
    malformed line is captured verbatim in ``_corrupt_record`` for the
    quarantine sink (count it, alert on rate, reprocess later). FAILFAST
    (die on first bad record) is the wrong default at scale; silently
    DROPMALFORMED loses data with no audit trail."""
    full = schema.rstrip() + ", _corrupt_record string"
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path_glob)
    )
    # caching before the split is what makes the corrupt-column populated
    # view consistent (Spark rescans otherwise and may re-parse differently)
    df = df.cache()
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return clean, bad


def parse_csv_typed(
    df: DataFrame,
    csv_col: str,
    schema: str,
    corrupt_col: str = "_corrupt",
) -> DataFrame:
    """Typed CSV-line parsing with PERMISSIVE bad-record capture — the CSV
    member of the ingest family (read_json_bulk / read_json_quarantine
    cover JSON; the reference's upload pipeline accepts delimited files
    through the same parse seam, app/backend/chat_bot/tools.py:13-50).

    ``schema`` must include ``corrupt_col string``; rows whose fields fail
    the typed cast land there verbatim (the quarantine convention of
    read_json_quarantine) while parseable fields are still extracted.
    Scan-stage JVM (``from_csv``) — no shuffle, no Python; the parsed
    struct is materialized once in a layered select (CLAUDE.md inlining
    rule) before its fields are read."""
    import pyspark.sql.functions as F

    parsed = df.select(
        "*",
        F.from_csv(
            F.col(csv_col),
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
        ).alias("__parsed"),
    )
    field_names = [f.strip().split()[0] for f in schema.split(",")]
    return parsed.select(
        "*", *[F.col(f"__parsed.{n}").alias(n) for n in field_names]
    ).drop("__parsed")

"""Batch ingestion (SURVEY §2.1 S3 + §1.3 constraint validation).

The reference flattens the JSON ``metadata`` object into typed columns at
ingest (docs/vector-sql.md:200-218: ``JSONExtractString``,
``JSONExtractArrayRaw`` + ``arrayMap(trim)``, ``parseDateTimeBestEffort``)
and enforces ``CHECK length(vector) = dim`` on insert.

Spark-first: flattening is ``from_json`` / ``get_json_object`` /
``to_timestamp`` projections, the dimension constraint is an ingest-time
(valid, rejected) split, and delimited lines parse through ``from_csv``
with PERMISSIVE bad-record capture. Uploaded knowledge-base files get
their ``entity_id = sha256(file + text)`` key in
``stores/state.py::_sha256``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def parse_csv_typed(
    df: DataFrame,
    csv_col: str,
    schema: str,
    corrupt_col: str = "_corrupt",
) -> DataFrame:
    """Typed CSV-line parsing with PERMISSIVE bad-record capture (the
    reference's upload pipeline accepts delimited files,
    app/backend/chat_bot/tools.py:13-50).

    ``schema`` must include ``corrupt_col string``; rows whose fields fail
    the typed cast land there verbatim (a quarantine column) while
    parseable fields are still extracted.
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

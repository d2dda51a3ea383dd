"""Stream-static enrichment join (north-star §2.10 extension; the
reference has no streaming — its ingest is batch INSERT...SELECT per
upload, app/backend/chat_bot/tools.py:13-50).

The watermarked stream-stream interval join (click→purchase attribution)
is streaming/incremental.py::stream_stream_interval_join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatdata_spark.streaming.runner import _available_now, _parquet


def stream_static_enrich(
    spark,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema: str,
    dim_df: DataFrame,
    on_left: str,
    on_right: str,
    dim_cols: list[str],
) -> None:
    """Stream-static dimension enrichment — the third §2.10 join shape
    (alongside the stream-stream interval join in streaming/incremental.py
    and the windowed aggregations): a file stream inner-joined to a STATIC
    dimension frame.

    Spark re-evaluates the static side on EVERY micro-batch, which is the
    operational point: a dimension backed by a versioned store pointer
    (stores/state.py) picks up dimension updates between batches with no
    stream restart. The dim is broadcast per batch (dimensions are the
    small side by definition — at 100 TB the stream shuffles nothing for
    this join), keyed ``stream.on_left == dim.on_right``; no watermark and
    no state: the join is stateless row-at-a-time enrichment, so it runs
    forever at constant memory."""
    src = spark.readStream.schema(schema).parquet(in_dir)
    dim = dim_df.select(F.col(on_right).alias(on_left), *dim_cols)
    enriched = src.join(F.broadcast(dim), on_left, "inner")
    _available_now(enriched, checkpoint, _parquet(out_dir))

"""Stream-stream event-time joins (north-star §2.10 extension; the
reference has no streaming — its ingest is batch INSERT...SELECT per
upload, app/backend/chat_bot/tools.py:13-50).

The attribution-window join: every purchase matched to the same user's
clicks within the preceding ``window``. Both sides carry event-time
watermarks, so Spark bounds the join state — click state older than
(watermark + window) is evicted, purchase state after watermark. That is
the property that lets this run forever on an unbounded stream; an
unwatermarked stream-stream join accumulates state without bound and is
refused by Spark for outer joins.

At scale the join shuffles both streams on ``user_id`` once per
micro-batch; state lives in the state store partitioned the same way (RocksDB
provider in production). Late events beyond the watermark are dropped on
arrival — the same contract as the watermarked windowed counts in
streaming/incremental.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatdata_spark.streaming.runner import _available_now, _parquet


def purchase_click_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Pair each purchase with every click by the same user in
    ``[purchase.ts - window, purchase.ts]``. Works identically on batch
    DataFrames (no watermark applied) and streams (state bounded by the
    watermarks); output columns: user_id, click_id, click_ts, purchase_id,
    purchase_ts.

    ``clicks`` needs (user_id, ts, event_id); ``purchases`` the same.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id")
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"interval {window}"))
    )
    return c.join(p, cond, "inner").select(
        F.col("c_user").alias("user_id"), "click_id", "click_ts", "purchase_id", "purchase_ts"
    )


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
    (alongside the stream-stream interval join above and the windowed
    aggregations): a file stream inner-joined to a STATIC dimension frame.

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

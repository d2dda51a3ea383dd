"""Custom stateful streaming operator: cross-batch stream deduplication via
``applyInPandasWithState`` (the API the 100 TB streaming story needs when
built-in ``dropDuplicates`` watermark state is not enough — here state is a
compact seen-flag per key, queryable and explicitly managed).

Semantics: emit each key's FIRST arrival only, across all micro-batches
forever (state survives restarts through the checkpoint). The batch twin is
``operators/dedup.py::exact_dedup``; this is its infinite-stream form.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from chatdata_spark.streaming.runner import _available_now, _parquet


def stream_distinct(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    key_col: str,
    schema: str,
    ts_col: str | None = None,
    ttl_minutes: float | None = None,
    watermark: str = "1 seconds",
) -> None:
    """Exactly-once first-arrival stream over a file source: duplicates are
    dropped within AND across micro-batches (checkpointed state).

    State-size story: one seen-flag per DISTINCT key — exact global dedup
    necessarily remembers every key, so with an unbounded key domain the
    state grows with the stream. For the 100 TB case pass ``ts_col`` +
    ``ttl_minutes``: seen-flags expire via EventTimeTimeout once the
    watermark passes ``first_arrival_ts + ttl`` — state becomes
    O(keys-per-horizon), and a duplicate arriving AFTER its key's horizon
    re-emits (dedup-within-horizon, the same contract as Spark's built-in
    ``dropDuplicatesWithinWatermark``; daily-crawl pipelines pair this
    with the batch signature store for the long tail)."""
    ttl_ms = int(ttl_minutes * 60_000) if ttl_minutes is not None else None
    use_ttl = ttl_ms is not None and ts_col is not None

    def first_arrival(key, batches: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # horizon passed with no need to keep the flag — forget the key
            state.remove()
            return
        if state.exists:
            # key already emitted in a previous batch/run — swallow everything
            for _ in batches:
                pass
            return
        first = None
        first_ts_ms = None
        for pdf in batches:
            if len(pdf) and first is None:
                first = pdf.iloc[[0]]
                if use_ttl:
                    first_ts_ms = int(
                        pd.Timestamp(first.iloc[0][ts_col]).value // 1_000_000
                    )
        if first is not None:
            state.update((True,))
            if use_ttl:
                state.setTimeoutTimestamp(first_ts_ms + ttl_ms)
            yield first

    stream = spark.readStream.schema(schema).parquet(input_dir)
    if use_ttl:
        stream = stream.withWatermark(ts_col, watermark)
    deduped = stream.groupBy(key_col).applyInPandasWithState(
        first_arrival,
        outputStructType=schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout if use_ttl else GroupStateTimeout.NoTimeout
        ),
    )
    _available_now(deduped, checkpoint_dir, _parquet(output_dir))


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    user_col: str,
    ts_col: str,
    schema: str,
    gap_minutes: float = 30.0,
    watermark: str = "1 seconds",
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming gap sessionization — the infinite-stream twin of
    ``operators/timeseries.sessionize`` (same 30-min-gap semantics,
    asserted against it in tests/test_ingest_streaming.py).

    Per user, state holds the OPEN session (start_us, last_us, n) as three
    longs. A new event within ``gap`` extends it; a later event closes it
    (the closed session is emitted and a new one opens); when the event-time
    watermark passes last + gap with no new data, ``EventTimeTimeout``
    fires and the session is emitted from the timeout path. Sessions
    therefore emit exactly once, in "append" mode, with state bounded by
    one row per ACTIVE user — the 100 TB-stream shape (compare: a batch
    window over all history re-reads everything per refresh).

    Timestamps ride as epoch microseconds inside state to keep the state
    row fixed-width."""
    gap_us = int(gap_minutes * 60_000_000)

    def update(key, batches: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        def emit(start_us: int, last_us: int, n: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": pd.Series([key[0]], dtype="int64"),
                    "session_start": pd.Series([pd.Timestamp(start_us, unit="us")]),
                    "session_end": pd.Series([pd.Timestamp(last_us, unit="us")]),
                    "n_events": pd.Series([n], dtype="int64"),
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield emit(start_us, last_us, n)
            return
        ts_all = []
        for pdf in batches:
            if len(pdf):
                ts_all.append(pdf["__ts_us"])
        if not ts_all:
            return
        ts = pd.concat(ts_all).sort_values().to_numpy()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        out = []
        for t in ts:
            t = int(t)
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us <= gap_us:
                last_us, n = t, n + 1
            else:
                out.append(emit(start_us, last_us, n))
                start_us, last_us, n = t, t, 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp((last_us + gap_us) // 1000 + 1)
        for o in out:
            yield o

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .withWatermark(ts_col, watermark)
        .withColumn(
            "__ts_us",
            (F.unix_micros(F.col(ts_col))).cast("long"),
        )
    )
    sessions = stream.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType="user_id long, session_start timestamp, session_end timestamp, n_events long",
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    _available_now(sessions, checkpoint_dir, _parquet(output_dir))

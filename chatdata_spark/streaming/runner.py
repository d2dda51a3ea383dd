"""The one streaming drain mechanism every file-source stream here uses.

``_available_now`` is the only place a ``DataStreamWriter`` is started:
checkpoint + ``Trigger.AvailableNow`` + block until the backlog is
drained. ``drain`` is the only ``foreachBatch`` body (empty micro-batches
are skipped here, once). ``drain_merge`` is the only versioned-state fold:
each state is defined by a ``fold(prev_state_or_None, batch_df)`` and its
replay class (``additive``), and the read-guard-fold-write sequence lives
here instead of in each merge.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter


def _available_now(
    stream: DataFrame,
    checkpoint_dir: str,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
) -> None:
    """Run ``stream`` to the end of its current backlog and stop. ``sink``
    configures the writer (format/path, or foreachBatch); the checkpoint
    makes a re-run process only unseen input."""
    (
        sink(stream.writeStream)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _parquet(output_dir: str) -> Callable[[DataStreamWriter], DataStreamWriter]:
    """Append-mode parquet file sink at ``output_dir`` (append is the
    writer's default output mode)."""
    return lambda w: w.format("parquet").option("path", output_dir)


def drain(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    checkpoint_dir: str,
    on_batch: Callable[[DataFrame, int], None],
) -> None:
    """Drain the parquet files under ``input_dir`` through
    ``on_batch(batch_df, batch_id)``, exactly once per file via the
    checkpoint. Empty micro-batches never reach ``on_batch``.

    ``on_batch`` runs DRIVER-side, so package imports are safe in it
    (unlike worker closures)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            on_batch(batch_df, batch_id)

    stream = spark.readStream.schema(schema).parquet(input_dir)
    _available_now(stream, checkpoint_dir, lambda w: w.foreachBatch(apply_batch))


def drain_merge(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    checkpoint_dir: str,
    store,
    fold: Callable[[DataFrame | None, DataFrame], DataFrame],
    additive: bool,
) -> None:
    """Fold each micro-batch into the versioned ``store``: the next version
    is ``fold(current_state, batch_df)`` (``None`` while the store is
    empty).

    ``additive`` is the state's replay class (CLAUDE.md):

    - ``True`` (counts, sums, moments): re-folding a committed batch
      double-counts, so each version carries the committing ``batch_id``
      in its sidecar meta (``store.write(..., meta=...)``, committed by the
      same atomic pointer swap as the data) and a retry of an
      already-committed batch is skipped — the Delta txn-version idiom on
      the versioned-parquet store. The guard runs BEFORE ``fold``, so a
      skipped replay builds no batch summary. It reads ``read_meta()``'s
      scalar, NOT an aggregate over rows: a max-over-rows read rested on
      an implicit single-writer assumption — a crashed run's version
      interleaving with another writer could satisfy the >= check while
      the state itself was stale (ADVICE r8).
    - ``False`` (lattice joins — MIN registers, bottom-k — keep-latest
      upserts, SCD2 folds): re-folding a committed batch leaves the state
      value unchanged, so no guard is written.
    """

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if additive:
            applied = store.read_meta().get("last_batch")
            if applied is not None and applied >= batch_id:
                return  # replay of a committed batch — re-folding double-counts
        prev = store.read() if store.exists() else None
        store.write(fold(prev, batch_df), meta={"last_batch": batch_id} if additive else None)

    drain(spark, input_dir, schema, checkpoint_dir, on_batch)

"""Incremental embedding / index refresh via Structured Streaming
(SURVEY §7 step 9 — the reference re-runs batch INSERT...SELECT for new
data; here arrival is incremental and exactly-once).

Pattern: file-source stream over an ingest directory → validate → embed
(Arrow UDF) → sink. Checkpointing makes re-runs process only unseen files;
``Trigger.AvailableNow`` drains the backlog then stops, which is both the
deterministic test mode and the sane production batch-cadence mode (cron a
drain instead of keeping executors hot). A watermarked windowed count
shows the late-data-tolerant stats path for event streams. Every sink and
every state merge here runs through streaming/runner.py: each
``stream_*_merge`` is one ``fold`` plus its replay class.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from chatdata_spark.functions.vector import make_embed_text_udf
from chatdata_spark.streaming.runner import _available_now, _parquet, drain, drain_merge


def incremental_embed(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id bigint, text string",
    dim: int = 64,
) -> None:
    """Drain new document files from ``input_dir`` into an embedded parquet
    sink, exactly-once per file via the checkpoint."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    embedded = stream.filter(F.col("text").isNotNull()).withColumn(
        "vector", make_embed_text_udf(dim)(F.col("text"))
    )
    _available_now(embedded, checkpoint_dir, _parquet(output_dir))


def stream_upsert_into_store(
    spark: SparkSession,
    input_dir: str,
    store,
    key_cols: list[str],
    version_col: str,
    checkpoint_dir: str,
    schema: str,
) -> None:
    """Stream → state-store upsert via foreachBatch: each micro-batch is
    merged with keep-latest semantics into a VersionedParquetStore (the
    streaming twin of M1 — at warehouse scale the body becomes a Delta
    MERGE; the stream topology is unchanged). Checkpoint + versioned swap
    give effectively-once application of each batch; keep-latest is
    idempotent, so a replayed batch needs no batch_id guard."""
    from chatdata_spark.operators.upsert import keep_latest

    def fold(prev, batch_df):
        rows = batch_df if prev is None else prev.unionByName(batch_df)
        return keep_latest(rows, key_cols, version_col)

    drain_merge(spark, input_dir, schema, checkpoint_dir, store, fold, additive=False)


def windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "event_id bigint, ts timestamp, event_type string, value double",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> None:
    """Watermarked tumbling-window aggregation over an event stream —
    late rows inside the watermark still land in their window; older ones
    are dropped and state is bounded (the 100 TB streaming-state story)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )
    _available_now(agg, checkpoint_dir, _parquet(output_dir))


def stream_stream_interval_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    left_schema: str = "user_id bigint, ts timestamp, value double",
    right_schema: str = "user_id bigint, ts timestamp, value double",
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> None:
    """Watermarked stream-stream inner join: pair each left event with the
    right-stream events of the same key that happened within
    ``[left.ts - max_delay, left.ts]`` (click→purchase attribution shape).

    State story at scale: BOTH sides carry a watermark and the join
    condition bounds the event-time range, so Spark evicts buffered rows
    once the watermark passes ``ts + max_delay`` — state is
    O(keys x delay-window), not O(stream length). Without the time-range
    predicate the state would grow unboundedly; that's the failure mode
    this wrapper makes impossible to write."""
    left = (
        spark.readStream.schema(left_schema).parquet(left_dir)
        .withWatermark("ts", watermark)
        .select(
            F.col(key_col).alias("k"),
            F.col("ts").alias("l_ts"),
            F.col("value").alias("l_value"),
        )
    )
    right = (
        spark.readStream.schema(right_schema).parquet(right_dir)
        .withWatermark("ts", watermark)
        .select(
            F.col(key_col).alias("k"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("r_value"),
        )
    )
    joined = left.join(
        right,
        [
            left["k"] == right["k"],
            right["r_ts"] <= left["l_ts"],
            right["r_ts"] >= left["l_ts"] - F.expr(f"INTERVAL {max_delay}"),
        ],
        "inner",
    ).select(left["k"].alias(key_col), "l_ts", "l_value", "r_ts", "r_value")
    _available_now(joined, checkpoint_dir, _parquet(output_dir))


def stream_near_dup_pairs(
    spark: SparkSession,
    input_dir: str,
    sig_store,
    pairs_out_dir: str,
    checkpoint_dir: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.4,
) -> None:
    """Streaming near-dup detection: each arriving micro-batch is
    deduplicated against everything seen so far via the incremental
    signature store (operators/incdedup.py — stored band keys, no corpus
    rescan) and the resulting pairs land under
    ``pairs_out_dir/batch=<b>`` (read the base dir; ``batch`` surfaces as
    a partition column).

    Effectively-once batch application, effects strictly ordered:
    (1) stage the batch's signatures (uncommitted, id from the COMMITTED
    batch list), (2) write its pairs to a PER-BATCH directory with
    overwrite, (3) commit the signature batch. A crash before (3) leaves
    the batch uncommitted, so the replayed micro-batch reuses the same
    batch id and idempotently rewrites both directories — pairs are never
    lost (committing the signatures first would make the replay's
    seen-ids anti-join swallow the batch while its pairs were never
    written: silent at-most-once). A crash AFTER (3) but before the
    stream checkpoint commits replays the batch too — then the anti-join
    against stored ids correctly no-ops it, and its pairs are already on
    disk. The streaming topology is the batch operator unchanged — the
    store IS the state, no applyInPandasWithState needed."""

    def apply_batch(batch_df, batch_id: int) -> None:
        seen = sig_store._stored_sigs()
        fresh = batch_df
        if seen is not None:
            fresh = batch_df.join(
                seen.select(F.col("id").alias(id_col)), id_col, "left_anti"
            )
        if fresh.isEmpty():
            return
        b, pairs = sig_store.stage_batch(fresh, id_col, text_col, threshold=threshold)
        pairs.write.mode("overwrite").parquet(f"{pairs_out_dir}/batch={b}")
        sig_store.commit_batch(b)

    drain(spark, input_dir, schema, checkpoint_dir, apply_batch)


def stream_cms_merge(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    item_col: str,
    schema: str,
    depth: int = 4,
    width: int = 1024,
) -> None:
    """Stream → mergeable count-min sketch via foreachBatch: each
    micro-batch collapses to its own depth×width sketch (bounded state,
    operators/cms.py) which merges CELL-WISE into the versioned store —
    the streaming twin of cms_build, and the property that makes the
    sketch maintainable over an unbounded stream: store size stays ≤
    depth·width rows forever while counts keep adding. The merged sketch
    is provably equal to the batch sketch over the union of all drained
    files (count addition is associative+commutative), which is exactly
    what the streaming_cms_user_frequency oracle checks.

    Exactly-once, not just effectively-once: unlike the upsert store
    (idempotent merge), CMS merge DOUBLE-COUNTS on a batch replay, so
    each version carries the committing ``batch_id`` in its sidecar META
    (``store.write(..., meta=...)`` — committed by the same atomic
    pointer swap as the data), and a foreachBatch retry of an
    already-committed batch is skipped (the Delta txn-version idiom on
    the versioned-parquet store). The guard reads ``read_meta()``'s
    scalar, NOT an aggregated column over rows: a max-over-rows read
    rested on an implicit single-writer assumption — a crashed run's
    version interleaving with another writer could satisfy the >= check
    while the state itself was stale (ADVICE r8)."""
    from chatdata_spark.operators.cms import cms_build, cms_merge

    def fold(prev, batch_df):
        sk = cms_build(batch_df, item_col, depth=depth, width=width)
        return sk if prev is None else cms_merge(prev, sk)

    drain_merge(spark, input_dir, schema, checkpoint_dir, store, fold, additive=True)


def stream_histogram_merge(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    value_col: str,
    schema: str,
    edges: list[float],
) -> None:
    """Stream → mergeable histogram via foreachBatch: each micro-batch
    collapses to its own (bin, n) counts over the FROZEN reference edges
    (operators/drift.py::hist_counts) and merges additively into the
    versioned store — the streaming half of PSI drift monitoring, where
    the reference histogram is computed once and the current snapshot is
    an unbounded stream. Store state stays ≤ |bins| rows forever.

    Histogram addition is associative and commutative, so the merged
    counts provably equal the one-shot batch histogram over the union of
    all drained files — which is exactly what the streaming_drift_psi
    oracle (the batch PSI oracle, verbatim) checks. Replay guard: like
    the CMS store, count merge double-counts on a batch replay, so each
    version carries the committing ``batch_id`` in its sidecar meta
    (atomic with the pointer swap; read back as ``read_meta()``'s
    scalar, not a max over rows — ADVICE r8) and a retry of a committed
    batch is skipped."""
    from chatdata_spark.operators.drift import hist_counts

    def fold(prev, batch_df):
        h = hist_counts(batch_df, value_col, edges, out="n")
        if prev is None:
            return h
        return prev.unionByName(h).groupBy("bin").agg(F.sum("n").alias("n"))

    drain_merge(spark, input_dir, schema, checkpoint_dir, store, fold, additive=True)


def stream_quantile_sample_merge(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    group_cols: list[str],
    value_col: str,
    key_col: str,
    schema: str,
    k: int = 256,
    salt: str = "qsk",
) -> None:
    """Stream → mergeable quantile sample via foreachBatch: each
    micro-batch collapses to its own bottom-k-by-hash sample
    (operators/quantsketch.py::quantile_sample) and merges with the
    versioned store's sample — store state stays ≤ k rows per group
    forever, the streaming half of corpus-distribution monitoring.

    Unlike the CMS/histogram merges (additive — a replayed batch
    double-counts), the bottom-k merge is an IDEMPOTENT lattice join
    (set-union then bottom-k, with key dedup): re-merging a committed
    batch is a no-op, so no batch_id replay guard is needed — the store
    converges to the same sample under any delivery schedule, which is
    exactly what the batch-parity oracle checks."""
    from chatdata_spark.operators.quantsketch import merge_samples, quantile_sample

    def fold(prev, batch_df):
        sk = quantile_sample(batch_df, group_cols, value_col, key_col, k=k, salt=salt)
        return sk if prev is None else merge_samples([prev, sk], group_cols, k=k)

    drain_merge(spark, input_dir, schema, checkpoint_dir, store, fold, additive=False)


def stream_mg_merge(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    item_col_fn,
    schema: str,
    k: int = 256,
    weighted: bool = False,
) -> None:
    """Stream → mergeable Misra-Gries heavy-hitter summary via
    foreachBatch: each micro-batch collapses to its EXACT (item, cnt)
    counts (bounded: one batch), merges count-wise into the stored
    summary, and the merged table compresses back to ≤ k rows by
    subtracting the (k+1)-th largest count — the mergeable-summaries
    result (Agarwal et al. 2012): the merged sketch's per-item
    undercount is ≤ N_total/(k+1), so any item with true count above
    that bound SURVIVES in the store no matter how the stream was
    micro-batched. The final answer is candidates → exact recount (the
    same two-pass shape as operators/heavyhitters.py, with the candidate
    pass maintained incrementally instead of per-partition).

    ``item_col_fn``: batch DataFrame -> one-column ('item') DataFrame —
    or ('item', '__w') with ``weighted=True`` for the topKWeighted
    posture: per-batch mass is summed through DECIMAL(27,6) (exact, so
    the merged summary is bit-deterministic under any accumulation
    order) and the same (k+1)-th-largest compression applies to weight
    mass, with the merged-undercount bound <= W_total/(k+1)
    (runs DRIVER-side in foreachBatch — package imports are safe here,
    unlike worker closures). Count merge is additive, so a replayed
    batch double-counts: the batch_id guard (the CMS convention — the
    committing batch_id lives in the version's sidecar meta, atomic with
    the pointer swap, ADVICE r8) skips committed batches."""
    from pyspark.sql import Window

    def fold(prev, batch_df):
        items = item_col_fn(batch_df)
        if weighted:
            bc = items.groupBy("item").agg(
                F.sum(F.col("__w").cast("decimal(27,6)")).alias("cnt")
            )
        else:
            bc = items.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
        merged = bc
        if prev is not None:
            merged = (
                prev
                .unionByName(bc.withColumn("cnt", F.col("cnt").cast(dict(prev.dtypes)["cnt"])))
                .groupBy("item")
                .agg(F.sum("cnt").alias("cnt"))
            )
            if weighted:
                # sum(decimal) widens precision each round — pin the store
                # schema so round-N reads union cleanly with round-N+1 sums
                merged = merged.withColumn("cnt", F.col("cnt").cast("decimal(27,6)"))
        w = Window.orderBy(F.desc("cnt"), F.asc("item"))
        wall = Window.partitionBy()
        ranked = merged.select(
            "item", "cnt", F.row_number().over(w).alias("__rn")
        )
        return (
            ranked.select(
                "item",
                "cnt",
                "__rn",
                F.max(
                    F.when(F.col("__rn") == F.lit(int(k) + 1), F.col("cnt"))
                ).over(wall).alias("__m"),
            )
            .select(
                "item", (F.col("cnt") - F.coalesce("__m", F.lit(0))).alias("cnt")
            )
            .filter(F.col("cnt") > 0)
        )

    drain_merge(spark, input_dir, schema, checkpoint_dir, store, fold, additive=True)


def stream_moments_merge(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    group_cols: list[str],
    int_col_fn,
    schema: str,
) -> None:
    """Stream → exact second-moment state via foreachBatch: each
    micro-batch collapses to its own (group, n, s1, s2) integer moments
    (operators/moments.py::exact_moments) and adds component-wise into
    the versioned store — 3 integers per group forever, the z-score
    monitor's streaming half. Integer addition is associative and
    commutative, so the merged state provably equals the one-shot batch
    state over the same rows (the batch-parity oracle's claim); like the
    CMS/histogram merges the state is ADDITIVE, so a replayed micro-batch
    would double-count — the batch_id guard (the CMS convention: the
    committing batch_id rides in the version's sidecar meta, atomic with
    the pointer swap, read back via ``read_meta()`` — ADVICE r8) skips
    committed batches.

    ``int_col_fn``: batch DataFrame -> Column of the INTEGER-scaled value
    (runs driver-side in foreachBatch — package imports are safe here,
    unlike worker closures)."""
    from chatdata_spark.operators.moments import exact_moments, merge_moments

    def fold(prev, batch_df):
        bm = exact_moments(batch_df, group_cols, int_col_fn(batch_df))
        return bm if prev is None else merge_moments([prev, bm], group_cols)

    drain_merge(spark, input_dir, schema, checkpoint_dir, store, fold, additive=True)


def stream_ols_merge(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    group_cols: list[str],
    xy_col_fn,
    schema: str,
) -> None:
    """Stream → exact OLS moment state via foreachBatch: each micro-batch
    collapses to its own (group, n, sx, sy, sxy, sxx) integer moments
    (operators/timeseries.py::ols_moments) and adds component-wise into
    the versioned store — 5 numbers per group forever, the trend
    monitor's streaming half. Same additive-state contract as
    stream_moments_merge: batch parity by associativity/commutativity of
    integer addition, sidecar-meta batch_id replay guard against
    double-counting (ADVICE r8).

    ``xy_col_fn``: batch DataFrame -> (x Column, y Column), both
    integer-valued (runs driver-side in foreachBatch)."""
    from chatdata_spark.operators.timeseries import merge_ols_moments, ols_moments

    def fold(prev, batch_df):
        x, y = xy_col_fn(batch_df)
        bm = ols_moments(batch_df, group_cols, x, y)
        return bm if prev is None else merge_ols_moments([prev, bm], group_cols)

    drain_merge(spark, input_dir, schema, checkpoint_dir, store, fold, additive=True)


def stream_hll_merge(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    group_cols: list[str],
    key_col: str,
    schema: str,
    p: int = 8,
    salt: str = "hll",
) -> None:
    """Stream → deterministic HLL register state via foreachBatch: each
    micro-batch collapses to its own (group, bucket, min_tail) registers
    (operators/hll.py::hll_registers) and merges into the versioned
    store by grouped MIN. Like the bottom-k quantile sample — and unlike
    the additive CMS/histogram/moments states — the MIN merge is an
    IDEMPOTENT lattice join: re-merging a committed batch is a no-op, so
    no batch_id replay guard is needed; the store converges to the same
    ≤ 2^p rows per group under any delivery schedule, which is exactly
    what the batch-parity oracle checks."""
    from chatdata_spark.operators.hll import hll_registers

    def fold(prev, batch_df):
        regs = hll_registers(batch_df, group_cols, key_col, p=p, salt=salt)
        if prev is None:
            return regs
        return (
            prev.unionByName(regs)
            .groupBy(*group_cols, "bucket")
            .agg(F.min("min_tail").alias("min_tail"))
        )

    drain_merge(spark, input_dir, schema, checkpoint_dir, store, fold, additive=False)


def stream_scd2_merge(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str,
    tracked_cols: list[str],
    order_cols: list[str],
    schema: str,
) -> None:
    """Stream → SCD2 history via foreachBatch: each micro-batch of
    changelog rows folds into the stored history with
    operators/scd.py::scd2_merge (touched keys rebuilt, untouched
    carried by anti-join). Correctness contract: batches must arrive in
    EVENT-TIME order (the daily-batch reality scd2_merge documents — a
    change landing between two already-compressed rows of a touched key
    cannot resurrect the compressed-away revert); under that ordering
    the folded history provably equals the one-shot batch build, which
    is what the shared oracle checks. REPLAY of a committed batch is
    absorbed WITHOUT a batch_id guard: re-merged rows are exact
    duplicates of history rows, and duplicate consecutive changelog
    entries are no-op changes the compression drops — idempotent, like
    the lattice merges (and unlike the additive moment/count states)."""
    from chatdata_spark.operators.scd import scd2_from_changelog, scd2_merge

    def fold(prev, batch_df):
        if prev is None:
            return scd2_from_changelog(batch_df, key_cols, ts_col, tracked_cols, order_cols)
        return scd2_merge(prev, batch_df, key_cols, ts_col, tracked_cols, order_cols)

    drain_merge(spark, input_dir, schema, checkpoint_dir, store, fold, additive=False)


def stream_kmv_merge(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    group_col: str,
    elem_col: str,
    schema: str,
    k: int = 64,
    salt: str = "kmv",
) -> None:
    """Stream → per-group KMV bottom-k sketch state via foreachBatch:
    each micro-batch's distinct (group, md5-bucket hash) pairs union
    into the store, which keeps the k SMALLEST distinct hashes per group
    plus a monotone ``sat`` flag (did the union ever exceed k). Like the
    HLL registers and the bottom-k quantile sample — and unlike the
    additive CMS/moment states — bottom-k-of-union is an IDEMPOTENT
    lattice join (bottom_k(bottom_k(S) ∪ B) = bottom_k(S ∪ B); a
    re-delivered batch re-unions values already absorbed), so no
    batch_id replay guard is needed.

    The saturation flag is exact, not heuristic: cumulative distinct
    count first exceeds k at the merge where the (complete, ≤ k-row)
    prior state unions with genuinely new hashes, so the per-merge
    ``n > k`` test fires iff the true distinct count passed k — and
    OR-accumulation is itself a lattice. Downstream,
    ``operators/kmv.py::kmv_pairwise_overlap`` consumes n_distinct ONLY
    through (n > k) comparisons, so ``sat ? k+1 : |sketch|`` is an exact
    surrogate and the streamed overlap matrix is bit-identical to the
    batch one (the batch-parity oracle's claim). State ≤ k rows/group
    forever; the per-batch exchange is the (group, hash) distinct."""
    from pyspark.sql import Window

    from chatdata_spark.operators.sampling import hash_bucket

    def fold(prev, batch_df):
        bh = (
            batch_df.select(
                F.col(group_col), hash_bucket(F.col(elem_col), salt).alias("h")
            )
            .distinct()
            .withColumn("sat", F.lit(False))
        )
        if prev is not None:
            bh = prev.unionByName(bh)
        w = Window.partitionBy(group_col)
        merged = bh.groupBy(group_col, "h").agg(F.max("sat").alias("sat_row"))
        ranked = merged.select(
            group_col,
            "h",
            F.row_number().over(w.orderBy(F.col("h").asc())).alias("rn"),
            F.count(F.lit(1)).over(w).alias("n"),
            F.max("sat_row").over(w).alias("sat_prev"),
        )
        return ranked.filter(F.col("rn") <= k).select(
            group_col,
            "h",
            (F.col("sat_prev") | (F.col("n") > k)).alias("sat"),
        )

    drain_merge(spark, input_dir, schema, checkpoint_dir, store, fold, additive=False)

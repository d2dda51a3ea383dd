"""Ingest-time validation and Structured Streaming tests."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from chatdata_spark.sources.ingest import validate_vector_dim
from chatdata_spark.streaming.incremental import incremental_embed, windowed_event_counts


def test_validate_vector_dim_split(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0]), (3, None)], "id int, v array<float>"
    )
    ok, bad = validate_vector_dim(df, "v", 2)
    assert [r.id for r in ok.collect()] == [1]
    assert sorted(r.id for r in bad.collect()) == [2, 3]


def test_incremental_embed_exactly_once(spark, tmp_path):
    ind, outd, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(ind)
    spark.createDataFrame([(1, "first doc"), (2, "second doc")], "doc_id bigint, text string").write.mode(
        "append"
    ).parquet(ind)
    incremental_embed(spark, ind, outd, ckpt, dim=8)
    assert spark.read.parquet(outd).count() == 2
    # new arrivals only — old files are not reprocessed (checkpoint)
    spark.createDataFrame([(3, "third doc")], "doc_id bigint, text string").write.mode("append").parquet(ind)
    incremental_embed(spark, ind, outd, ckpt, dim=8)
    out = spark.read.parquet(outd)
    assert out.count() == 3  # would be 5 if batch 1 were re-embedded
    assert out.filter(F.size("vector") != 8).count() == 0


def test_windowed_event_counts_with_watermark(spark, tmp_path):
    import datetime

    ind, outd, ckpt = str(tmp_path / "ev"), str(tmp_path / "agg"), str(tmp_path / "ck2")
    os.makedirs(ind)
    base = datetime.datetime(2023, 1, 1, 12, 0, 0)

    def ev(i, mins, typ, v):
        return (i, base + datetime.timedelta(minutes=mins), typ, v)

    spark.createDataFrame(
        [ev(1, 0, "click", 1.0), ev(2, 1, "click", 2.0), ev(3, 6, "view", 3.0), ev(4, 30, "click", 4.0)],
        "event_id bigint, ts timestamp, event_type string, value double",
    ).write.mode("append").parquet(ind)
    windowed_event_counts(spark, ind, outd, ckpt, window="5 minutes", watermark="10 minutes")
    got = {(r.window_start.isoformat(), r.event_type): (r.n, r.total) for r in spark.read.parquet(outd).collect()}
    # the 12:00 and 12:05 windows are closed by the 12:30 event's watermark
    assert got[("2023-01-01T12:00:00", "click")] == (2, 3.0)
    assert got[("2023-01-01T12:05:00", "view")] == (1, 3.0)


def test_stream_upsert_into_store(spark, tmp_path):
    """foreachBatch streaming upsert: later batches overwrite same-key rows
    (keep-latest), new keys append, reprocessing is checkpoint-guarded."""
    from chatdata_spark.stores.state import VersionedParquetStore
    from chatdata_spark.streaming.incremental import stream_upsert_into_store

    ind, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    os.makedirs(ind)
    store = VersionedParquetStore(spark, str(tmp_path / "store"))
    schema = "entity_id string, text string, version bigint"
    spark.createDataFrame([("a", "v1", 1), ("b", "v1", 1)], schema).write.mode("append").parquet(ind)
    stream_upsert_into_store(spark, ind, store, ["entity_id"], "version", ckpt, schema)
    assert {(r.entity_id, r.text) for r in store.read().collect()} == {("a", "v1"), ("b", "v1")}

    spark.createDataFrame([("a", "v2", 2), ("c", "v1", 1)], schema).write.mode("append").parquet(ind)
    stream_upsert_into_store(spark, ind, store, ["entity_id"], "version", ckpt, schema)
    got = {(r.entity_id, r.text) for r in store.read().collect()}
    assert got == {("a", "v2"), ("b", "v1"), ("c", "v1")}


def test_stream_distinct_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState first-arrival dedup: duplicates dropped within
    a batch AND across separate drains (state survives via checkpoint)."""
    from chatdata_spark.streaming.stateful import stream_distinct

    ind, outd, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(ind)
    schema = "entity_id string, text string"
    spark.createDataFrame(
        [("a", "first-a"), ("b", "first-b"), ("a", "dup-a")], schema
    ).write.mode("append").parquet(ind)
    stream_distinct(spark, ind, outd, ckpt, "entity_id", schema)
    got1 = {(r.entity_id, r.text) for r in spark.read.parquet(outd).collect()}
    assert {e for e, _ in got1} == {"a", "b"} and len(got1) == 2

    # second drain: 'b' already seen in checkpointed state → only 'c' emits
    spark.createDataFrame([("b", "dup-b"), ("c", "first-c")], schema).write.mode("append").parquet(ind)
    stream_distinct(spark, ind, outd, ckpt, "entity_id", schema)
    got2 = {r.entity_id for r in spark.read.parquet(outd).collect()}
    assert got2 == {"a", "b", "c"}
    assert spark.read.parquet(outd).count() == 3


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path, monkeypatch):
    """Watermarked stream-stream join (each purchase x the same user's
    clicks within the preceding 10 minutes) drained with availableNow must
    produce exactly the batch join's rows — and the streaming plan must
    carry watermarks on both sides (bounded state: the unbounded-stream
    survival property). ``value`` carries each event's id, so a drained
    row names its purchase and click."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.streaming import incremental as inc
    from tests.conftest import SF_ORACLE

    e = load_events(spark, SF_ORACLE).select(
        "user_id", "ts", F.col("event_id").cast("double").alias("value"), "event_type"
    )
    clicks_dir, purch_dir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks = e.filter(F.col("event_type") == "click").drop("event_type")
    purchases = e.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks.write.parquet(clicks_dir)
    purchases.write.parquet(purch_dir)

    streams = []
    drain = inc._available_now

    def capture(stream, checkpoint_dir, sink):
        streams.append(stream)
        drain(stream, checkpoint_dir, sink)

    monkeypatch.setattr(inc, "_available_now", capture)
    out = str(tmp_path / "out")
    inc.stream_stream_interval_join(
        spark, purch_dir, clicks_dir, out, str(tmp_path / "ckpt"), max_delay="10 minutes"
    )
    got = sorted(
        (r.user_id, r.l_value, r.r_value) for r in spark.read.parquet(out).collect()
    )

    p, c = purchases.alias("p"), clicks.alias("c")
    batch = p.join(
        c,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") <= F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 minutes")),
    )
    want = sorted(tuple(r) for r in batch.select("p.user_id", "p.value", "c.value").collect())
    assert got == want and len(want) > 0

    # bounded-state proof: watermarks on both sides of the drained stream
    (stream,) = streams
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Streaming gap sessionization emits exactly the sessions the batch
    operator computes, once each, as they close (next event beyond gap or
    event-time timeout); the still-open tail session stays unemitted."""
    from datetime import datetime

    from chatdata_spark.operators.timeseries import sessionize
    from chatdata_spark.streaming.stateful import stream_sessionize

    ind, outd, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(ind)
    schema = "user_id long, ts timestamp"

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60)

    # user 1: sessions [0,10], [60,65], and [200] — the last closes via
    # EventTimeTimeout once user 2's t(300) event pushes the watermark past
    # 200+gap; user 2's [300] tail stays open (nothing advances past it)
    batch1 = [(1, t(0)), (1, t(10)), (2, t(5))]
    batch2 = [(1, t(60)), (1, t(65))]
    batch3 = [(1, t(200)), (2, t(300))]  # sentinels close all prior sessions
    for rows in (batch1, batch2, batch3):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(ind)
    stream_sessionize(spark, ind, outd, ckpt, "user_id", "ts", schema, gap_minutes=30.0)

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(outd).collect()
    }
    events = spark.createDataFrame(batch1 + batch2 + batch3, schema)
    s = sessionize(events, "user_id", "ts", gap_minutes=30.0)
    closed = (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        # closed = gap fully elapsed before the final watermark (t(300)-1s)
        .filter(F.col("session_end") + F.expr("INTERVAL 30 MINUTES") < F.lit(t(300)))
        .collect()
    )
    want = {(r.user_id, r.session_start, r.session_end, r.n_events) for r in closed}
    assert got == want and len(got) == 4


def test_stream_near_dup_pairs_matches_batch(spark, tmp_path):
    """Streaming near-dup over two arrival waves == one-shot batch pairs,
    and a re-run with the same checkpoint (plus a replayed wave) adds
    nothing (store-keyed idempotence)."""
    from chatdata_spark.operators.dedup import minhash_lsh_pairs
    from chatdata_spark.operators.incdedup import IncrementalMinHashStore
    from chatdata_spark.streaming.incremental import stream_near_dup_pairs
    from tests.conftest import SF_ORACLE

    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select("doc_id", "text")
    ind = str(tmp_path / "in"); outd = str(tmp_path / "pairs"); ckpt = str(tmp_path / "ckpt")
    store = IncrementalMinHashStore(spark, str(tmp_path / "sigs"))
    schema = "doc_id bigint, text string"

    d.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(ind)
    stream_near_dup_pairs(spark, ind, store, outd, ckpt, schema)
    d.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(ind)
    stream_near_dup_pairs(spark, ind, store, outd, ckpt, schema)

    got = sorted((r.i, r.j, r.jaccard) for r in spark.read.parquet(outd).collect())
    want = sorted((r.i, r.j, r.jaccard) for r in minhash_lsh_pairs(d, "doc_id", "text").collect())
    assert got == want
    # replay wave 0 (same rows, new files) under the same checkpoint:
    # already-signed ids drop out in the foreachBatch body
    d.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(ind)
    stream_near_dup_pairs(spark, ind, store, outd, ckpt, schema)
    again = sorted((r.i, r.j, r.jaccard) for r in spark.read.parquet(outd).collect())
    assert again == want
    assert store.batches() == [0, 1]


def test_stream_distinct_ttl_bounds_state_and_reopens_horizon(spark, tmp_path):
    """Dedup-within-horizon: within the TTL a duplicate is swallowed;
    after the watermark passes first_arrival + TTL the seen-flag expires,
    so a later duplicate re-emits (the bounded-state contract — exact
    global dedup would otherwise hold one flag per key forever)."""
    from datetime import datetime

    from chatdata_spark.streaming.stateful import stream_distinct

    ind, outd, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(ind)
    schema = "k long, ts timestamp"

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60)

    # k=1 arrives at t0, duplicates at t10 (inside 30-min TTL) and t120
    # (after expiry); k=9 events only advance the watermark
    waves = [
        [(1, t(0)), (9, t(1))],
        [(1, t(10)), (9, t(50))],      # dup inside horizon + watermark push
        [(9, t(100))],                 # watermark passes t0+30 → flag expires
        [(1, t(120)), (9, t(130))],    # dup AFTER horizon → re-emits
    ]
    for rows in waves:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(ind)
        stream_distinct(spark, ind, outd, ckpt, "k", schema, ts_col="ts", ttl_minutes=30.0)

    got = sorted((r.k, r.ts) for r in spark.read.parquet(outd).collect() if r.k == 1)
    assert got == [(1, t(0)), (1, t(120))]


def test_stream_cms_merge_incremental_and_replay_safe(spark, tmp_path):
    """Two drains must yield the sketch of the UNION (merge law under real
    micro-batches), and a REPLAY of the first batch (same store, fresh
    checkpoint → foreachBatch re-delivers batch_id 0) must be skipped by
    the transactional batch-id guard — CMS merge is not idempotent, so
    without the guard the replay would double-count every first-wave
    cell."""
    from chatdata_spark.operators.cms import cms_build
    from chatdata_spark.stores.state import VersionedParquetStore
    from chatdata_spark.streaming.incremental import stream_cms_merge

    ind = str(tmp_path / "in")
    os.makedirs(ind)
    schema = "item bigint"
    a = spark.range(0, 50).select(F.col("id").alias("item"))
    b = spark.range(25, 60).select(F.col("id").alias("item"))
    store = VersionedParquetStore(spark, str(tmp_path / "store"))

    a.coalesce(1).write.mode("append").parquet(ind)
    stream_cms_merge(spark, ind, store, str(tmp_path / "ck"), "item", schema, depth=2, width=16)
    b.coalesce(1).write.mode("append").parquet(ind)
    stream_cms_merge(spark, ind, store, str(tmp_path / "ck"), "item", schema, depth=2, width=16)

    want = {
        (r["row_idx"], r["col"], r["cnt"])
        for r in cms_build(a.union(b), "item", depth=2, width=16).collect()
    }
    got = {
        (r["row_idx"], r["col"], r["cnt"])
        for r in store.read().drop("last_batch").collect()
    }
    assert got == want

    # replay: fresh checkpoint re-delivers ALL files as batch 0; the store
    # has already committed batch 1, so the guard must skip it entirely
    v_before = store.current_version()
    stream_cms_merge(spark, ind, store, str(tmp_path / "ck2"), "item", schema, depth=2, width=16)
    assert store.current_version() == v_before
    got2 = {
        (r["row_idx"], r["col"], r["cnt"])
        for r in store.read().drop("last_batch").collect()
    }
    assert got2 == want


def test_stream_histogram_merge_incremental_and_replay_safe(spark, tmp_path):
    """Two drains must yield the histogram of the UNION (merge law under
    real micro-batches), and a replay of committed batches (fresh
    checkpoint, same store) must be skipped by the batch-id guard —
    count merge is not idempotent."""
    from chatdata_spark.operators.drift import fixed_bin_edges, hist_counts
    from chatdata_spark.stores.state import VersionedParquetStore
    from chatdata_spark.streaming.incremental import stream_histogram_merge

    ind = str(tmp_path / "in")
    os.makedirs(ind)
    schema = "v double"
    edges = fixed_bin_edges(0.0, 100.0, 4)
    a = spark.range(0, 60).select(F.col("id").cast("double").alias("v"))
    b = spark.range(40, 100).select(F.col("id").cast("double").alias("v"))
    store = VersionedParquetStore(spark, str(tmp_path / "store"))

    a.coalesce(1).write.mode("append").parquet(ind)
    stream_histogram_merge(spark, ind, store, str(tmp_path / "ck"), "v", schema, edges)
    b.coalesce(1).write.mode("append").parquet(ind)
    stream_histogram_merge(spark, ind, store, str(tmp_path / "ck"), "v", schema, edges)

    want = {
        (r["bin"], r["n"])
        for r in hist_counts(a.union(b), "v", edges).collect()
    }
    got = {
        (r["bin"], r["n"]) for r in store.read().drop("last_batch").collect()
    }
    # union = 120 rows: 0-24 | 25-49 (25 + 10 overlap) | 50-74 (10 + 25) | 75-99
    assert got == want == {(0, 25), (1, 35), (2, 35), (3, 25)}

    v_before = store.current_version()
    stream_histogram_merge(spark, ind, store, str(tmp_path / "ck2"), "v", schema, edges)
    assert store.current_version() == v_before
    assert {
        (r["bin"], r["n"]) for r in store.read().drop("last_batch").collect()
    } == want


def test_stream_kmv_merge_incremental_and_replay_idempotent(spark, tmp_path):
    """Two drains must equal the batch bottom-k sketch of the UNION, the
    saturation flag must fire exactly when cumulative distinct exceeds k,
    and a full REPLAY (fresh checkpoint, same store) must be absorbed
    with the state VALUE unchanged — bottom-k-of-union + monotone OR is
    an idempotent lattice, so unlike CMS there is no batch-id guard to
    rely on."""
    from chatdata_spark.operators.sampling import hash_bucket
    from chatdata_spark.stores.state import VersionedParquetStore
    from chatdata_spark.streaming.incremental import stream_kmv_merge

    ind = str(tmp_path / "in")
    os.makedirs(ind)
    schema = "g string, e bigint"
    # group 'big': 90 distinct elems (> k=8 -> saturated);
    # group 'small': 5 distinct (exact mode, flag stays false)
    a = spark.sql("SELECT 'big' AS g, id AS e FROM range(0, 60) "
                  "UNION ALL SELECT 'small', id FROM range(0, 5)")
    b = spark.sql("SELECT 'big' AS g, id AS e FROM range(40, 90)")
    store = VersionedParquetStore(spark, str(tmp_path / "store"))

    a.coalesce(1).write.mode("append").parquet(ind)
    stream_kmv_merge(spark, ind, store, str(tmp_path / "ck"), "g", "e", schema, k=8, salt="t")
    b.coalesce(1).write.mode("append").parquet(ind)
    stream_kmv_merge(spark, ind, store, str(tmp_path / "ck"), "g", "e", schema, k=8, salt="t")

    u = a.union(b)
    hashed = u.select("g", hash_bucket(F.col("e"), "t").alias("h")).distinct()
    want = {}
    for r in hashed.collect():
        want.setdefault(r.g, []).append(r.h)
    want = {g: sorted(hs)[:8] for g, hs in want.items()}
    got = {}
    sat = {}
    for r in store.read().collect():
        got.setdefault(r.g, []).append(r.h)
        sat[r.g] = r.sat
    assert {g: sorted(v) for g, v in got.items()} == want
    assert sat == {"big": True, "small": False}

    # replay everything: state value must be unchanged (idempotent merge)
    stream_kmv_merge(spark, ind, store, str(tmp_path / "ck2"), "g", "e", schema, k=8, salt="t")
    got2 = {}
    sat2 = {}
    for r in store.read().collect():
        got2.setdefault(r.g, []).append(r.h)
        sat2[r.g] = r.sat
    assert {g: sorted(v) for g, v in got2.items()} == want and sat2 == sat


# -- one drain: replay per state class, guard placement, static guard ------------

_REPLAY_SCHEMA = "g string, item long, v long, ts timestamp, ver long"


def _replay_waves(spark):
    """Two event-time-ordered waves with overlapping keys: the second
    wave re-labels items 20-29 (SCD2 changes, upsert overwrites)."""
    import datetime

    t0 = datetime.datetime(2023, 6, 1)

    def rows(lo, hi, mod, dv, ver, t_off):
        return [
            ("x" if i % mod else "y", i, (i * dv) % 11, t0 + datetime.timedelta(minutes=t_off + i), ver)
            for i in range(lo, hi)
        ]

    return (
        spark.createDataFrame(rows(0, 30, 3, 7, 1, 0), _REPLAY_SCHEMA),
        spark.createDataFrame(rows(20, 50, 2, 5, 2, 100), _REPLAY_SCHEMA),
    )


def _replay_cases():
    """name -> (additive, drain(spark, input_dir, store, checkpoint_dir)):
    all nine state merges plus the upsert, each over _REPLAY_SCHEMA."""
    from chatdata_spark.operators.drift import fixed_bin_edges
    from chatdata_spark.streaming import incremental as inc

    s = _REPLAY_SCHEMA
    edges = fixed_bin_edges(0.0, 11.0, 4)
    return {
        "cms": (True, lambda sp, i, st, c: inc.stream_cms_merge(sp, i, st, c, "item", s, depth=2, width=16)),
        "histogram": (True, lambda sp, i, st, c: inc.stream_histogram_merge(sp, i, st, c, "v", s, edges)),
        "mg": (True, lambda sp, i, st, c: inc.stream_mg_merge(
            sp, i, st, c, lambda b: b.select(F.col("g").alias("item")), s, k=2)),
        "moments": (True, lambda sp, i, st, c: inc.stream_moments_merge(
            sp, i, st, c, ["g"], lambda b: F.col("v"), s)),
        "ols": (True, lambda sp, i, st, c: inc.stream_ols_merge(
            sp, i, st, c, ["g"], lambda b: (F.col("item"), F.col("v")), s)),
        "quantile_sample": (False, lambda sp, i, st, c: inc.stream_quantile_sample_merge(
            sp, i, st, c, ["g"], "v", "item", s, k=4)),
        "hll": (False, lambda sp, i, st, c: inc.stream_hll_merge(sp, i, st, c, ["g"], "item", s, p=4)),
        "kmv": (False, lambda sp, i, st, c: inc.stream_kmv_merge(sp, i, st, c, "g", "item", s, k=4)),
        "scd2": (False, lambda sp, i, st, c: inc.stream_scd2_merge(
            sp, i, st, c, ["item"], "ts", ["g"], ["ver"], s)),
        "upsert": (False, lambda sp, i, st, c: inc.stream_upsert_into_store(
            sp, i, st, ["item"], "ver", c, s)),
    }


def _state(store) -> list:
    return sorted(tuple(r) for r in store.read().collect())


@pytest.mark.parametrize("name", sorted(_replay_cases()))
def test_drain_merge_replay_per_state_class(spark, tmp_path, name):
    """Two waves drain, then a fresh checkpoint replays every file into
    the same store. Additive states (counts, moments) must write NO new
    version — the batch-id guard skips the committed batch; idempotent
    states (lattice joins, SCD2, keep-latest upsert) fold it again and must
    leave the state value unchanged. No drained store carries a
    ``last_batch`` column: the guard lives in the sidecar meta only."""
    from chatdata_spark.stores.state import VersionedParquetStore

    additive, run = _replay_cases()[name]
    ind = str(tmp_path / "in")
    os.makedirs(ind)
    store = VersionedParquetStore(spark, str(tmp_path / "store"))
    for wave in _replay_waves(spark):
        wave.coalesce(1).write.mode("append").parquet(ind)
        run(spark, ind, store, str(tmp_path / "ck"))
    assert "last_batch" not in store.read().columns
    assert store.read_meta().get("last_batch") == (1 if additive else None)
    v, before = store.current_version(), _state(store)

    run(spark, ind, store, str(tmp_path / "ck_replay"))
    if additive:
        assert store.current_version() == v
    else:
        assert store.current_version() > v
    assert "last_batch" not in store.read().columns
    assert _state(store) == before


def test_drain_merge_guard_runs_before_fold_and_empty_input_writes_nothing(spark, tmp_path):
    """An additive replay is skipped before ``fold`` is called (no batch
    summary is built for a batch that will not be applied), and an input
    with no rows writes no version under either state class."""
    from chatdata_spark.stores.state import VersionedParquetStore
    from chatdata_spark.streaming.runner import drain_merge

    calls = []

    def fold(prev, batch_df):
        calls.append(batch_df.count())
        counts = batch_df.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
        if prev is None:
            return counts
        return prev.unionByName(counts).groupBy("g").agg(F.sum("n").alias("n"))

    schema = "g string"
    for additive in (True, False):
        empty_in = str(tmp_path / f"empty_{additive}")
        spark.createDataFrame([], schema).coalesce(1).write.parquet(empty_in)
        store = VersionedParquetStore(spark, str(tmp_path / f"empty_store_{additive}"))
        drain_merge(spark, empty_in, schema, str(tmp_path / f"empty_ck_{additive}"),
                    store, fold, additive=additive)
        assert store.current_version() == 0 and calls == []

    ind = str(tmp_path / "in")
    spark.createDataFrame([("a",), ("a",), ("b",)], schema).coalesce(1).write.parquet(ind)
    store = VersionedParquetStore(spark, str(tmp_path / "store"))
    drain_merge(spark, ind, schema, str(tmp_path / "ck"), store, fold, additive=True)
    assert calls == [3] and store.current_version() == 1
    drain_merge(spark, ind, schema, str(tmp_path / "ck2"), store, fold, additive=True)
    assert calls == [3] and store.current_version() == 1
    assert sorted(tuple(r) for r in store.read().collect()) == [("a", 2), ("b", 1)]


_STREAM_SINK_OWNERS = {
    "writeStream": ("chatdata_spark/streaming/runner.py", "_available_now"),
    "availableNow": ("chatdata_spark/streaming/runner.py", "_available_now"),
    "foreachBatch": ("chatdata_spark/streaming/runner.py", "drain"),
}


def _stream_sink_uses(path) -> list[tuple[str, int, str]]:
    """(name, line, enclosing function) of every ``.writeStream`` /
    ``.foreachBatch`` attribute and ``availableNow=`` keyword."""
    import ast

    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if isinstance(child, ast.Attribute) and child.attr in ("writeStream", "foreachBatch"):
                out.append((child.attr, child.lineno, fn))
            if isinstance(child, ast.keyword) and child.arg == "availableNow":
                out.append(("availableNow", child.value.lineno, fn))
            walk(child, name)

    walk(ast.parse(path.read_text(), filename=str(path)), "<module>")
    return out


def test_library_starts_streams_only_through_the_runner():
    """Static guard: under chatdata_spark/, a stream is started in one
    place (``runner._available_now``) and a foreachBatch body is installed
    in one place (``runner.drain``). A hand-copied sink or merge drain
    fails here; route it through the runner, ``drain`` or
    ``drain_merge``."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "chatdata_spark"
    offenders, seen = [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg.parent).as_posix()
        for name, line, fn in _stream_sink_uses(path):
            if (rel, fn) == _STREAM_SINK_OWNERS[name]:
                seen.add(name)
            else:
                offenders.append(f"{rel}:{line} {name} in {fn}()")
    assert not offenders, "stream sink outside streaming/runner.py:\n" + "\n".join(offenders)
    assert seen == set(_STREAM_SINK_OWNERS)

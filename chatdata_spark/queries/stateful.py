"""Driver-visible (rows-only) queries for the state-store and streaming
surfaces. These write to fresh temp dirs per invocation — the driver's
check is rows+schema, and the outputs are fully deterministic (fixed
timestamps, deterministic embedder), so repeated runs agree."""

from __future__ import annotations

import datetime
import tempfile

from pyspark.sql import functions as F

from chatdata_spark.registry import query
from chatdata_spark.session import local_frame

_TS = datetime.datetime(2023, 6, 1)


def _t(i):
    return _TS + datetime.timedelta(minutes=i)


def _drain_two_waves(spark, prefix, rows, first_wave, drain):
    """The streaming-merge queries' shared scaffold: the ``first_wave``
    rows land as one file and drain, then the rest (``~first_wave``) land
    AFTER that drain finished and drain again under the same checkpoint
    into the same fresh versioned store, which is returned.
    ``drain(input_dir, store, checkpoint_dir)`` runs one drain."""
    import os

    from chatdata_spark.stores.state import VersionedParquetStore

    root = tempfile.mkdtemp(prefix=prefix)
    ind, ckpt = f"{root}/in", f"{root}/ck"
    os.makedirs(ind)
    store = VersionedParquetStore(spark, f"{root}/store")
    for wave in (first_wave, ~first_wave):
        rows.filter(wave).coalesce(1).write.mode("append").parquet(ind)
        drain(ind, store, ckpt)
    return store


def _median_split(df, col):
    """First-wave predicate: ``col`` at or below its approximate median."""
    mid = df.agg(F.expr(f"percentile_approx({col}, 0.5)")).collect()[0][0]
    return F.col(col) <= mid


@query(
    "store_session_lifecycle",
    oracle="""
    SELECT * FROM (VALUES
        ('u1?work', 'u1', 'be very terse', CAST(3 AS BIGINT)),
        ('u2?default', 'u2', 'hi', CAST(1 AS BIGINT))
    ) AS t(session_id, user_id, system_prompt, n_msgs)
    ORDER BY session_id
    """,
)
def store_session_lifecycle(spark, sf_dir):
    """M1-M5 through the versioned stores: create sessions, update a prompt,
    append chat messages, cascade-delete one session, vacuum both stores to
    their last two versions, then list each user's sessions (T2) — returns
    the final per-session message summary. The inputs are fixed literals,
    so the expected END STATE is statically known: exactly the two surviving
    sessions with the updated prompt and message counts (a VALUES oracle —
    the mutation chain, not a computation, is what's under test; any
    upsert/update/cascade-delete/read-ordering bug changes the rows)."""
    from chatdata_spark.stores.state import ChatMemoryStore, SessionStore

    root = tempfile.mkdtemp(prefix="chatdata_store_q_")
    sess = SessionStore(spark, f"{root}/sessions")
    mem = ChatMemoryStore(spark, f"{root}/memory")
    sess.add_session("u1", "u1?default", "be helpful", create_by=_t(0))
    sess.add_session("u1", "u1?work", "be terse", create_by=_t(1))
    sess.add_session("u2", "u2?default", "hi", create_by=_t(2))
    sess.update_system_prompt("u1?work", "be very terse")
    for i, (typ, msg) in enumerate([("human", "hello"), ("ai", "hi there"), ("human", "bye")]):
        mem.append_message("u1?work", typ, msg, ts=100.0 + i)
    mem.append_message("u2?default", "human", "other", ts=200.0)
    sess.delete_session("u1?default", memory=mem)
    for store in (sess.store, mem.store):
        store.vacuum(keep_last=2)

    sessions = (
        sess.list_sessions("u1")
        .unionByName(sess.list_sessions("u2"))
        .select("session_id", "user_id", "system_prompt")
    )
    msgs = mem.store.read().groupBy("session_id").agg(
        F.count(F.lit(1)).alias("n_msgs"), F.min("id").alias("first_id")
    )
    return (
        sessions.join(msgs, "session_id", "left")
        .select("session_id", "user_id", "system_prompt", F.coalesce("n_msgs", F.lit(0)).alias("n_msgs"))
        .orderBy("session_id")
    )


@query(
    "store_kb_tool_lifecycle",
    oracle="""
    SELECT * FROM (VALUES
        ('u1', 'combo',  CAST(3 AS BIGINT), CAST(27 AS BIGINT)),
        ('u1', 'only_a', CAST(2 AS BIGINT), CAST(18 AS BIGINT)),
        ('u2', 'mine',   CAST(0 AS BIGINT), CAST(0 AS BIGINT))
    ) AS t(user_id, tool_name, n_paragraphs, n_chars)
    ORDER BY user_id, tool_name
    """,
)
def store_kb_tool_lifecycle(spark, sf_dir):
    """J1 + P10 + M2/M3 composed through PrivateKBStore (the private-KB
    tool lifecycle, reference private_knowledge_base.py:21-44,140-166 and
    tools.py:13-50): upload paragraphs for two tenants (one shared file
    NAME across tenants — the tenancy trap), upsert a duplicate paragraph
    (entity_id PK — no double count), create three tools, delete one tool,
    delete one whole user, then read every tool's scoped paragraphs back
    through the J1 broadcast-semi-join path. End state is statically
    known, so a VALUES oracle pins it: a missing P10 tenancy filter leaks
    u2's same-named file into u1's 'combo' (3→4 rows); a broken upsert
    double-counts 'alpha one'; a broken cascade leaves 'mine' non-empty."""
    from chatdata_spark.stores.state import PrivateKBStore

    root = tempfile.mkdtemp(prefix="chatdata_kb_q_")
    kb = PrivateKBStore(spark, f"{root}/kb", f"{root}/tools")
    embed = lambda t: [float(len(t))]  # noqa: E731 — deterministic stub
    kb.add_paragraphs("u1", "a.txt", ["alpha one", "alpha two"], embed, created_by=_t(0))
    kb.add_paragraphs("u1", "b.txt", ["beta text"], embed, created_by=_t(1))
    kb.add_paragraphs("u2", "a.txt", ["gamma text"], embed, created_by=_t(2))
    kb.add_paragraphs("u1", "a.txt", ["alpha one"], embed, created_by=_t(3))  # upsert, no dup
    kb.create_tool("u1", "combo", ["a.txt", "b.txt"], "all files", created_by=_t(4))
    kb.create_tool("u1", "only_a", ["a.txt"], "just a", created_by=_t(5))
    kb.create_tool("u1", "stale", ["b.txt"], "to be deleted", created_by=_t(6))
    kb.create_tool("u2", "mine", ["a.txt"], "u2 tool", created_by=_t(7))
    kb.delete_tools("u1", ["stale"])
    kb.delete_user("u2")

    frames = []
    for user, tool in [("u1", "combo"), ("u1", "only_a"), ("u2", "mine")]:
        frames.append(
            kb.tool_paragraphs(user, tool)
            .agg(
                F.count(F.lit(1)).alias("n_paragraphs"),
                F.sum(F.length("text")).alias("__chars"),
            )
            .select(
                F.lit(user).alias("user_id"),
                F.lit(tool).alias("tool_name"),
                "n_paragraphs",
                F.coalesce("__chars", F.lit(0).cast("long")).alias("n_chars"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("user_id", "tool_name")


def _kb_scoped_knn_expected() -> str:
    """Lazy oracle for store_kb_scoped_knn: sequential driver-side replay
    of the scoped retrieval — the same doc subset (u1 tenant = even
    doc_id, tool files src0/src1), the same float32-storage →
    float64-arithmetic cosine fold in the same operand order as
    functions/vector.py::cosine_distance (acc + x·y left fold, query
    norm folded driver-side), Spark's round(_, 6) emulated via HALF_UP
    on the shortest-repr decimal — emitted as a VALUES literal."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import numpy as np

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.functions.vector import hash_embed
    from chatdata_spark.stores.state import _sha256

    rows = duckdb.sql(
        "SELECT doc_id, text, source FROM "
        f"read_parquet('{oracle_sf_dir()}/documents.parquet') "
        "WHERE doc_id < 400 AND doc_id % 2 = 0 AND text IS NOT NULL "
        "AND source IN ('src0', 'src1') ORDER BY doc_id"
    ).fetchall()
    q = hash_embed(_KB_KNN_QUERY_TEXT, 16)
    qn = math.sqrt(sum(float(x) * float(x) for x in q))
    q6 = Decimal("0.000001")
    scored = []
    for _doc_id, text, source in rows:
        v = [float(x) for x in np.array(hash_embed(text, 16), dtype=np.float32)]
        dot, na = 0.0, 0.0
        for x, y in zip(v, q):
            dot = dot + x * y
        for x in v:
            na = na + x * x
        dist = 1.0 - dot / (math.sqrt(na) * qn)
        d6 = float(Decimal(repr(dist)).quantize(q6, ROUND_HALF_UP))
        scored.append((d6, _sha256(source, text), source))
    scored.sort()
    values = [
        f"({d!r}, '{eid}', '{src}')" for d, eid, src in scored[:10]
    ]
    return (
        "SELECT entity_id, file_name, CAST(dist AS DOUBLE) AS dist FROM (VALUES "
        + ", ".join(values)
        + ") AS t(dist, entity_id, file_name) ORDER BY dist, entity_id"
    )


_KB_KNN_QUERY_TEXT = "chatdata private knowledge retrieval"


@query("store_kb_scoped_knn", oracle=_kb_scoped_knn_expected)
def store_kb_scoped_knn(spark, sf_dir):
    """The private-KB path's VECTOR leg (r7 verdict item 6): the
    reference's actual retrieval is kNN over tool-scoped paragraphs
    (private_knowledge_base.py:140-166 builds a vector query with
    ``file_name IN`` + tenancy) — J1 semi-join file scoping + P10
    tenancy composed with the V3 filtered-kNN template. Two tenants
    upload paragraphs under the SAME file names (the tenancy trap: a
    missing P10 filter leaks u2's paragraphs into u1's candidates and
    changes the top-10), a u1 tool scopes to 2 of 4 files, and the
    scoped rows rank by exact cosine distance to a deterministic query
    embedding. Distances ride float64 with the query norm folded
    driver-side, rounded 6 — the lazy oracle replays the fold
    bit-exactly. Scale shape: the tool file list is a 1-row broadcast
    semi-join; the kNN is a pushed-filter scan + TakeOrderedAndProject
    (no shuffle beyond the top-k heap)."""
    from chatdata_spark.functions.vector import cosine_distance, hash_embed
    from chatdata_spark.stores.state import PrivateKBStore

    root = tempfile.mkdtemp(prefix="chatdata_kbknn_q_")
    kb = PrivateKBStore(spark, f"{root}/kb", f"{root}/tools")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(
            (F.col("doc_id") < 400)
            & F.col("text").isNotNull()
            & F.col("source").isin("src0", "src1", "src2", "src3")
        )
        .select("doc_id", "text", "source")
        .collect()
    )
    embed = lambda t: hash_embed(t, 16)  # noqa: E731 — deterministic stub
    by_upload: dict[tuple[str, str], list[str]] = {}
    for r in sorted(docs, key=lambda r: r.doc_id):
        tenant = "u1" if r.doc_id % 2 == 0 else "u2"
        by_upload.setdefault((tenant, r.source), []).append(r.text)
    for i, ((tenant, fname), texts) in enumerate(sorted(by_upload.items())):
        kb.add_paragraphs(tenant, fname, texts, embed, created_by=_t(i))
    kb.create_tool("u1", "research", ["src0", "src1"], "scoped corpus", created_by=_t(90))
    kb.create_tool("u2", "research", ["src0", "src1"], "tenancy trap", created_by=_t(91))

    qvec = hash_embed(_KB_KNN_QUERY_TEXT, 16)
    scoped = kb.tool_paragraphs("u1", "research")
    return (
        scoped.select(
            "entity_id",
            "file_name",
            F.round(cosine_distance("vector", qvec), 6).alias("dist"),
        )
        .orderBy("dist", "entity_id")
        .limit(10)
        .select("entity_id", "file_name", "dist")
    )


def _stream_embed_expected() -> str:
    """Lazy oracle for streaming_incremental_embed (the
    embed_documents_batch pattern, queries/vector.py): the hash embedder
    is deterministic, so a sequential driver-side recomputation over the
    driver's sf0.01 documents (doc_id < 60 — the streamed subset) yields
    an exact expected table. Comparing it against the drained stream
    output verifies the checkpointed exactly-once file accounting AND the
    worker embed plumbing: a dropped file, a double-processed file, or a
    batch-boundary difference all change the row set. Rounding emulates
    Spark's round(double, 6) exactly: HALF_UP on the shortest-repr
    decimal string (Java BigDecimal.valueOf ≡ Python repr, both shortest
    round-trip)."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import numpy as np

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.functions.vector import hash_embed

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{oracle_sf_dir()}/documents.parquet') "
        "WHERE doc_id < 60 AND text IS NOT NULL ORDER BY doc_id"
    ).fetchall()
    q6 = Decimal("0.000001")
    values = []
    for doc_id, text in rows:
        v32 = np.array(hash_embed(text, 16), dtype=np.float32)
        acc = 0.0
        for x in v32.astype(np.float64):
            acc = acc + float(x)
        vs = float(Decimal(repr(acc)).quantize(q6, ROUND_HALF_UP))
        values.append(f"(CAST({doc_id} AS BIGINT), CAST({vs!r} AS DOUBLE))")
    return (
        "SELECT * FROM (VALUES " + ", ".join(values) + ") AS t(doc_id, vec_sum) ORDER BY doc_id"
    )


@query("streaming_incremental_embed", oracle=_stream_embed_expected)
def streaming_incremental_embed(spark, sf_dir):
    """§2.10 extension surface, driver-visible and ORACLE-checked: two
    availableNow drains over a file stream (second sees only the new
    file), deterministic embedder — returns one row per embedded doc with
    a float64 vector checksum. The oracle is a sequential driver-side
    recomputation of the same subset (lazy VALUES literal, sf0.01 — the
    compare scale), so exactly-once file processing and the Arrow embed
    path are both hash-verified."""
    import os

    from chatdata_spark.streaming.incremental import incremental_embed

    root = tempfile.mkdtemp(prefix="chatdata_stream_q_")
    ind, outd, ckpt = f"{root}/in", f"{root}/out", f"{root}/ck"
    os.makedirs(ind)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs.filter(F.col("doc_id") < 40).write.mode("append").parquet(ind)
    incremental_embed(spark, ind, outd, ckpt, dim=16)
    docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)).write.mode("append").parquet(ind)
    incremental_embed(spark, ind, outd, ckpt, dim=16)
    out = spark.read.parquet(outd)
    return (
        out.select("doc_id", F.round(F.aggregate(F.col("vector").cast("array<double>"), F.lit(0.0), lambda a, x: a + x), 6).alias("vec_sum"))
        .orderBy("doc_id")
    )


@query(
    "streaming_distinct_events",
    oracle="""
    SELECT event_id, user_id, value FROM events
    WHERE user_id < 30 ORDER BY event_id
    """,
)
def streaming_distinct_events(spark, sf_dir):
    """§2.10 custom stateful operator, ORACLE-checked: cross-batch stream
    deduplication (applyInPandasWithState seen-flag state,
    streaming/stateful.py:stream_distinct). The same event file is
    streamed TWICE (second wave is a byte-identical replay file); keyed on
    the unique event_id, first-arrival-wins is deterministic and the
    drained output must equal the plain distinct row set — the second
    wave is swallowed entirely by checkpointed state, which is what the
    oracle's exact row-set equality proves."""
    import os

    from chatdata_spark.catalog import load_events
    from chatdata_spark.streaming.stateful import stream_distinct

    root = tempfile.mkdtemp(prefix="chatdata_sdist_q_")
    ind, outd, ckpt = f"{root}/in", f"{root}/out", f"{root}/ck"
    os.makedirs(ind)
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") < 30)
        .select("event_id", "user_id", "value")
    )
    schema = "event_id long, user_id long, value double"
    ev.coalesce(1).write.mode("append").parquet(ind)
    stream_distinct(spark, ind, outd, ckpt, "event_id", schema)
    ev.coalesce(1).write.mode("append").parquet(ind)  # replay wave
    stream_distinct(spark, ind, outd, ckpt, "event_id", schema)
    return spark.read.parquet(outd).orderBy("event_id")


@query(
    "rollup_incremental_refresh",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type
    """,
)
def rollup_incremental_refresh(spark, sf_dir):
    """Hypertable-style continuous aggregate: two incremental refreshes
    (split at the event-id watermark) must materialize exactly the full
    recompute — which is what the oracle checks."""
    import tempfile

    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.rollup import IncrementalRollup
    from chatdata_spark.stores.state import VersionedParquetStore

    e = load_events(spark, sf_dir)
    store = VersionedParquetStore(spark, tempfile.mkdtemp(prefix="chatdata_rollup_q_"))
    r = IncrementalRollup(
        store,
        bucket_expr=F.date_trunc("day", F.col("ts")),
        group_cols=["event_type"],
        value_col="value",
        watermark_col="event_id",
    )
    half = e.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    r.refresh(e.filter(F.col("event_id") <= half))
    r.refresh(e)
    return r.read().select("bucket", "event_type", "n", "total", "vmin", "vmax").orderBy("bucket", "event_type")


@query(
    "streaming_sessionize",
    oracle="""
    WITH src AS (SELECT user_id, ts, event_id FROM events WHERE user_id < 20),
    marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS is_new
        FROM src
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        -- ORDER BY must carry the SAME (ts, event_id) tie-break as the
        -- marked window: with duplicate (user_id, ts) rows a ts-only ROWS
        -- frame is nondeterministic and can split a tied pair across
        -- session ids, diverging from the engine
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def streaming_sessionize(spark, sf_dir):
    """§2.10 extension surface, driver-visible and ORACLE-checked: gap
    sessionization over a file stream of real events
    (applyInPandasWithState, EventTimeTimeout) — emits each closed session
    exactly once. A far-future sentinel event (user_id=-1, max ts + 2 h)
    rides the LAST file so the final event-time watermark passes every
    real session's end+gap and the tail sessions close via timeout — the
    emitted set then equals the full batch sessionization, which is
    exactly what the oracle computes (the sessionize_events SQL filtered
    to user_id < 20; the sentinel's own open session is filtered out).
    The in-flight/closed distinction itself is pinned in
    tests/test_ingest_streaming.py."""
    import os

    from chatdata_spark.catalog import load_events
    from chatdata_spark.streaming.stateful import stream_sessionize

    root = tempfile.mkdtemp(prefix="chatdata_sess_q_")
    ind, outd, ckpt = f"{root}/in", f"{root}/out", f"{root}/ck"
    os.makedirs(ind)
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") < 20)
        .select("user_id", "ts")
    )
    # two chronological drops so sessions span micro-batches
    bounds = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m"), F.max("ts").alias("mx")
    ).first()
    mid, mx = bounds["m"], bounds["mx"]
    ev.filter(F.col("ts") <= mid).coalesce(1).write.mode("append").parquet(ind)
    ev.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(ind)
    # watermark-advancing sentinel: closes every real session via timeout
    local_frame(
        spark, [(-1, mx + datetime.timedelta(hours=2))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(ind)
    stream_sessionize(
        spark, ind, outd, ckpt, "user_id", "ts", "user_id long, ts timestamp",
        gap_minutes=30.0,
    )
    return (
        spark.read.parquet(outd)
        .filter(F.col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    )


@query(
    "rollup_distinct_approx",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, event_type,
           COUNT(*) AS n, TRUE AS approx_within_5pct
    FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type
    """,
)
def rollup_distinct_approx(spark, sf_dir):
    """Incremental rollup with a mergeable approx-distinct dimension:
    per-day distinct users via HyperLogLog sketches that merge across
    refreshes (COUNT(DISTINCT) is not decomposable — the sketch is what
    makes a distinct count incrementally maintainable). Two refreshes here
    estimate EXACTLY what a one-shot build would (tests/test_rollup.py).
    Sketch estimates have no cross-engine twin, so the oracle checks the
    SOUNDNESS invariant (the ann_pq_adc pattern): exact bucket keys and
    row counts, plus every merged-sketch estimate within ±5% of the exact
    per-bucket distinct (hll_sketch_agg lgConfigK=12 → rsd ~1.6%; measured
    max error 1.9% at sf0.1, 0 at the compare scales)."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.rollup import IncrementalRollup
    from chatdata_spark.stores.state import VersionedParquetStore

    e = load_events(spark, sf_dir)
    store = VersionedParquetStore(spark, tempfile.mkdtemp(prefix="chatdata_rollup_dv_"))
    r = IncrementalRollup(
        store,
        bucket_expr=F.date_trunc("day", F.col("ts")),
        group_cols=["event_type"],
        value_col="value",
        watermark_col="event_id",
        distinct_col="user_id",
    )
    half = e.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    r.refresh(e.filter(F.col("event_id") <= half))
    r.refresh(e)
    exact = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.count_distinct("user_id").alias("__exact"))
    return (
        r.read()
        .select("bucket", "event_type", "n", "approx_distinct")
        .join(exact, ["bucket", "event_type"])
        .select(
            "bucket",
            "event_type",
            "n",
            (
                F.abs(F.col("approx_distinct") - F.col("__exact")) / F.col("__exact")
                <= 0.05
            ).alias("approx_within_5pct"),
        )
        .orderBy("bucket", "event_type")
    )


@query(
    "streaming_windowed_counts",
    oracle="""
    WITH src AS (
        SELECT ts, event_type, value FROM events WHERE user_id < 50
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM src)
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total
    FROM src
    GROUP BY window_start, event_type
    HAVING window_start + INTERVAL 5 MINUTE <= (SELECT w FROM wm)
    ORDER BY window_start, event_type
    """,
)
def streaming_windowed_counts(spark, sf_dir):
    """§2.10 watermark semantics, ORACLE-checked: availableNow over real
    events emits exactly the tumbling 5-min windows whose end the final
    event-time watermark (max ts - 10 min) has passed — i.e. the closed
    windows the equivalent batch GROUP BY would produce under the same
    cutoff (epoch-aligned buckets agree between Spark window() and DuckDB
    time_bucket). Append-mode emission = closed-exactly-once."""
    import os

    from chatdata_spark.catalog import load_events
    from chatdata_spark.streaming.incremental import windowed_event_counts

    root = tempfile.mkdtemp(prefix="chatdata_winq_")
    ind, outd, ckpt = f"{root}/in", f"{root}/out", f"{root}/ck"
    os.makedirs(ind)
    (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") < 50)
        .select("event_id", "ts", "event_type", "value")
        .coalesce(1)
        .write.mode("append")
        .parquet(ind)
    )
    windowed_event_counts(spark, ind, outd, ckpt, window="5 minutes", watermark="10 minutes")
    return spark.read.parquet(outd).orderBy("window_start", "event_type")


@query(
    "streaming_join_click_purchase",
    oracle="""
    WITH p AS (
        SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase' AND user_id < 50
    ),
    c AS (
        SELECT user_id, ts, value FROM events
        WHERE event_type = 'click' AND user_id < 50
    )
    SELECT p.user_id AS user_id, p.ts AS l_ts, p.value AS l_value,
           c.ts AS r_ts, c.value AS r_value
    FROM p JOIN c ON p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
    ORDER BY p.user_id, l_ts, r_ts
    """,
)
def streaming_join_click_purchase(spark, sf_dir):
    """§2.10 stream-stream interval join, ORACLE-checked: watermarked
    purchase-stream x click-stream attribution (clicks within 30 min
    before the purchase). Inner-join append emission is exhaustive when
    each side drains as one file-source batch, so the streaming result
    equals the batch interval join the oracle computes; the watermark +
    time-range predicate are what bound the join state at production
    cadence (streaming/incremental.py::stream_stream_interval_join)."""
    import os

    from chatdata_spark.catalog import load_events
    from chatdata_spark.streaming.incremental import stream_stream_interval_join

    root = tempfile.mkdtemp(prefix="chatdata_ssj_")
    ld, rd, outd, ckpt = f"{root}/l", f"{root}/r", f"{root}/out", f"{root}/ck"
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 50)
    ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value").coalesce(
        1
    ).write.parquet(ld)
    ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value").coalesce(
        1
    ).write.parquet(rd)
    stream_stream_interval_join(spark, ld, rd, outd, ckpt, max_delay="30 minutes")
    return spark.read.parquet(outd).orderBy("user_id", "l_ts", "r_ts")


@query(
    "streaming_static_dim_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase'
    ORDER BY e.event_id
    """,
)
def streaming_static_dim_join(spark, sf_dir):
    """§2.10 stream-static join, ORACLE-checked: a purchase file-stream
    (two micro-batch waves) enriched against the static customer
    dimension (broadcast per batch, stateless — the third streaming join
    shape next to the interval join and the windowed aggs;
    streaming/joins.py::stream_static_enrich). The drained append output
    must equal the plain batch inner join the oracle computes."""
    import os

    from chatdata_spark.catalog import load_events

    root = tempfile.mkdtemp(prefix="chatdata_ssd_")
    ind, outd, ckpt = f"{root}/in", f"{root}/out", f"{root}/ck"
    os.makedirs(ind)
    from chatdata_spark.streaming.joins import stream_static_enrich

    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(ind)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(ind)
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet")
    stream_static_enrich(
        spark, ind, outd, ckpt, "event_id long, user_id long, value double",
        dim, "user_id", "c_custkey", ["c_mktsegment"],
    )
    return (
        spark.read.parquet(outd)
        .select("event_id", "user_id", "c_mktsegment", "value")
        .orderBy("event_id")
    )


@query(
    "streaming_cms_user_frequency",
    oracle="""
    WITH ev AS (SELECT user_id FROM events WHERE user_id < 30),
    rows(row_idx) AS (VALUES (0), (1), (2), (3)),
    sketch AS (
        SELECT r.row_idx,
               CAST(('0x' || substr(md5('cms' || r.row_idx || '#'
                    || CAST(e.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1024 AS col,
               COUNT(*) AS cnt
        FROM ev e CROSS JOIN rows r
        GROUP BY 1, 2
    ),
    top10 AS (
        SELECT user_id, COUNT(*) AS true_cnt
        FROM ev GROUP BY user_id
        ORDER BY true_cnt DESC, user_id LIMIT 10
    ),
    probes AS (
        SELECT t.user_id, t.true_cnt, r.row_idx,
               CAST(('0x' || substr(md5('cms' || r.row_idx || '#'
                    || CAST(t.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1024 AS col
        FROM top10 t CROSS JOIN rows r
    )
    SELECT p.user_id,
           MIN(p.true_cnt) AS true_cnt,
           MIN(COALESCE(s.cnt, 0)) AS est_cnt
    FROM probes p LEFT JOIN sketch s
      ON s.row_idx = p.row_idx AND s.col = p.col
    GROUP BY p.user_id
    ORDER BY true_cnt DESC, user_id
    """,
)
def streaming_cms_user_frequency(spark, sf_dir):
    """§2.10 extension, ORACLE-checked: the count-min sketch maintained
    INCREMENTALLY over a file stream — two availableNow drains (the second
    wave's files arrive after the first drain finished), each micro-batch
    merging its own bounded sketch cell-wise into the versioned store.
    Because count addition is associative and commutative, the merged
    sketch must equal the one-shot batch sketch over the full event
    subset, so the oracle replays the BATCH build + estimates in SQL —
    exact equality proves both the merge law under real micro-batch
    splits and the checkpoint's exactly-once file accounting (a dropped
    or double-counted file shifts every affected cell)."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.cms import cms_estimate
    from chatdata_spark.streaming.incremental import stream_cms_merge

    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") < 30)
        .select("event_id", "user_id")
    )
    schema = "event_id long, user_id long"
    store = _drain_two_waves(
        spark, "chatdata_scms_q_", ev, _median_split(ev, "event_id"),
        lambda ind, st, ck: stream_cms_merge(spark, ind, st, ck, "user_id", schema),
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(10)
    )
    est = cms_estimate(store.read(), top, "user_id", depth=4, width=1024)
    return (
        top.join(est, "user_id")
        .select("user_id", "true_cnt", "est_cnt")
        .orderBy(F.desc("true_cnt"), "user_id")
    )


def _shared_psi_oracle() -> str:
    """The BATCH PSI oracle, verbatim: histogram addition is associative
    and commutative, so the stream-merged current histogram must equal the
    one-shot batch histogram over the same rows — batch parity is the
    whole claim (see streaming/incremental.py::stream_histogram_merge).
    Imported at resolution time (lazy), not at module import."""
    from chatdata_spark.queries.quality import _psi_oracle

    return _psi_oracle()


@query("streaming_drift_psi", oracle=_shared_psi_oracle)
def streaming_drift_psi(spark, sf_dir):
    """§2.10 extension, ORACLE-checked (batch-parity): PSI drift where the
    CURRENT snapshot arrives as a file stream — reference histogram
    computed once over the first half-month, frozen Python-literal edges,
    two availableNow drains merging ≤|bins|-row count states into the
    versioned store with the exactly-once batch-id guard, then the same
    psi_from_counts arithmetic as the batch query. The oracle is the
    batch PSI oracle verbatim, so exact equality proves the merge law
    under real micro-batch splits AND the replay accounting."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.drift import (
        fixed_bin_edges,
        hist_counts,
        psi_from_counts,
    )
    from chatdata_spark.queries.quality import _PSI_BINS, _PSI_SPLIT
    from chatdata_spark.streaming.incremental import stream_histogram_merge

    e = load_events(spark, sf_dir)
    split = F.lit(_PSI_SPLIT).cast("timestamp")
    ref = e.filter(F.col("ts") < split)
    cur = e.filter(F.col("ts") >= split).select("event_id", "value")
    row = ref.filter(F.col("value").isNotNull()).agg(
        F.min(F.col("value").cast("double")).alias("lo"),
        F.max(F.col("value").cast("double")).alias("hi"),
    ).collect()[0]
    edges = fixed_bin_edges(row.lo, row.hi, _PSI_BINS)

    schema = "event_id long, value double"
    store = _drain_two_waves(
        spark, "chatdata_sdrift_q_", cur, _median_split(cur, "event_id"),
        lambda ind, st, ck: stream_histogram_merge(spark, ind, st, ck, "value", schema, edges),
    )

    rc = hist_counts(ref, "value", edges, out="n_ref")
    cc = store.read().select("bin", F.col("n").alias("n_cur"))
    return psi_from_counts(rc, cc, len(edges))



def _shared_qsk_oracle() -> str:
    """The BATCH quantile-sketch oracle, verbatim: the bottom-k-by-hash
    sample is an idempotent/commutative/associative lattice join, so the
    stream-merged sample must equal the one-shot batch sample over the
    same rows — batch parity is the streaming guarantee under test."""
    from chatdata_spark.queries.analytics import QSK_ORACLE

    return QSK_ORACLE


@query("streaming_quantile_sketch", oracle=_shared_qsk_oracle)
def streaming_quantile_sketch(spark, sf_dir):
    """§2.10 extension, ORACLE-checked: the deterministic quantile sample
    maintained INCREMENTALLY over a file stream — two availableNow drains
    (the second wave's files arrive after the first drain finished), each
    micro-batch merging its bottom-256 sample into the versioned store
    (streaming/incremental.py::stream_quantile_sample_merge). The merge is
    an idempotent lattice join, so the final store provably equals the
    one-shot batch sample and the BATCH oracle replays the estimates
    exactly — proving the merge law under real micro-batch splits AND the
    checkpoint's exactly-once file accounting (a dropped file shifts the
    sample; a replayed one is absorbed)."""
    from chatdata_spark.operators.quantsketch import sketch_quantiles
    from chatdata_spark.streaming.incremental import stream_quantile_sample_merge

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    schema = "o_orderpriority string, o_orderkey long, o_totalprice double"
    store = _drain_two_waves(
        spark, "chatdata_sqsk_q_", o, _median_split(o, "o_orderkey"),
        lambda ind, st, ck: stream_quantile_sample_merge(
            spark, ind, st, ck, ["o_orderpriority"], "o_totalprice", "o_orderkey", schema
        ),
    )
    return sketch_quantiles(
        store.read(), ["o_orderpriority"], [0.25, 0.5, 0.75, 0.95]
    ).orderBy("o_orderpriority")


def _shared_hh_tokens_oracle() -> str:
    """The BATCH heavy-hitter-tokens oracle, verbatim: the stream-merged
    MG summary is a superset of every token above the N/(k+1) bound
    (mergeable-summaries guarantee), and the final pass recounts
    candidates exactly — so the streamed answer must equal the one-shot
    exact GROUP BY."""
    from chatdata_spark.queries.text import _D_NORM

    return f"""
    WITH toks AS (
        SELECT unnest(string_split({_D_NORM}, ' ')) AS item FROM documents
    )
    SELECT item, COUNT(*) AS n FROM toks WHERE item <> ''
    GROUP BY item HAVING COUNT(*) >= 300
    ORDER BY n DESC, item
    """


@query("streaming_heavy_hitter_tokens", oracle=_shared_hh_tokens_oracle)
def streaming_heavy_hitter_tokens(spark, sf_dir):
    """§2.10 extension, ORACLE-checked: the Misra-Gries top-k summary
    maintained INCREMENTALLY over a document file stream — two
    availableNow drains, each micro-batch's exact token counts merged
    into the ≤256-row stored summary with (k+1)-th-largest compression
    (streaming/incremental.py::stream_mg_merge; merged undercount ≤
    N/(k+1) ≈ 117 here, comfortably under the 300 threshold), then the
    exact candidate recount. Equality with the batch oracle proves the
    merge bound under real micro-batch splits AND the checkpoint's
    exactly-once accounting (a dropped file deflates a count below 300;
    a double-counted one inflates a tail token above it)."""
    from chatdata_spark.operators.heavyhitters import token_stream
    from chatdata_spark.streaming.incremental import stream_mg_merge

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    schema = "doc_id long, text string"
    store = _drain_two_waves(
        spark, "chatdata_smg_q_", d, _median_split(d, "doc_id"),
        lambda ind, st, ck: stream_mg_merge(
            spark, ind, st, ck, lambda b: token_stream(b, "text"), schema
        ),
    )
    cands = store.read().select("item")
    toks = token_stream(d, "text")
    return (
        toks.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 300)
        .orderBy(F.desc("n"), "item")
    )


def _shared_hh_weighted_oracle() -> str:
    """The BATCH weighted heavy-hitter oracle, verbatim (exact GROUP BY
    HAVING over decimal revenue): the stream-merged weighted MG summary
    is a superset of every part above the W/(k+1) mass bound, and the
    final pass recounts candidates exactly."""
    from chatdata_spark.registry import _REGISTRY, _load_all

    _load_all()
    return _REGISTRY["heavy_hitter_parts_weighted"].oracle


@query("streaming_heavy_hitter_revenue", oracle=_shared_hh_weighted_oracle)
def streaming_heavy_hitter_revenue(spark, sf_dir):
    """§2.10 extension, ORACLE-checked: the WEIGHTED Misra-Gries summary
    (ClickHouse topKWeighted posture) maintained incrementally over a
    lineitem file stream — two availableNow drains, each micro-batch's
    exact DECIMAL revenue masses merged into the ≤4096-row summary with
    (k+1)-th-largest-mass compression
    (streaming/incremental.py::stream_mg_merge weighted=True; merged
    undercount ≤ W_total/(k+1) ≈ 0.74M, threshold 2M clears it ~3x), then
    the exact decimal candidate recount. Batch-parity with the exact
    GROUP BY proves the weighted merge bound under real micro-batch
    splits AND exactly-once file accounting."""
    from chatdata_spark.streaming.incremental import stream_mg_merge

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    schema = "l_orderkey long, l_partkey long, l_extendedprice double, l_discount double"

    def rev_items(b):
        w = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        return (
            b.select(F.col("l_partkey").cast("string").alias("item"), w.alias("__w"))
            .filter(F.col("__w").isNotNull() & (F.col("__w") >= 0))
        )

    store = _drain_two_waves(
        spark, "chatdata_swmg_q_", li, _median_split(li, "l_orderkey"),
        lambda ind, st, ck: stream_mg_merge(
            spark, ind, st, ck, rev_items, schema, k=4096, weighted=True
        ),
    )
    cands = store.read().select("item")
    rev = rev_items(li)
    return (
        rev.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(
            F.sum(F.col("__w").cast("decimal(27,6)")).alias("__dw")
        )
        .filter(F.col("__dw") >= F.lit(2_000_000.0).cast("decimal(27,6)"))
        .select("item", F.col("__dw").cast("double").alias("total_weight"))
        .orderBy("item")
    )


def _shared_zscore_oracle() -> str:
    """The BATCH z-score oracle, verbatim: integer moment addition is
    associative and commutative, so the stream-merged (n, S1, S2) state
    must equal the one-shot batch state over the same rows — batch parity
    is the streaming claim (streaming/incremental.py::stream_moments_merge)."""
    from chatdata_spark.queries.quality import _ZSCORE_ORACLE

    return _ZSCORE_ORACLE


@query("streaming_zscore_anomaly", oracle=_shared_zscore_oracle)
def streaming_zscore_anomaly(spark, sf_dir):
    """§2.10 extension, ORACLE-checked (batch parity): the per-type
    3-sigma monitor whose (n, S1, S2) exact integer moment state is
    maintained INCREMENTALLY over an event file stream — two availableNow
    drains (the second wave's files arrive after the first drain
    finished), each micro-batch adding its own moments component-wise
    into the versioned store under the batch_id replay guard (additive
    state, the CMS convention). The final report derives mean/std from
    the STREAMED state by the fixed float64 sequence and recounts
    outliers with the all-integer predicate, so exact equality with the
    batch oracle proves the merge law under real micro-batch splits AND
    the checkpoint's exactly-once file accounting."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.moments import zscore_report
    from chatdata_spark.queries.quality import _zscore_v100
    from chatdata_spark.streaming.incremental import stream_moments_merge

    e = load_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    ev = e.select("event_id", "event_type", "value")
    schema = "event_id long, event_type string, value double"
    store = _drain_two_waves(
        spark, "chatdata_szs_q_", ev, _median_split(ev, "event_id"),
        lambda ind, st, ck: stream_moments_merge(
            spark, ind, st, ck, ["event_type"], _zscore_v100, schema
        ),
    )
    return zscore_report(
        e,
        ["event_type"],
        _zscore_v100(e),
        scale=100,
        z=3,
        moments=store.read(),
    ).orderBy("event_type")


@query(
    "store_cdc_changes",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(0 AS INTEGER), 'AFRICA (REVISED)', 'update'),
        (CAST(3 AS INTEGER), (SELECT r_name FROM region WHERE r_regionkey = 3), 'delete'),
        (CAST(5 AS INTEGER), 'ATLANTIS', 'insert')
    ) AS t(r_regionkey, r_name, _op)
    ORDER BY r_regionkey
    """,
)
def store_cdc_changes(spark, sf_dir):
    """Time travel + change data feed as a driver-visible query (Delta
    CDF / `VERSION AS OF` role, previously pytest-only): seed a
    versioned store from the region dim (v1), mutate through the store
    API — M4 update_where (v2), M5 append (v3), M2 delete_where (v4) —
    then diff the retained endpoints with changes(1, 4): one row per
    changed key with _op insert/update/delete, inserts/updates carrying
    the AFTER image and deletes the BEFORE image. The end state is
    statically known except the deleted row's name, which the oracle
    reads from the table itself (a broken time-travel read or a
    fingerprint false-positive adds/drops rows; a lost BEFORE image
    NULLs the delete's name). Plan shape: ONE full-outer shuffle on the
    key comparing xxhash64 row fingerprints — O(1) per key regardless
    of column count."""
    from chatdata_spark.stores.state import VersionedParquetStore

    root = tempfile.mkdtemp(prefix="chatdata_cdc_q_")
    store = VersionedParquetStore(spark, f"{root}/store")
    r = spark.read.parquet(f"{sf_dir}/region.parquet").select("r_regionkey", "r_name")
    store.write(r)  # v1
    store.update_where(
        F.col("r_regionkey") == 0, {"r_name": F.lit("AFRICA (REVISED)")}
    )  # v2
    store.append(
        local_frame(spark, [(5, "ATLANTIS")], "r_regionkey int, r_name string")
    )  # v3
    store.delete_where(F.col("r_regionkey") == 3)  # v4
    return (
        store.changes(1, 4, ["r_regionkey"])
        .select("r_regionkey", "r_name", "_op")
        .orderBy("r_regionkey")
    )


def _shared_trend_oracle() -> str:
    """The BATCH OLS-trend oracle, verbatim: integer moment addition is
    associative and commutative, so the stream-merged 5-number state must
    equal the one-shot batch state — batch parity is the streaming claim
    (streaming/incremental.py::stream_ols_merge)."""
    from chatdata_spark.registry import _REGISTRY

    return _REGISTRY["trend_ols_event_values"].oracle


@query("streaming_trend_ols", oracle=_shared_trend_oracle)
def streaming_trend_ols(spark, sf_dir):
    """§2.10 extension, ORACLE-checked (batch parity): the per-type OLS
    trend whose (n, Sx, Sy, Sxy, Sxx) exact moment state is maintained
    INCREMENTALLY over an event file stream — two availableNow drains,
    each micro-batch adding its 5-number state component-wise into the
    versioned store under the batch_id replay guard. The final
    slope/intercept derive from the STREAMED state by the identical
    closed-form arithmetic, so exact equality with the batch oracle
    proves the merge law under real micro-batch splits AND the
    checkpoint's exactly-once file accounting. The trending-metric
    monitor this enables never rescans history: day N's answer costs one
    micro-batch aggregate."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.timeseries import ols_from_moments
    from chatdata_spark.streaming.incremental import stream_ols_merge

    e = load_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    ev = e.select("event_id", "event_type", F.to_date("ts").alias("d"), "value")
    schema = "event_id long, event_type string, d date, value double"

    def xy(bdf):
        return (
            F.date_diff(F.col("d"), F.lit("1970-01-01").cast("date")),
            (F.col("value").cast("decimal(18,2)") * F.lit(100)).cast("bigint"),
        )

    store = _drain_two_waves(
        spark, "chatdata_strend_q_", ev, _median_split(ev, "event_id"),
        lambda ind, st, ck: stream_ols_merge(spark, ind, st, ck, ["event_type"], xy, schema),
    )
    return ols_from_moments(store.read(), y_scale=100).orderBy("event_type")


def _shared_hll_oracle() -> str:
    """The BATCH deterministic-HLL oracle, verbatim: register MIN-merge is
    an idempotent lattice join, so the stream-merged register table must
    equal the one-shot batch registers — and therefore the exact harmonic
    sum and the estimate replay identically."""
    from chatdata_spark.registry import _REGISTRY

    return _REGISTRY["hll_distinct_deterministic"].oracle


@query("streaming_hll_distinct", oracle=_shared_hll_oracle)
def streaming_hll_distinct(spark, sf_dir):
    """§2.10 extension, ORACLE-checked (batch parity): the deterministic
    HLL register state maintained INCREMENTALLY over an event file
    stream — two availableNow drains, each micro-batch MIN-merging its
    (group, bucket, min_tail) registers into the versioned store
    (streaming/incremental.py::stream_hll_merge). The merge is an
    idempotent lattice join (no replay guard needed — a re-delivered
    batch is absorbed), so the final store provably equals the one-shot
    batch registers and the BATCH oracle replays the exact harmonic sum
    AND the estimate: the streaming distinct-count whose answer is
    bit-identical to the batch one, at 2^p rows of state per group
    forever."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.hll import hll_estimate
    from chatdata_spark.streaming.incremental import stream_hll_merge

    e = load_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    ev = e.select("event_id", "event_type", "user_id")
    schema = "event_id long, event_type string, user_id long"
    store = _drain_two_waves(
        spark, "chatdata_shll_q_", ev, _median_split(ev, "event_id"),
        lambda ind, st, ck: stream_hll_merge(
            spark, ind, st, ck, ["event_type"], "user_id", schema, p=8, salt="hllu"
        ),
    )
    sk = hll_estimate(store.read(), ["event_type"], p=8, linear_correction=True)
    sk = sk.withColumn("hll_est", F.round("hll_est", 6))
    ex = (
        e.groupBy("event_type").agg(F.count_distinct("user_id").alias("n_exact"))
    )
    return (
        ex.join(sk, "event_type")
        .select("event_type", "n_exact", "m_used", "harmonic_sum", "hll_est")
        .orderBy("event_type")
    )


def _shared_scd2_oracle() -> str:
    """The BATCH SCD2 oracle, verbatim: with event-time-ordered batches
    the incremental fold provably equals the one-shot changelog build
    (operators/scd.py::scd2_merge's contract), so the streamed history
    must hash-match the batch rebuild."""
    from chatdata_spark.registry import _REGISTRY

    return _REGISTRY["scd2_history_events"].oracle


@query("streaming_scd2_history", oracle=_shared_scd2_oracle)
def streaming_scd2_history(spark, sf_dir):
    """§2.10 extension, ORACLE-checked (batch parity): SCD2 history
    maintained INCREMENTALLY over an event-changelog file stream — two
    availableNow drains in event-time order (first half-month, then the
    rest), each micro-batch folded into the versioned store with
    scd2_merge (touched keys rebuilt, untouched anti-join pass-through;
    replays absorbed idempotently, no batch guard — see
    streaming/incremental.py::stream_scd2_merge). Exact equality with
    the one-shot batch oracle proves the incremental-merge law under
    real micro-batch splits: the dimension-history table that never
    rescans its full changelog."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.queries.quality import _PSI_SPLIT
    from chatdata_spark.streaming.incremental import stream_scd2_merge

    e = load_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    schema = "user_id long, event_type string, ts timestamp, event_id long"
    args = (["user_id"], "ts", ["event_type"], ["event_id"])
    store = _drain_two_waves(
        spark, "chatdata_sscd_q_", e, F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"),
        lambda ind, st, ck: stream_scd2_merge(spark, ind, st, ck, *args, schema),
    )
    return store.read().orderBy("user_id", "valid_from", "event_id")


@query(
    "streaming_kmv_overlap",
    oracle="""
    WITH h AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5('kmvu' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    r AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM h
    ),
    s AS (
        SELECT event_type, list_sort(list(h)) AS sk, any_value(n) AS n
        FROM r WHERE rn <= 64 GROUP BY event_type
    ),
    p AS (
        SELECT a.event_type AS group_a, b.event_type AS group_b,
               a.sk AS ska, b.sk AS skb,
               (a.n > 64 OR b.n > 64) AS sat
        FROM s a JOIN s b ON a.event_type < b.event_type
    ),
    f AS (
        SELECT group_a, group_b, sat, ska, skb,
               list_sort(list_distinct(ska || skb))[1:64] AS merged,
               len(list_distinct(ska || skb)) AS ulen
        FROM p
    )
    SELECT group_a, group_b,
      ROUND(CASE WHEN sat THEN 63.0 / (CAST(merged[64] + 1 AS DOUBLE) / 4294967296.0)
                 ELSE CAST(ulen AS DOUBLE) END, 6) AS est_union,
      ROUND(CASE WHEN sat
                 THEN CAST(len(list_intersect(list_intersect(merged, ska), skb)) AS DOUBLE) / 64.0
                 ELSE CAST(len(list_intersect(ska, skb)) AS DOUBLE) / CAST(ulen AS DOUBLE) END,
            6) AS est_jaccard,
      ROUND(CASE WHEN sat
                 THEN (CAST(len(list_intersect(list_intersect(merged, ska), skb)) AS DOUBLE) / 64.0)
                      * (63.0 / (CAST(merged[64] + 1 AS DOUBLE) / 4294967296.0))
                 ELSE CAST(len(list_intersect(ska, skb)) AS DOUBLE) END, 6) AS est_intersection
    FROM f ORDER BY group_a, group_b
    """,
)
def streaming_kmv_overlap(spark, sf_dir):
    """§2.10 extension, ORACLE-checked (batch parity): the per-group KMV
    bottom-k sketch maintained INCREMENTALLY over an event file stream —
    two availableNow drains, each micro-batch's distinct (event_type,
    md5-bucket(user_id)) pairs merging into the versioned store as
    bottom-64-of-union plus a monotone saturation flag
    (streaming/incremental.py::stream_kmv_merge — an idempotent lattice
    like the HLL registers: no replay guard). The final state feeds
    kmv_pairwise_overlap with the exact surrogate n = sat ? k+1 :
    |sketch| (n_distinct is consumed only through (n > k) comparisons),
    so the streamed which-audiences-overlap matrix is bit-identical to
    the batch sketch build the oracle replays in SQL."""
    from chatdata_spark.catalog import load_events
    from chatdata_spark.operators.kmv import kmv_pairwise_overlap
    from chatdata_spark.streaming.incremental import stream_kmv_merge

    e = load_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    ev = e.select("event_id", "event_type", "user_id")
    schema = "event_id long, event_type string, user_id long"
    store = _drain_two_waves(
        spark, "chatdata_skmv_q_", ev, _median_split(ev, "event_id"),
        lambda ind, st, ck: stream_kmv_merge(
            spark, ind, st, ck, "event_type", "user_id", schema, k=64, salt="kmvu"
        ),
    )
    st = store.read()
    sk = st.groupBy("event_type").agg(
        F.array_sort(F.collect_list("h")).alias("sketch"),
        F.max("sat").alias("__sat"),
        F.count(F.lit(1)).alias("__sz"),
    ).select(
        "event_type",
        "sketch",
        F.when(F.col("__sat"), F.lit(65).cast("long"))
        .otherwise(F.col("__sz"))
        .alias("n_distinct"),
        F.lit(64).cast("int").alias("sketch_k"),
    )
    return kmv_pairwise_overlap(sk, "event_type").orderBy("group_a", "group_b")

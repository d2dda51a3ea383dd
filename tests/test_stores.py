"""State-store lifecycle tests — the FIXTURES.md canonical queries 5-8:
session CRUD + cascade delete, chat-memory replay order, private-KB
upsert/tenancy/semi-join, versioned-store atomicity."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest

from chatdata_spark.functions.vector import hash_embed
from chatdata_spark.stores.state import (
    ChatMemoryStore,
    PrivateKBStore,
    SessionStore,
    VersionedParquetStore,
)

TS = datetime.datetime(2023, 1, 1)


def _ts(i):
    return TS + datetime.timedelta(minutes=i)


def test_versioned_store_swap_and_time_travel(spark, tmp_path):
    s = VersionedParquetStore(spark, str(tmp_path / "t"))
    s.write(spark.createDataFrame([(1, "a")], "id int, v string"))
    s.append(spark.createDataFrame([(2, "b")], "id int, v string"))
    assert s.current_version() == 2
    assert s.read().count() == 2
    # prior version still readable (time travel)
    old = spark.read.parquet(s._version_dir(1))
    assert old.count() == 1


def test_versioned_store_read_before_write_raises(spark, tmp_path):
    s = VersionedParquetStore(spark, str(tmp_path / "t"))
    with pytest.raises(FileNotFoundError):
        s.read()


def test_session_lifecycle_and_cascade_delete(spark, tmp_path):
    sess = SessionStore(spark, str(tmp_path / "sessions"))
    mem = ChatMemoryStore(spark, str(tmp_path / "memory"))
    sess.add_session("u1", "u1?default", "be helpful", create_by=_ts(0))
    sess.add_session("u1", "u1?work", "be terse", create_by=_ts(1))
    sess.add_session("u2", "u2?default", "x", create_by=_ts(2))

    listed = [r.session_id for r in sess.list_sessions("u1").collect()]
    assert listed == ["u1?work", "u1?default"]  # create_by DESC (T2)

    sess.update_system_prompt("u1?default", "be brief")
    prompts = {r.session_id: r.system_prompt for r in sess.store.read().collect()}
    assert prompts["u1?default"] == "be brief" and prompts["u1?work"] == "be terse"

    for i, (t, m) in enumerate([("human", "hi"), ("ai", "hello"), ("human", "bye")]):
        mem.append_message("u1?default", t, m, ts=1000.0 + i)
    mem.append_message("u2?default", "human", "other", ts=2000.0)

    hist = [r.message for r in mem.history("u1?default").collect()]
    assert hist == ["hi", "hello", "bye"]  # (id, msg_id) replay order (T3)

    # M3 cascade
    sess.delete_session("u1?default", memory=mem)
    assert sess.store.read().filter(F.col("session_id") == "u1?default").count() == 0
    assert mem.store.read().filter(F.col("session_id") == "u1?default").count() == 0
    assert mem.store.read().filter(F.col("session_id") == "u2?default").count() == 1


def test_chat_memory_append_idempotent(spark, tmp_path):
    mem = ChatMemoryStore(spark, str(tmp_path / "m"))
    mem.append_message("u?s", "human", "same", ts=5.0)
    mem.append_message("u?s", "human", "same", ts=5.0)  # same msg_id
    assert mem.store.read().count() == 1


def test_private_kb_upsert_tenancy_semijoin(spark, tmp_path):
    kb = PrivateKBStore(spark, str(tmp_path / "kb"), str(tmp_path / "tools"))
    embed = lambda t: hash_embed(t, 8)  # noqa: E731
    kb.add_paragraphs("u1", "a.pdf", ["one two three lorem", "four five six lorem"], embed, created_by=_ts(0))
    kb.add_paragraphs("u1", "b.pdf", ["seven eight nine lorem"], embed, created_by=_ts(1))
    kb.add_paragraphs("u2", "c.pdf", ["other user text here"], embed, created_by=_ts(2))
    # M1: re-upload of a.pdf (same entity_ids) must not duplicate
    kb.add_paragraphs("u1", "a.pdf", ["one two three lorem", "four five six lorem"], embed, created_by=_ts(3))

    files = {r.file_name: r.num_paragraph for r in kb.user_files("u1").collect()}
    assert files == {"a.pdf": 2, "b.pdf": 1}

    kb.create_tool("u1", "t1", ["a.pdf"], "tool one", created_by=_ts(4))
    paras = kb.tool_paragraphs("u1", "t1")
    assert paras.count() == 2
    assert {r.file_name for r in paras.collect()} == {"a.pdf"}
    # P10: no cross-tenant leakage even with same file name
    kb.create_tool("u2", "t1", ["a.pdf"], "evil twin", created_by=_ts(5))
    assert kb.tool_paragraphs("u2", "t1").count() == 0

    # M2 user wipe
    kb.delete_user("u2")
    assert kb.kb.read().filter(F.col("user_id") == "u2").count() == 0
    assert kb.tools.read().filter(F.col("user_id") == "u2").count() == 0
    assert kb.kb.read().filter(F.col("user_id") == "u1").count() == 3


def test_vector_dim_constraint_on_kb(spark, tmp_path):
    """§1.3 CHECK length(vector)=DIM as ingest-time validation."""
    kb = PrivateKBStore(spark, str(tmp_path / "kb2"), str(tmp_path / "tools2"))
    kb.add_paragraphs("u1", "a.pdf", ["text one here now"], lambda t: hash_embed(t, 8), created_by=_ts(0))
    bad = kb.kb.read().filter(F.size("vector") != 8).count()
    assert bad == 0


def test_vacuum_keeps_current_and_window(spark, tmp_path):
    s = VersionedParquetStore(spark, str(tmp_path / "t"))
    for i in range(4):
        s.write(spark.createDataFrame([(i,)], "v int"))
    assert s.current_version() == 4
    removed = s.vacuum(keep_last=2)
    assert removed == [1, 2]
    assert s.read().collect()[0].v == 3  # version 4 holds the 4th write (v=3)


def test_compact_reduces_files_preserves_rows_and_meta(spark, tmp_path):
    """OPTIMIZE-style compaction: fewer files, identical data, meta
    carried over, old version left intact behind the pointer swap."""
    import glob

    from chatdata_spark.stores.state import VersionedParquetStore
    from tests.conftest import SF_ORACLE

    store = VersionedParquetStore(spark, str(tmp_path / "s"))
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").repartition(16)
    store.write(o, meta={"wm": {"t": "raw", "v": 7}})
    v1_files = glob.glob(f"{store._version_dir(store.current_version())}/*.parquet")
    assert len(v1_files) == 16

    v2 = store.compact(num_files=2, sort_cols=["o_orderkey"])
    v2_files = glob.glob(f"{store._version_dir(v2)}/*.parquet")
    assert len(v2_files) == 2
    assert store.read_meta()["wm"]["v"] == 7
    assert store.read().count() == o.count()
    agg = lambda df: df.agg(F.sum("o_orderkey"), F.sum("o_custkey")).collect()
    assert agg(store.read()) == agg(o)
    # sorted rewrite restored min-max prunable layout
    from tests.conftest import file_key_ranges

    ranges = sorted(file_key_ranges(store._version_dir(v2), "o_orderkey"))
    assert ranges[0][1] < ranges[1][0]  # disjoint key ranges across files


def test_read_version_time_travel(spark, tmp_path):
    from chatdata_spark.stores.state import VersionedParquetStore

    s = VersionedParquetStore(spark, str(tmp_path / "tt"))
    s.write(spark.range(3).withColumnRenamed("id", "k"))
    s.write(spark.range(5).withColumnRenamed("id", "k"))
    assert s.read_version(1).count() == 3
    assert s.read_version(2).count() == 5
    assert s.read().count() == 5
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        s.read_version(9)


def test_changes_cdf_insert_update_delete(spark, tmp_path):
    """Change data feed between versions: classifies inserts/updates/
    deletes exactly; unchanged keys don't appear; deletes carry the BEFORE
    image."""
    from pyspark.sql import Row

    from chatdata_spark.stores.state import VersionedParquetStore

    s = VersionedParquetStore(spark, str(tmp_path / "cdf"))
    v1_rows = [Row(k=1, val="a", n=10), Row(k=2, val="b", n=20), Row(k=3, val="c", n=30)]
    s.write(spark.createDataFrame(v1_rows))
    v2_rows = [Row(k=1, val="a", n=10),      # unchanged
               Row(k=2, val="B", n=20),      # update
               Row(k=4, val="d", n=40)]      # insert; k=3 deleted
    s.write(spark.createDataFrame(v2_rows))

    ch = {r["k"]: r for r in s.changes(1, 2, ["k"]).collect()}
    assert set(ch) == {2, 3, 4}
    assert ch[2]["_op"] == "update" and ch[2]["val"] == "B"
    assert ch[4]["_op"] == "insert" and ch[4]["n"] == 40
    assert ch[3]["_op"] == "delete" and ch[3]["val"] == "c" and ch[3]["n"] == 30


def test_changes_cdf_null_values(spark, tmp_path):
    """NULL-valued columns participate in change detection (coalesce
    sentinel): NULL→value and value→NULL both classify as updates."""
    from pyspark.sql import Row

    from chatdata_spark.stores.state import VersionedParquetStore

    s = VersionedParquetStore(spark, str(tmp_path / "cdfn"))
    s.write(spark.createDataFrame([Row(k=1, val=None, n=1), Row(k=2, val="x", n=2)],
                                  "k int, val string, n int"))
    s.write(spark.createDataFrame([Row(k=1, val="y", n=1), Row(k=2, val=None, n=2)],
                                  "k int, val string, n int"))
    ch = {r["k"]: r["_op"] for r in s.changes(1, 2, ["k"]).collect()}
    assert ch == {1: "update", 2: "update"}


def test_private_kb_scoped_knn_tenancy(spark, tmp_path):
    """The vector leg of the KB path: tool-scoped kNN must rank ONLY the
    tenant's paragraphs from the tool's files — a same-named file from
    another tenant (or an unscoped file) must never enter the candidates."""
    from chatdata_spark.functions.vector import cosine_distance, hash_embed
    from chatdata_spark.stores.state import PrivateKBStore

    kb = PrivateKBStore(spark, str(tmp_path / "kb"), str(tmp_path / "tools"))
    embed = lambda t: hash_embed(t, 8)  # noqa: E731
    kb.add_paragraphs("u1", "f.txt", ["u1 alpha", "u1 beta"], embed)
    kb.add_paragraphs("u1", "g.txt", ["u1 gamma"], embed)
    kb.add_paragraphs("u2", "f.txt", ["u2 delta"], embed)  # tenancy trap
    kb.create_tool("u1", "t", ["f.txt"], "scoped")

    q = hash_embed("query", 8)
    got = (
        kb.tool_paragraphs("u1", "t")
        .select("text", F.round(cosine_distance("vector", q), 6).alias("dist"))
        .orderBy("dist", "text")
        .collect()
    )
    assert [r.text for r in got] != []
    assert {r.text for r in got} == {"u1 alpha", "u1 beta"}  # no u2, no g.txt
    assert all(0.0 <= r.dist <= 2.0 for r in got)

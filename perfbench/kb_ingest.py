"""kb_ingest: a chat user's writes and reads against the upsert stores
(the knowledge-base half of the rag_serve workload).

A cycle runs one op of each kind, with seeded payloads:
  upload        PrivateKBStore.add_paragraphs with the benchmark's timed embed
  chat          ChatMemoryStore.append_message
  session/tool  SessionStore.update_system_prompt / PrivateKBStore.create_tool
  read_*        history, user_files, tool_paragraphs, and a private-KB kNN
and then a drain: two event files dropped into an ingest dir and
drained by stream_cms_merge, stream_moments_merge, stream_hll_merge
(additive and lattice state) and stream_upsert_into_store.

Every write is checked read-after-write against a Python model of the
stores; every drain against the batch-equivalent state over all files
dropped so far.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, oracle

N_USERS = 4
SEED_PARAGRAPHS = 12
EVENT_SCHEMA = "user string, item string, value bigint, key bigint, version bigint"
T0 = datetime.datetime(2026, 1, 1)


def _sha(*parts: str) -> str:
    return hashlib.sha256("".join(parts).encode("utf-8")).hexdigest()


class KbIngest:
    """The knowledge-base half of rag_serve: its op kinds and its drain."""

    def __init__(self, spark, tracer, root: str, seed: int):
        self.spark, self.tracer, self.root, self.seed = spark, tracer, root, seed

    # -- setup -------------------------------------------------------------------
    def setup(self, root: str, timings: dict) -> None:
        from chatdata_spark.stores.state import (ChatMemoryStore, PrivateKBStore, SessionStore,
                                                 VersionedParquetStore)

        t0 = time.perf_counter()
        rng = gen.rng_for(self.seed, "kb_plan")
        self.words = gen.vocabulary(rng)
        self.plan = gen.kb_plan(rng, self.words, 4000, N_USERS)
        self.ev_rng = gen.rng_for(self.seed, "kb_events")
        timings["gen.inputs_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        p = lambda *a: os.path.join(root, *a)  # noqa: E731
        spark = self.spark
        self.kb = PrivateKBStore(spark, p("kb"), p("tools"))
        self.memory = ChatMemoryStore(spark, p("memory"))
        self.sessions = SessionStore(spark, p("sessions"))
        self.user_dirs = [p("kb"), p("tools"), p("memory"), p("sessions")]
        self.drain_stores = {d: VersionedParquetStore(spark, p("drain", d))
                             for d in ("cms", "moments", "hll", "upsert")}
        self.events_dir, self.ckpt = p("events"), p("ckpt")
        os.makedirs(self.events_dir, exist_ok=True)

        # model of the user stores: what a read must return
        self.m_kb: dict[str, tuple] = {}      # entity_id → (file, text, user, ts, vec)
        self.m_tools: dict[str, tuple] = {}   # tool_id → (name, files, user, ts)
        self.m_memory: dict[str, tuple] = {}  # msg_id → (id, session, msg_id, message)
        self.m_sessions: dict[str, tuple] = {}  # session → (user, prompt)
        self.events: dict[str, list] = {k: [] for k in ("user", "item", "value", "key", "version")}
        self.payload = self.bytes_written = self.write_payload = 0
        self.n_files = 0

        prng = gen.rng_for(self.seed, "kb_seed")
        zp = gen.zipf_p(len(self.words))
        kb_rows, sess_rows = [], []
        for u in range(N_USERS):
            user = f"u{u}"
            for f in range(2):
                fname = f"seed{f}.txt"
                for _ in range(SEED_PARAGRAPHS // 2):
                    text = " ".join(gen.word_stream(prng, self.words, zp, 30))
                    vec = oracle.embed(text).astype(np.float32).tolist()
                    eid = _sha(fname, text)
                    kb_rows.append((eid, fname, text, user, T0, vec))
                    self.m_kb[eid] = (fname, text, user, T0, vec)
                    self.payload += len(text.encode()) + 4 * gen.DIM
            for s in range(2):
                sid, prompt = f"{user}?s{s}", "you are a helpful assistant"
                sess_rows.append((user, sid, prompt, T0, "{}"))
                self.m_sessions[sid] = (user, prompt)
                self.payload += len(prompt)
        self.kb.kb.write(spark.createDataFrame(kb_rows, self.kb.KB_SCHEMA))
        self.sessions.store.write(spark.createDataFrame(sess_rows, self.sessions.SCHEMA))
        tool_rows = []
        for u in range(N_USERS):
            for t in range(2):
                self._model_tool(f"u{u}", f"tool{t}", ["seed0.txt"], T0)
                tool_rows.append((_sha(f"u{u}", f"tool{t}"), f"tool{t}", ["seed0.txt"], f"u{u}",
                                  T0, "answers from seed files"))
        self.kb.tools.write(spark.createDataFrame(tool_rows, self.kb.TOOL_SCHEMA))
        timings["store.build_s"] = time.perf_counter() - t0
        self.i = 0

    def inputs(self) -> dict:
        return {"users": N_USERS, "seed_paragraphs": len(self.m_kb),
                "paragraph_words": 30, "event_rows_per_file": 400, "files_per_drain": 2}

    def cycle(self):
        """The next op of each kind, then a drain."""
        ops = self.plan[self.i:self.i + len(gen.KB_OPS)]
        self.i += len(gen.KB_OPS)
        return [(o["kind"], self._op(o)) for o in ops] + [("drain", self._drain)]

    # -- ops -----------------------------------------------------------------------
    def _ts(self, op) -> datetime.datetime:
        return T0 + datetime.timedelta(seconds=1 + op["i"])

    def _op(self, op):
        return lambda: getattr(self, "_" + op["kind"])(op)

    def _embed(self, text: str):
        from chatdata_spark.functions.vector import hash_embed

        with self.tracer.span("kb.embed"):
            return hash_embed(text, gen.DIM)

    def _write(self, label: str, call, payload: int, model):
        """Time a store write; off the clock, apply ``model`` to the
        expected stores and account the bytes and files written."""
        before = {d: set(os.listdir(d)) for d in self.user_dirs}
        with self.tracer.span("kb.upsert"):
            call()

        def check():
            model()
            self.payload += payload
            written = files = 0
            for d in self.user_dirs:
                for new in set(os.listdir(d)) - before[d]:
                    if new.startswith("v_"):
                        written += gen.dir_bytes(os.path.join(d, new))
                        files += sum(len(f) for _r, _d, f in os.walk(os.path.join(d, new)))
            self.tracer.count("store.bytes_written", written)
            self.tracer.count("store.files_written", files)
            self.tracer.count("store.writes", 1)
            self.bytes_written += written
            self.write_payload += payload
            return self._check_stores(label)

        return label, [(label, payload)], check

    def _upload(self, op):
        ts, texts = self._ts(op), op["paragraphs"]

        def model():
            for t in texts:
                eid = _sha(op["file"], t)
                prev = self.m_kb.get(eid)
                if prev is None or prev[3] <= ts:
                    vec = oracle.embed(t).astype(np.float32).tolist()
                    self.m_kb[eid] = (op["file"], t, op["user"], ts, vec)

        payload = sum(len(t.encode()) + 4 * gen.DIM for t in texts)
        return self._write("upload", lambda: self.kb.add_paragraphs(
            op["user"], op["file"], texts, self._embed, created_by=ts), payload, model)

    def _chat(self, op):
        ts = float(1e9 + op["i"])
        sid, msg = op["session"], op["message"]

        def model():
            mid = _sha(sid, msg, repr(ts))
            self.m_memory[mid] = (ts, sid, mid, msg)

        return self._write("chat", lambda: self.memory.append_message(sid, "human", msg, ts=ts),
                           len(msg.encode()), model)

    def _session(self, op):
        from pyspark.sql import functions as F

        sid, prompt = op["session"], op["prompt"]

        def model():
            self.m_sessions[sid] = (self.m_sessions[sid][0], prompt)

        return self._write("session", lambda: self.sessions.store.update_where(
            F.col("session_id") == sid, {"system_prompt": F.lit(prompt)}), len(prompt.encode()),
            model)

    def _model_tool(self, user, name, files, ts):
        tid = _sha(user, name)
        prev = self.m_tools.get(tid)
        if prev is None or prev[3] <= ts:
            self.m_tools[tid] = (name, files, user, ts)

    def _tool(self, op):
        ts = self._ts(op)
        user = op["user"]
        files = sorted({v[0] for v in self.m_kb.values() if v[2] == user})[-2:]
        desc = f"answers from {', '.join(files)}"
        return self._write("tool", lambda: self.kb.create_tool(user, op["tool"], files, desc,
                                                                created_by=ts),
                           len(desc.encode()), lambda: self._model_tool(user, op["tool"], files, ts))

    def _read(self, label, fn, expect):
        with self.tracer.span("store.read"):
            rows = fn()
        return label, rows, lambda: [] if rows == expect() else [f"{label} read differs"]

    def _read_history(self, op):
        sid = op["session"]
        return self._read(
            "history",
            lambda: [(r.id, r.msg_id, r.message) for r in self.memory.history(sid).collect()],
            lambda: sorted((m[0], m[2], m[3]) for m in self.m_memory.values() if m[1] == sid))

    def _read_files(self, op):
        user = op["user"]

        def expect():
            agg: dict = {}
            for f, t, u, _ts, _v in self.m_kb.values():
                if u == user:
                    n, mx = agg.get(f, (0, 0))
                    agg[f] = (n + 1, max(mx, len(t)))
            return [(f, *agg[f]) for f in sorted(agg)]

        return self._read("user_files", lambda: [
            (r.file_name, r.num_paragraph, r.max_chars)
            for r in self.kb.user_files(user).collect()], expect)

    def _read_tool(self, op):
        user, tool = op["user"], f"tool{op['i'] % 2}"

        def expect():
            t = self.m_tools.get(_sha(user, tool))
            files = set(t[1]) if t else set()
            return sorted(e for e, v in self.m_kb.items() if v[2] == user and v[0] in files)

        return self._read("tool_paragraphs", lambda: sorted(
            r.entity_id for r in self.kb.tool_paragraphs(user, tool).collect()), expect)

    def _read_knn(self, op):
        from pyspark.sql import functions as F

        from chatdata_spark.operators.knn import knn

        user, q = op["user"], op["q"]
        qv = self._embed(q)
        with self.tracer.span("kb.private_knn"):
            rows = [(r.entity_id, r.dist) for r in knn(
                self.kb.kb.read(), "vector", qv, k=5, where=F.col("user_id") == user,
                select=["entity_id"], id_col="entity_id").collect()]

        def check():
            mine = [(e, v[4]) for e, v in self.m_kb.items() if v[2] == user]
            ids = np.array([e for e, _ in mine])
            emb = np.array([v for _, v in mine], dtype=np.float32)
            return oracle.check_topk(rows, ids, oracle.cos_dist(emb, oracle.embed(q)), 5)

        return "private_knn", rows, check

    # -- drains --------------------------------------------------------------------
    def _drain(self):
        from pyspark.sql import functions as F

        from chatdata_spark.streaming import incremental as inc

        for _ in range(2):
            ev = gen.event_batch(self.ev_rng, self.n_files)
            self.n_files += 1
            for k, v in ev.items():
                self.events[k].extend(v.tolist() if hasattr(v, "tolist") else v)
            pq.write_table(gen.table(ev, list(ev)),
                           os.path.join(self.events_dir, f"batch{self.n_files:05d}.parquet"))
        commits0 = self._commits()
        spark, d, s, tr = self.spark, self.events_dir, self.drain_stores, self.tracer
        ck = lambda n: os.path.join(self.ckpt, n)  # noqa: E731
        with tr.span("stream.cms"):
            inc.stream_cms_merge(spark, d, s["cms"], ck("cms"), "item", EVENT_SCHEMA)
        with tr.span("stream.moments"):
            inc.stream_moments_merge(spark, d, s["moments"], ck("moments"), ["user"],
                                     lambda df: F.col("value"), EVENT_SCHEMA)
        with tr.span("stream.hll"):
            inc.stream_hll_merge(spark, d, s["hll"], ck("hll"), ["user"], "item", EVENT_SCHEMA)
        with tr.span("stream.upsert"):
            inc.stream_upsert_into_store(spark, d, s["upsert"], ["key"], "version", ck("upsert"),
                                         EVENT_SCHEMA)
        tr.count("stream.drains", 4)
        tr.count("stream.batches", self._commits() - commits0)
        return "drain", [("files", self.n_files)], self._check_drains

    def _commits(self) -> int:
        n = 0
        for name in ("cms", "moments", "hll", "upsert"):
            c = os.path.join(self.ckpt, name, "commits")
            n += len([f for f in os.listdir(c) if not f.startswith(".")]) if os.path.isdir(c) else 0
        return n

    def _state(self, name: str) -> dict:
        st = self.drain_stores[name]
        return pq.read_table(st._version_dir(st.current_version())).to_pydict()

    def _check_drains(self) -> list[str]:
        e, probs = self.events, []
        t = self._state("cms")
        if dict(zip(zip(t["row_idx"], t["col"]), t["cnt"])) != oracle.cms(e["item"]):
            probs.append("cms state differs from the batch sketch")
        t = self._state("moments")
        got = {g: (int(n), int(a), int(b)) for g, n, a, b in zip(t["user"], t["n"], t["s1"], t["s2"])}
        if got != oracle.moments(e["user"], e["value"]):
            probs.append("moments state differs from the batch moments")
        t = self._state("hll")
        if dict(zip(zip(t["user"], t["bucket"]), t["min_tail"])) != oracle.hll(e["user"], e["item"]):
            probs.append("hll registers differ from the batch registers")
        t = self._state("upsert")
        latest: dict = {}
        for k, v in zip(e["key"], e["version"]):
            latest[k] = max(latest.get(k, v), v)
        if dict(zip(t["key"], t["version"])) != latest:
            probs.append("upsert store differs from keep-latest")
        return probs

    # -- store checks -----------------------------------------------------------------
    def _check_stores(self, label: str) -> list[str]:
        """Read-after-write: the written store's latest version equals the model."""
        def latest(store):
            return pq.read_table(store._version_dir(store.current_version())).to_pydict()

        if label == "upload":
            t = latest(self.kb.kb)
            got = {e: (f, x, u) for e, f, x, u in zip(t["entity_id"], t["file_name"], t["text"], t["user_id"])}
            exp = {e: v[:3] for e, v in self.m_kb.items()}
        elif label == "chat":
            t = latest(self.memory.store)
            got = sorted(zip(t["id"], t["session_id"], t["msg_id"], t["message"]))
            exp = sorted(self.m_memory.values())
        elif label == "session":
            t = latest(self.sessions.store)
            got = {s: (u, p) for u, s, p in zip(t["user_id"], t["session_id"], t["system_prompt"])}
            exp = self.m_sessions
        else:
            t = latest(self.kb.tools)
            got = {i: (n, list(f), u) for i, n, f, u in zip(t["tool_id"], t["tool_name"], t["file_names"], t["user_id"])}
            exp = {i: (v[0], list(v[1]), v[2]) for i, v in self.m_tools.items()}
        return [] if got == exp else [f"{label}: store contents differ after the write"]

    # -- results -------------------------------------------------------------------
    def context(self) -> dict:
        return {"versions_retained": sum(
            len([v for v in os.listdir(d) if v.startswith("v_")]) for d in self.user_dirs)}

    def report(self, harness) -> dict:
        from perfbench.runtime import timing

        space = sum(gen.dir_bytes(d) for d in self.user_dirs)
        return {
            "write_s": timing(harness.all_samples(["upload", "chat", "session", "tool"])),
            "read_s": timing(harness.all_samples(["read_history", "read_files", "read_tool",
                                                  "read_knn"])),
            "drain_s": timing(harness.all_samples(["drain"])),
            "write_amp": {"value": self.bytes_written / max(1, self.write_payload),
                          "unit": "ratio"},
            "space_amp": {"value": space / self.payload, "unit": "ratio"},
        }

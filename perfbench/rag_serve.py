"""rag_serve: one chat user, closed loop: retrieval requests interleaved
with the chat and knowledge-base writes, reads and drains of kb_ingest.py.

Retrieval request cycle (fixed order, seeded questions and filters):
  vsql      Vector SQL kNN with PREWHERE: VectorSQLDialect.translate → spark.sql
  selfq     self-query filtered kNN: SelfQueryCompiler.compile → operators.knn.knn
  ivf_full  routed IVF kNN, every cluster probed: VectorQueryRouter.execute
  ivf_part  routed IVF kNN, 3 of 8 clusters probed
  funnel    router ANN → bm25_topk → rrf_fuse → rerank_topk → checkpointed
            page → mmr_select
Every request collects its ≤60-row page to the driver and is checked
against numpy.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.dataset as ds

from perfbench import gen, oracle
from perfbench.tracing import SparkEngine

N_DOCS = 3000
N_CLUSTERS = 8
PARTIAL_PROBE = 3
K = 10


class Retrieval:
    """The retrieval half of rag_serve."""

    kinds = list(gen.REQ_TYPES)

    def __init__(self, spark, tracer, root: str, seed: int):
        self.spark, self.tracer, self.root, self.seed = spark, tracer, root, seed

    # -- setup -------------------------------------------------------------------
    def generate(self, root: str) -> dict:
        rng = gen.rng_for(self.seed, "rag_corpus")
        c = gen.corpus(rng, N_DOCS)
        path = os.path.join(root, "corpus")
        nbytes = gen.write_parquet(
            gen.table(c, ["doc_id", "text", "lang", "source", "n_chars", "embedding"]), path, 4)
        return {"c": c, "path": path, "bytes": nbytes}

    def build(self, root: str, path: str):
        from chatdata_spark.operators.ivf import build_or_load_ivf

        df = self.spark.read.parquet(path)
        return build_or_load_ivf(self.spark, df, os.path.join(root, "ivf"), "doc_id",
                                 "embedding", N_CLUSTERS)

    def setup(self, root: str, timings: dict) -> None:
        from chatdata_spark.functions.vector import hash_embed
        from chatdata_spark.plans.router import VectorQueryRouter
        from chatdata_spark.plans.vector_sql import VectorSQLDialect

        t0 = time.perf_counter()
        g = self.generate(root)
        timings["gen.inputs_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        idx = self.build(root, g["path"])
        timings["ivf.build_s"] = time.perf_counter() - t0

        c = g["c"]
        self.path, self.c, self.input_bytes = g["path"], c, g["bytes"]
        self.ids = c["doc_id"]
        self.emb = c["embedding"]
        self.lang = np.array(c["lang"])
        self.source = np.array(c["source"])
        self.n_chars = c["n_chars"]
        self.bm25 = oracle.Bm25(self.ids, c["text"])
        meta = json.load(open(os.path.join(idx.path, "ivf_meta.json")))
        self.centroids = np.array(meta["centroids"], dtype=np.float64)
        t = ds.dataset(os.path.join(idx.path, idx.data_dir), format="parquet",
                       partitioning="hive").to_table(columns=["doc_id", "cluster_id"])
        cl = dict(zip(t.column("doc_id").to_pylist(), t.column("cluster_id").to_pylist()))
        self.cluster = np.array([cl[int(i)] for i in self.ids])

        tracer = self.tracer

        def embed(text: str):
            with tracer.span("embed.query"):
                return hash_embed(text, gen.DIM)

        self.embed = embed
        self.dialect = VectorSQLDialect(embedder=embed, dim=gen.DIM)
        self.spark.read.parquet(self.path).createOrReplaceTempView("corpus")
        self.router = VectorQueryRouter(self.dialect, {"corpus": idx})
        self.router_part = VectorQueryRouter(self.dialect, {"corpus": idx}, n_probe=PARTIAL_PROBE)
        self.requests = gen.rag_requests(gen.rng_for(self.seed, "rag_requests"), c, 2000)
        self.i = 0

    def inputs(self) -> dict:
        return {"docs": N_DOCS, "rows": N_DOCS, "bytes": self.input_bytes, "dim": gen.DIM,
                "ivf_clusters": N_CLUSTERS}

    def cycle(self):
        """The next request of each type."""
        rs = self.requests[self.i:self.i + len(self.kinds)]
        self.i += len(self.kinds)
        return [(r["kind"], self._op(r)) for r in rs]

    # -- requests ----------------------------------------------------------------
    def _op(self, r: dict):
        fn = {"vsql": self._vsql, "selfq": self._selfq, "ivf_full": self._ivf,
              "ivf_part": self._ivf, "funnel": self._funnel}[r["kind"]]
        return lambda: fn(r)

    def _knn_exec(self, df, cols):
        tr = self.tracer
        with tr.span("knn.exec"):
            rows = df.collect()
        tr.count("knn.rows_out", len(rows))
        return [tuple(r[c] for c in cols) for r in rows]

    def _vsql(self, r):
        sql = (f"SELECT doc_id, lang FROM corpus PREWHERE lang = '{r['lang']}' "
               f"AND n_chars > {r['min_chars']} "
               f"ORDER BY DISTANCE(embedding, NeuralArray('{r['q']}')) AS dist ASC, doc_id ASC "
               f"LIMIT {K}")
        with self.tracer.span("vsql.translate"):
            spark_sql = self.dialect.translate(sql)
        with self.tracer.span("knn.build"):
            df = self.spark.sql(spark_sql)
        rows = self._knn_exec(df, ["doc_id", "lang", "dist"])
        mask = (self.lang == r["lang"]) & (self.n_chars > r["min_chars"])
        return "vsql", rows, lambda: self._check(rows, mask, r["q"])

    def _selfq(self, r):
        from chatdata_spark.catalog import AttributeInfo
        from chatdata_spark.operators.knn import knn
        from chatdata_spark.plans import self_query as sq

        attrs = [AttributeInfo("source", "string"), AttributeInfo("n_chars", "int")]
        ast = sq.and_(sq.in_("source", r["sources"]), sq.gte("n_chars", r["min_chars"]))
        with self.tracer.span("selfquery.compile"):
            where = sq.SelfQueryCompiler(attrs).compile(ast)
        qv = self.embed(r["q"])
        with self.tracer.span("knn.build"):
            df = knn(self.spark.read.parquet(self.path), "embedding", qv, k=K, where=where,
                     select=["doc_id", "source"], id_col="doc_id")
        rows = self._knn_exec(df, ["doc_id", "source", "dist"])
        mask = np.isin(self.source, r["sources"]) & (self.n_chars >= r["min_chars"])
        return "selfq", rows, lambda: self._check(rows, mask, r["q"])

    def _ivf(self, r):
        part = r["kind"] == "ivf_part"
        sql = (f"SELECT doc_id FROM corpus WHERE n_chars > {r['min_chars']} "
               f"ORDER BY DISTANCE(embedding, NeuralArray('{r['q']}')) AS dist ASC, doc_id ASC "
               f"LIMIT {K}")
        with self.tracer.span("router.execute"):
            df = (self.router_part if part else self.router).execute(self.spark, sql)
        rows = self._knn_exec(df, ["doc_id", "dist"])

        def check():
            mask = self.n_chars > r["min_chars"]
            if part:
                probes = oracle.rank_centroids(self.centroids, oracle.embed(r["q"]))
                mask &= np.isin(self.cluster, probes[:PARTIAL_PROBE])
            return self._check(rows, mask, r["q"])

        return r["kind"], rows, check

    def _check(self, rows, mask, q):
        qv = oracle.embed(q)
        return oracle.check_topk([(x[0], x[-1]) for x in rows], self.ids[mask],
                                 oracle.cos_dist(self.emb[mask], qv), K)

    def _funnel(self, r):
        from pyspark.sql import functions as F

        from chatdata_spark.operators.mmr import mmr_select
        from chatdata_spark.operators.textsearch import bm25_topk, rerank_topk, rrf_fuse, with_rank

        tr, spark, q = self.tracer, self.spark, r["q"]
        cache0 = SparkEngine.cache_mb(spark) if tr.enabled else 0.0
        with tr.span("funnel.build"):
            d = spark.read.parquet(self.path)
            with tr.span("funnel.ann"):
                kn = self.router.execute(
                    spark,
                    f"SELECT doc_id FROM corpus ORDER BY DISTANCE(embedding, NeuralArray('{q}')) "
                    f"AS dist ASC, doc_id ASC LIMIT 60")
                kn = with_rank(kn.select("doc_id", "dist"), [F.asc("dist"), F.asc("doc_id")])
            with tr.span("funnel.bm25"):
                bm = with_rank(
                    bm25_topk(d, "doc_id", "text", q.split(), k=60, idf="rational"),
                    [F.desc("score"), F.asc("doc_id")])
            with tr.span("funnel.rrf"):
                fused = rrf_fuse([bm, kn], "doc_id", k0=60, k=30)
            with tr.span("funnel.rerank"):
                cand = F.broadcast(fused).join(d.select("doc_id", "text"), "doc_id")
                page_df = rerank_topk(cand, "doc_id", "text", q, k=20).select(
                    "doc_id", "rrf", "rerank_score")
        with tr.span("funnel.exec"):
            with tr.span("funnel.page"):
                page = page_df.localCheckpoint()
            with tr.span("funnel.mmr"):
                vecs = d.select("doc_id", "embedding").join(
                    F.broadcast(page.select("doc_id")), "doc_id")
                mmr = mmr_select(vecs, "embedding", self.embed(q), k=10, id_col="doc_id",
                                 fetch_n=20, lam=0.5)
            with tr.span("funnel.collect"):
                out = (mmr.join(F.broadcast(page), "doc_id")
                       .select("doc_id", "rrf", "rerank_score", "mmr_rank", "mmr_score")
                       .orderBy("mmr_rank").collect())
        if tr.enabled:
            tr.count("funnel.cache_mb_added", SparkEngine.cache_mb(spark) - cache0)
        rows = [tuple(x) for x in out]
        return "funnel", rows, lambda: oracle.check_rows(
            rows, oracle.funnel(q, self.ids, self.c["text"], self.emb, self.bm25))

    def report(self, harness) -> dict:
        from perfbench.runtime import timing

        return {
            "req_s": timing(harness.all_samples(self.kinds)),
            "knn_s": timing(harness.all_samples(["vsql", "selfq", "ivf_full", "ivf_part"])),
            "funnel_s": timing(harness.all_samples(["funnel"])),
        }


class RagServe:
    """The workload: retrieval requests and knowledge-base ops alternate.

    There is no separate warm-up: the first of the two measured cycles runs
    every op kind cold, and the cycle figures take each kind's faster sample,
    which is the warm one unless a hiccup hit it. Two cycles, not more,
    because a run must fit the time the benchmark allows it."""

    name = "rag_serve"
    min_cycles = 2

    def __init__(self, spark, tracer, root: str, seed: int):
        from perfbench.kb_ingest import KbIngest

        self.retrieval = Retrieval(spark, tracer, root, seed)
        self.kb = KbIngest(spark, tracer, root, seed)

    def setup(self, root: str, timings: dict) -> None:
        kb: dict = {}
        self.retrieval.setup(root, timings)
        self.kb.setup(root, kb)
        timings["gen.inputs_s"] += kb["gen.inputs_s"]
        timings["store.build_s"] = kb["store.build_s"]

    def inputs(self) -> dict:
        return {"corpus": self.retrieval.inputs(), "kb": self.kb.inputs()}

    def cycle(self):
        """One op of every kind: retrieval requests alternate with
        knowledge-base ops, and the cycle ends with the drain."""
        return interleave(self.retrieval.cycle(), self.kb.cycle())

    def context(self) -> dict:
        return self.kb.context()

    def report(self, harness) -> dict:
        return {**self.retrieval.report(harness), **self.kb.report(harness)}


def interleave(a: list, b: list) -> list:
    out = [x for pair in zip(a, b) for x in pair]
    n = min(len(a), len(b))
    return out + a[n:] + b[n:]

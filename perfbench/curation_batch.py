"""curation_batch: the LLM-data curation pipeline as one batch job per pass.

Input: a seeded base corpus with planted exact copies, near-duplicates and
boilerplate, replicated into key-disjoint, word-perturbed copies (the
tools/gen_sf10x.py recipe), written as multi-file parquet; a seeded
doc→doc link table; a benchmark set that quotes some documents.

One pass runs eight stages in order, each writing parquet for the next:
quality flags (operators.repetition) → exact_dedup → minhash_lsh_pairs →
canonical_assignment → remove_duplicated_spans → decontaminate →
trustrank → train_val_test_split. The first pass is checked stage by
stage against plain Python; every later pass must reproduce its digests.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.tracing import SparkEngine

N_BASE = 250
REPS = 4
N_SEEDS = 16


@dataclass
class Inputs:
    """One generated curation input set and the first pass's digests."""

    paths: dict
    docs: dict
    links: dict
    bench: list
    seeds: np.ndarray
    near: list
    bytes: int
    first: dict | None = None


def make_inputs(seed: int, root: str, n_base: int, tag: str) -> Inputs:
    base = gen.curation_base(gen.rng_for(seed, f"{tag}_corpus"), n_base)
    docs = gen.replicate(base, REPS)
    lk = gen.links(gen.rng_for(seed, f"{tag}_links"), docs["doc_id"])
    bench = gen.eval_set(gen.rng_for(seed, f"{tag}_eval"), docs["text"], base["words"])
    seeds = gen.rng_for(seed, f"{tag}_seeds").choice(docs["doc_id"], N_SEEDS, replace=False)
    paths = {k: os.path.join(root, tag, k) for k in ("docs", "links", "bench", "seeds")}
    nbytes = gen.write_parquet(gen.table(docs, ["doc_id", "text", "lang", "source"]),
                               paths["docs"], REPS)
    nbytes += gen.write_parquet(gen.table(lk, ["src", "dst"]), paths["links"], 2)
    gen.write_parquet(gen.table({"text": bench}, ["text"]), paths["bench"])
    gen.write_parquet(gen.table({"node": seeds}, ["node"]), paths["seeds"])
    near = [(i + r * gen.OFFSET, j + r * gen.OFFSET) for r in range(REPS) for i, j in base["near"]]
    return Inputs(paths, docs, lk, bench, seeds, near, nbytes)


class CurationBatch:
    """A pass is a batch job: it runs cold, in the run's fresh JVM, with no
    warm-up pass before it."""

    name = "curation_batch"
    min_cycles = 1

    def __init__(self, spark, tracer, root: str, seed: int):
        self.spark, self.tracer, self.root, self.seed = spark, tracer, root, seed
        self.passes = 0

    # -- setup -------------------------------------------------------------------
    def setup(self, root: str, timings: dict) -> None:
        t0 = time.perf_counter()
        self.main = make_inputs(self.seed, root, N_BASE, "curation")
        timings["gen.inputs_s"] = time.perf_counter() - t0

    def inputs(self) -> dict:
        m = self.main
        return {"docs": len(m.docs["doc_id"]), "rows": len(m.docs["doc_id"]),
                "links": len(m.links["src"]), "files": REPS, "bytes": m.bytes}

    def cycle(self):
        return [("pass", lambda: self._pass(self.main))]

    # -- one pass ------------------------------------------------------------------
    def _pass(self, inp: Inputs):
        from pyspark.sql import functions as F

        from chatdata_spark.operators.components import canonical_assignment
        from chatdata_spark.operators.decontam import decontaminate
        from chatdata_spark.operators.dedup import _spread, exact_dedup, minhash_lsh_pairs
        from chatdata_spark.operators.graph import trustrank
        from chatdata_spark.operators.repetition import ngram_repetition_stats, repetition_fail_flags
        from chatdata_spark.operators.sampling import train_val_test_split
        from chatdata_spark.operators.substrdedup import remove_duplicated_spans

        spark, tr = self.spark, self.tracer
        self.passes += 1
        out = os.path.join(self.root, f"pass{self.passes}")
        st = {s: os.path.join(out, s) for s in ("quality", "exact_dedup", "minhash", "components",
                                                "substr", "decontam", "trustrank", "split")}
        read = spark.read.parquet

        def stage(name, build):
            """Plan the stage (operators may run jobs while planning) and
            write its output for the next stage."""
            with tr.span(f"curate.{name}"):
                build().write.parquet(st[name])
            if tr.enabled:
                tr.count("curate.cache_mb", SparkEngine.cache_mb(spark))

        def quality():
            d = _spread(read(inp.paths["docs"]))
            w = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
            s = d.select("doc_id", "text", ngram_repetition_stats(w).alias("s"))
            fail = sum(repetition_fail_flags("s").values()) > 0
            return s.select("doc_id", "text", fail.alias("q_fail"))

        stage("quality", quality)
        stage("exact_dedup", lambda: exact_dedup(
            read(st["quality"]).filter(~F.col("q_fail")).select("doc_id", "text"),
            ["text"], "doc_id"))
        uniq = lambda: read(st["exact_dedup"])  # noqa: E731
        stage("minhash", lambda: minhash_lsh_pairs(uniq(), "doc_id", "text"))
        stage("components", lambda: canonical_assignment(uniq(), "doc_id", read(st["minhash"])))
        stage("substr", lambda: remove_duplicated_spans(
            uniq().join(read(st["components"]).filter("keep").select("doc_id"), "doc_id"),
            "doc_id", "text"))
        stage("decontam", lambda: decontaminate(
            read(st["substr"]).select("doc_id", F.col("text_dedup").alias("text")),
            read(inp.paths["bench"])))
        stage("trustrank", lambda: trustrank(read(inp.paths["links"]), read(inp.paths["seeds"])))
        stage("split", lambda: train_val_test_split(
            read(st["decontam"]).filter(~F.col("contaminated")).select("doc_id"), "doc_id"))
        # the check fills ``rows`` with the stage digests; the harness
        # folds them into the run's output digest after the check
        rows: list = []
        return "pass", rows, lambda: self._check(inp, out, st, rows)

    # -- checks ----------------------------------------------------------------------
    def _check(self, inp: Inputs, out: str, st: dict, rows: list) -> list[str]:
        tabs = {k: pq.read_table(v).to_pydict() for k, v in st.items()}
        self.tracer.count("curate.lsh_pairs", len(tabs["minhash"]["i"]))
        digests = {k: oracle.digest(zip(*[t[c] for c in sorted(t)])) for k, t in tabs.items()}
        rows.extend(sorted(digests.items()))
        try:
            if inp.first is None:
                inp.first = digests
                return self._check_stages(inp, tabs)
            return [f"stage {k} differs from the checked pass" for k in digests
                    if digests[k] != inp.first[k]]
        finally:
            from perfbench.runtime import remove_tree

            remove_tree(out)

    def _check_stages(self, inp: Inputs, t: dict) -> list[str]:
        from chatdata_spark.operators.repetition import DUP_NGRAM_RULES, TOP_NGRAM_RULES, repetition_stats_py

        probs: list[str] = []
        ids, texts = inp.docs["doc_id"], inp.docs["text"]
        text_of = dict(zip(ids.tolist(), texts))

        def fails(text):
            s = repetition_stats_py(oracle.tokens(text))
            return any(s[f] * 100 > s["total"] * p for f, _n, p in TOP_NGRAM_RULES + DUP_NGRAM_RULES)

        q = dict(zip(t["quality"]["doc_id"], t["quality"]["q_fail"]))
        if q != {i: fails(text_of[i]) for i in ids.tolist()}:
            probs.append("quality flags differ")
        first = {}
        for i in sorted(i for i, f in q.items() if not f):
            first.setdefault(text_of[i], i)
        uniq = sorted(first.values())
        if sorted(t["exact_dedup"]["doc_id"]) != uniq:
            probs.append("exact_dedup kept set differs")

        sh = {i: oracle.shingles(text_of[i]) for i in uniq}
        pairs = list(zip(t["minhash"]["i"], t["minhash"]["j"], t["minhash"]["jaccard"]))
        for i, j, jac in pairs:
            if not (i < j and i in sh and j in sh) or abs(oracle.jaccard(sh[i], sh[j]) - jac) > oracle.TOL \
                    or jac < 0.4:
                probs.append(f"minhash pair ({i}, {j}, {jac}) wrong")
                break
        found = {(i, j) for i, j, _ in pairs}
        for a, b in inp.near:
            i, j = min(a, b), max(a, b)
            if i in sh and j in sh and oracle.jaccard(sh[i], sh[j]) >= 0.6 and (i, j) not in found:
                probs.append(f"near-duplicate pair ({i}, {j}) missed")
                break

        comp = oracle.components(uniq, [(i, j) for i, j, _ in pairs])
        if dict(zip(t["components"]["doc_id"], t["components"]["canonical_id"])) != comp:
            probs.append("canonical assignment differs")
        kept = sorted(i for i in uniq if comp[i] == i)

        sub = t["substr"]
        drops = dict(zip(kept, oracle.dup_span_drops([text_of[i] for i in kept])))
        got = {i: (nw, nd, td) for i, nw, nd, td in
               zip(sub["doc_id"], sub["n_words"], sub["n_dropped"], sub["text_dedup"])}
        if sorted(got) != kept:
            probs.append("substring dedup rows differ")
        for i in kept:
            nw, nd, td = got.get(i, (None, None, ""))
            if nw != len(oracle.tokens(text_of[i])) or nd != drops[i] or \
                    len(td.split()) != nw - nd:
                probs.append(f"substring dedup of doc {i} differs")
                break

        con = oracle.contaminated([got[i][2] for i in kept], inp.bench)
        exp_con = {i for i, c in zip(kept, con) if c}
        dc = t["decontam"]
        if {i for i, c in zip(dc["doc_id"], dc["contaminated"]) if c} != exp_con \
                or sorted(dc["doc_id"]) != kept:
            probs.append("decontamination differs")

        tr = oracle.trustrank_fp(inp.links["src"], inp.links["dst"], inp.seeds)
        if dict(zip(t["trustrank"]["node"], t["trustrank"]["rank_fp"])) != tr:
            probs.append("trustrank differs")

        exp_split = {i: oracle.split_of(i) for i in kept if i not in exp_con}
        if dict(zip(t["split"]["doc_id"], t["split"]["split"])) != exp_split:
            probs.append("split differs")
        return probs

    # -- results -------------------------------------------------------------------
    def context(self) -> dict:
        return {}

    def report(self, harness) -> dict:
        passes = harness.all_samples()
        return {"docs_per_s": {"value": len(self.main.docs["doc_id"]) / min(passes),
                               "unit": "docs/s", "n": len(passes)}}

"""Per-layer metrics of a traced run, and the end-to-end metric each
should move (see perfbench/README.md for the full map).

Every metric is computed on every workload; a layer the workload never
calls reports 0 (no spans, no work). Times are per call: the median span
duration. Engine counters (jobs, tasks, …) are per call too: the sum over
the jobs submitted inside the spans, divided by the number of spans.
"""

from __future__ import annotations

from perfbench.stats import median

CURATE_STAGES = ("quality", "exact_dedup", "minhash", "components", "substr",
                 "decontam", "trustrank", "split")
DRAINS = ("cms", "moments", "hll", "upsert")


class View:
    """Read-only helpers over a finished traced run."""

    def __init__(self, tracer, harness, ctx: dict):
        self.t, self.h, self.ctx = tracer, harness, ctx
        self.agg = tracer.by_name()

    def n(self, name: str) -> int:
        return self.agg.get(name, {}).get("n", 0)

    def med(self, name: str, scale: float = 1.0) -> float:
        a = self.agg.get(name)
        return median(a["durs"]) * scale if a else 0.0

    def per_call(self, name: str, key: str) -> float:
        a = self.agg.get(name)
        return a["engine"].get(key, 0.0) / a["n"] if a else 0.0

    def subtree_per_call(self, name: str, key: str) -> float:
        n = self.n(name)
        return self.t.subtree_engine(name).get(key, 0.0) / n if n else 0.0

    def ratio(self, num: str, den: str) -> float:
        d = self.t.counts.get(den, 0.0)
        return self.t.counts.get(num, 0.0) / d if d else 0.0

    def count_per(self, num: str, span: str) -> float:
        n = self.n(span)
        return self.t.counts.get(num, 0.0) / n if n else 0.0

    def engine_total(self, key: str) -> float:
        return sum(a["engine"].get(key, 0.0) for a in self.agg.values())

    def per_op(self, key: str) -> float:
        ops = len(self.h.all_samples())
        return self.engine_total(key) / ops if ops else 0.0


def _scan_rows_per_row_out(v: View) -> float:
    """Rows the scans of the kNN collects read per row they returned."""
    scanned = sum(rows for s in v.t.spans if s.name == "knn.exec"
                  for name, _desc, rows in s.sql if name.startswith("Scan"))
    out = v.t.counts.get("knn.rows_out", 0.0)
    return scanned / out if out else 0.0


def _lsh_candidates_per_pair(v: View) -> float:
    """Candidate pairs the LSH banding proposed (output rows of the
    distinct aggregate over (i, j) in the minhash stage's plan) per
    verified pair written."""
    cands = [rows for s in v.t.spans if s.name == "curate.minhash" for name, desc, rows in s.sql
             if name == "HashAggregate" and "keys=[i#" in desc and ", j#" in desc
             and "functions=[]" in desc]
    pairs = v.t.counts.get("curate.lsh_pairs", 0.0)
    return min(cands) / pairs if cands and pairs else 0.0


def _curate_util(v: View) -> float:
    wall = v.agg.get("pass", {}).get("total_s", 0.0)
    task = v.t.subtree_engine("pass").get("task_s", 0.0)
    return task / (wall * v.ctx["nproc"]) if wall else 0.0


# end-to-end metrics of every workload (name, unit), in CPU seconds of the
# engine (JVM, Python workers, the client's plan building); see run.py
E2E = [("setup_s", "s"), ("cycle_cpu_s", "s")]

# (name, unit, better, value(View))
PER_LAYER = [
    ("session.start_s", "s", "lower", lambda v: v.ctx["session.start_s"]),
    ("gen.inputs_s", "s", "lower", lambda v: v.ctx.get("gen.inputs_s", 0.0)),
    ("ivf.build_s", "s", "lower", lambda v: v.ctx.get("ivf.build_s", 0.0)),
    ("store.build_s", "s", "lower", lambda v: v.ctx.get("store.build_s", 0.0)),
    ("warmup_s", "s", "lower", lambda v: v.ctx["warmup_s"]),
    ("vsql.translate_ms", "ms", "lower", lambda v: v.med("vsql.translate", 1e3)),
    ("selfquery.compile_ms", "ms", "lower", lambda v: v.med("selfquery.compile", 1e3)),
    ("embed.query_ms", "ms", "lower", lambda v: v.med("embed.query", 1e3)),
    ("router.execute_ms", "ms", "lower", lambda v: v.med("router.execute", 1e3)),
    ("knn.build_ms", "ms", "lower", lambda v: v.med("knn.build", 1e3)),
    ("knn.exec_ms", "ms", "lower", lambda v: v.med("knn.exec", 1e3)),
    ("knn.jobs", "count", "lower", lambda v: v.per_call("knn.exec", "jobs")),
    ("knn.tasks", "count", "lower", lambda v: v.per_call("knn.exec", "tasks")),
    ("knn.rows_scanned_per_row_out", "ratio", "lower", _scan_rows_per_row_out),
    ("funnel.build_ms", "ms", "lower", lambda v: v.med("funnel.build", 1e3)),
    ("funnel.exec_ms", "ms", "lower", lambda v: v.med("funnel.exec", 1e3)),
    ("funnel.jobs", "count", "lower", lambda v: v.subtree_per_call("funnel", "jobs")),
    ("funnel.stages", "count", "lower", lambda v: v.subtree_per_call("funnel", "stages")),
    ("funnel.tasks", "count", "lower", lambda v: v.subtree_per_call("funnel", "tasks")),
    *[(f"funnel.{s}_ms", "ms", "lower", (lambda s: lambda v: v.med(f"funnel.{s}", 1e3))(s))
      for s in ("ann", "bm25", "rrf", "rerank", "page", "mmr", "collect")],
    ("funnel.cache_mb_added", "MB", "lower",
     lambda v: v.count_per("funnel.cache_mb_added", "funnel")),
    *[(f"curate.{s}_s", "s", "lower", (lambda s: lambda v: v.med(f"curate.{s}"))(s))
      for s in CURATE_STAGES],
    ("curate.components.jobs", "count", "lower",
     lambda v: v.per_call("curate.components", "jobs")),
    ("curate.trustrank.jobs", "count", "lower",
     lambda v: v.per_call("curate.trustrank", "jobs")),
    ("curate.lsh_candidates_per_pair", "ratio", "lower", _lsh_candidates_per_pair),
    ("curate.cpu_util", "ratio", "higher", _curate_util),
    ("curate.shuffle_write_mb", "MB", "lower",
     lambda v: v.subtree_per_call("pass", "shuffle_write_mb")),
    ("curate.spill_mb", "MB", "lower", lambda v: v.subtree_per_call("pass", "spill_mb")),
    ("curate.cache_mb_after_stage", "MB", "lower",
     lambda v: v.count_per("curate.cache_mb", "pass") / len(CURATE_STAGES)),
    ("kb.embed_ms", "ms", "lower", lambda v: v.med("kb.embed", 1e3)),
    ("kb.upsert_s", "s", "lower", lambda v: v.med("kb.upsert")),
    ("store.bytes_written_per_op", "bytes", "lower",
     lambda v: v.ratio("store.bytes_written", "store.writes")),
    ("store.files_per_version", "count", "lower",
     lambda v: v.ratio("store.files_written", "store.writes")),
    ("store.versions_retained", "count", "lower", lambda v: v.ctx.get("versions_retained", 0)),
    ("store.read_ms", "ms", "lower", lambda v: v.med("store.read", 1e3)),
    ("kb.private_knn_ms", "ms", "lower", lambda v: v.med("kb.private_knn", 1e3)),
    *[(f"stream.drain_s.{d}", "s", "lower", (lambda d: lambda v: v.med(f"stream.{d}"))(d))
      for d in DRAINS],
    ("stream.batches_per_drain", "count", "lower",
     lambda v: v.ratio("stream.batches", "stream.drains")),
    ("stream.jobs_per_batch", "count", "lower",
     lambda v: sum(v.t.subtree_engine(f"stream.{d}").get("jobs", 0.0) for d in DRAINS)
     / max(1.0, v.t.counts.get("stream.batches", 0.0))),
    ("spark.jobs", "count", "lower", lambda v: v.per_op("jobs")),
    ("spark.task_s", "s", "lower", lambda v: v.per_op("task_s")),
    ("spark.shuffle_write_mb", "MB", "lower", lambda v: v.per_op("shuffle_write_mb")),
    ("spark.spill_mb", "MB", "lower", lambda v: v.per_op("spill_mb")),
    ("spark.failed_tasks", "count", "lower", lambda v: v.engine_total("failed_tasks")),
    ("jvm.gc_s", "s", "lower", lambda v: v.ctx["gc_s_per_op"]),
    ("cache_mb_after", "MB", "lower", lambda v: v.ctx["cache_mb_after"]),
    # per layer, not end to end: G1 heap growth and forked Python workers
    # (shared pages counted once per process) move it up to 2x run to run
    ("peak_rss_mb", "MB", "lower", lambda v: v.ctx["peak_rss_mb"]),
    # the traced run's cycle times: minus the untraced run's, the overhead
    ("trace.cycle_cpu_s", "s", "lower", lambda v: v.ctx["cycle_cpu_s"]),
    ("trace.cycle_wall_s", "s", "lower", lambda v: v.ctx["cycle_wall_s"]),
]


def compute(tracer, harness, ctx: dict) -> dict[str, dict]:
    v = View(tracer, harness, ctx)
    return {name: {"value": float(fn(v)), "unit": unit} for name, unit, _b, fn in PER_LAYER}


def self_times(tracer) -> dict[str, dict]:
    """Per span name: calls, total and self seconds (the run record)."""
    return {name: {"n": a["n"], "total_s": round(a["total_s"], 6),
                   "self_s": round(a["self_s"], 6)}
            for name, a in tracer.by_name().items()}

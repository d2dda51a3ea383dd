"""Spans and counts recorded around the benchmark's calls into the library.

A span is (name, start, end, parent, op id). Spans live in memory and are
written out when the run ends. With tracing off, ``span`` and ``count`` do
nothing, so the untraced run pays no bookkeeping.

``SparkEngine`` adds what the engine itself knows about a span: the Spark
jobs submitted while it was open, and after the run the status store is
read for them (jobs, stages, tasks, task time, shuffle write, spill,
failed tasks). Jobs are attributed by job-id range, not by job group:
streaming drains run their batches under the query's own group. The
client is single-threaded, so a job belongs to the innermost span open
when it was submitted. ``SparkEngine`` also reads executed-plan SQL
metrics and the JVM's GC MXBeans. The library is not instrumented.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float | None = None
    jobs: tuple[int, int] = (0, 0)  # [first, end) of the job ids submitted inside
    engine: dict = field(default_factory=dict)
    sql: list = field(default_factory=list)  # (node, description, output rows)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals`` (clipped)."""
    pts = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in pts:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """sid → the span's duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.sid: s.dur - covered(s.start, s.start + s.dur, kids.get(s.sid, []))
        for s in spans
    }


class Tracer:
    def __init__(self, enabled: bool, engine: "SparkEngine | None" = None):
        self.enabled = enabled
        self.engine = engine
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._op, parent, 0.0)
        self.spans.append(s)
        j0 = self.engine.next_job() if self.engine else 0
        self._stack.append(s.sid)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.engine:
                s.jobs = (j0, self.engine.next_job())
                self.engine.traced.append(s)

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    # -- aggregation ---------------------------------------------------------
    def by_name(self) -> dict[str, dict]:
        """name → {n, total_s, self_s, durs} over all finished spans, with
        engine counters summed over each span's own jobs."""
        selfs = self_times(self.spans)
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.end is None:
                continue
            agg = out.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0,
                                          "durs": [], "engine": defaultdict(float)})
            agg["n"] += 1
            agg["total_s"] += s.dur
            agg["self_s"] += selfs[s.sid]
            agg["durs"].append(s.dur)
            for k, v in s.engine.items():
                agg["engine"][k] += v
        return out

    def subtree_engine(self, name: str) -> dict[str, float]:
        """Engine counters summed over every span named ``name`` and all of
        its descendants (a request's jobs include its sub-layers' jobs)."""
        kids: dict[int, list[int]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s.sid)
        tot: dict[str, float] = defaultdict(float)
        todo = [s.sid for s in self.spans if s.name == name]
        while todo:
            sid = todo.pop()
            for k, v in self.spans[sid].engine.items():
                tot[k] += v
            todo.extend(kids[sid])
        return tot

    def records(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {"sid": s.sid, "name": s.name, "op_id": s.op_id, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": selfs[s.sid], **s.engine,
             **({"sql": s.sql} if s.sql else {})}
            for s in self.spans
        ]


class SparkEngine:
    """Engine-side counters per span, read from outside the library."""

    # spans whose SQL plan nodes are kept: per-node output rows give rows
    # scanned per row returned, and the execution share of work planned
    # lazily elsewhere (BM25 inside the funnel's page, the candidate join
    # inside the minhash stage)
    SQL_SPANS = frozenset({"knn.exec", "funnel.page", "funnel.collect", "curate.minhash"})

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.jvm = spark._jvm
        self.traced: list[Span] = []

    def next_job(self) -> int:
        """The id the scheduler will give the next submitted job."""
        return self.jsc.dagScheduler().numTotalJobs()

    def settle(self, timeout_ms: int = 10000) -> None:
        """Wait until the listener bus has delivered every event, then fill
        each traced span's engine counters with its own jobs: those in its
        id range and in no child's range."""
        self.jsc.listenerBus().waitUntilEmpty(timeout_ms)
        store = self.jsc.statusStore()
        child_jobs: dict[int, set[int]] = defaultdict(set)
        for s in self.traced:
            if s.parent is not None:
                child_jobs[s.parent].update(range(*s.jobs))
        for s in self.traced:
            own = [j for j in range(*s.jobs) if j not in child_jobs[s.sid]]
            e = {"jobs": len(own), "stages": 0, "tasks": 0, "task_s": 0.0,
                 "shuffle_write_mb": 0.0, "spill_mb": 0.0, "failed_tasks": 0}
            for j in own:
                info = self.tracker.getJobInfo(j)
                if info is None:
                    continue
                for st in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(st)
                    except Exception:  # stage skipped: never attempted
                        continue
                    e["stages"] += 1
                    e["tasks"] += sd.numTasks()
                    e["failed_tasks"] += sd.numFailedTasks()
                    e["task_s"] += sd.executorRunTime() / 1e3
                    e["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                    e["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            s.engine = e
        self._attach_sql()

    def _attach_sql(self) -> None:
        """Executed-plan SQL metrics, from the SQL status store, for the
        SQL_SPANS: every plan node of every SQL execution whose jobs ran
        inside the span, with its output rows."""
        want = [s for s in self.traced if s.name in self.SQL_SPANS]
        if not want:
            return
        it = self.sql_store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs, ki = [], ex.jobs().keysIterator()
            while ki.hasNext():
                jobs.append(ki.next())
            span = next((s for s in want if jobs and s.jobs[0] <= min(jobs) < s.jobs[1]), None)
            if span is None:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            nodes = self.sql_store.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                rows, mi = None, node.metrics().iterator()
                while mi.hasNext():
                    m = mi.next()
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v.isDefined():
                        rows = int(v.get().replace(",", ""))
                if rows is not None:
                    span.sql.append((node.name(), node.desc()[:160], rows))

    # -- JVM and storage -----------------------------------------------------
    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    @staticmethod
    def cache_mb(spark) -> float:
        """Memory and disk held by persisted or checkpointed RDD blocks."""
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

"""Run plumbing: pinned session, per-run scratch root, RSS sampling, the
ambient-load sentinel, the closed-loop op harness, and clean shutdown."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict

from perfbench.oracle import Digest
from perfbench.stats import summarize


def machine() -> dict:
    """nproc, MemTotal and the driver heap this run pins."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_gb = max(1, min(4, mem_kb // 2**20 // 5))
    return {"nproc": nproc, "mem_total_gb": round(mem_kb / 2**20, 2), "heap": f"{heap_gb}g"}


def git_commit(root: str) -> str:
    """The checkout's commit, read from ``root/.git`` only (never from a
    parent directory), or 'unknown' when the checkout is not a repository."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.exists(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def start_session(scratch: str, mach: dict):
    """The library's tuned session, pinned to this machine, with every
    file Spark writes kept under ``scratch``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(mach["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mach["heap"]
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    from chatdata_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.local.dir": os.path.join(scratch, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store for the per-span read
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        for c in _children(p):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and of its reaped children.
    Time the hypervisor steals from the VM is not in it."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / CLK_TCK  # utime stime cutime cstime


# a measured window in which the hypervisor took more than this share of
# the VM's CPU time ran on a contended machine
CONTENDED = 0.05


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # guest and guest_nice (fields 9-10) are already inside user and nice
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks[:8])


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time between two ``cpu_ticks()`` readings that the
    hypervisor gave to other guests."""
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM and every process under it
    (the Python workers), sampled from /proc. The benchmark's own process,
    which holds the inputs and expected answers, is left out.

    ``cpu_s()`` is the CPU the engine has used so far: the JVM and its
    workers, plus this process, where the library's Python plan building
    runs."""

    def __init__(self, jvm_pid: int, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.jvm_pid, self.period_s = jvm_pid, period_s
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def pids(self) -> list[int]:
        return [self.jvm_pid, *descendants(self.jvm_pid)]

    def sample(self) -> float:
        total = sum(rss_mb(p) for p in self.pids())
        self.peak = max(self.peak, total)
        return total

    def cpu_s(self) -> float:
        # the process list is read afresh, so a worker forked since the
        # last call is counted; one that has exited moved its CPU into the
        # daemon's reaped-children time, which is counted too
        return time.process_time() + sum(cpu_s(p) for p in self.pids())

    def run(self) -> None:
        while not self._stop_evt.wait(self.period_s):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sample()
        return self.peak


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM and its Python workers; wait for
    each to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 15
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except ProcessLookupError:
            pass


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Harness:
    """Closed loop, one client: each op starts when the previous ended.

    ``op(kind, fn)`` times ``fn()`` in wall and CPU seconds; ``fn``
    returns ``(label, rows, check)``; ``check()`` runs after the clock stops and returns a list of
    problems. A raised exception or a problem counts the op as failed. In
    a traced run every recorded op is traced."""

    def __init__(self, tracer, traced_run: bool, cpu):
        self.tracer = tracer
        self.traced_run = traced_run
        self.cpu = cpu
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cpu_samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.digest = Digest()

    def op(self, kind: str, fn) -> float:
        self.tracer.enabled = self.traced_run
        self.tracer.new_op()
        self.attempted += 1
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            with self.tracer.span(kind):
                label, rows, check = fn()
        except Exception:  # an op that raises is a failed op, not a crash
            err = traceback.format_exc(limit=3)
            label, rows, check = kind, [], lambda: [err]
        dt = time.perf_counter() - t0
        self.cpu_samples[kind].append(self.cpu() - c0)
        probs = check()  # off the clock; may still record counts
        self.tracer.enabled = False
        self.samples[kind].append(dt)
        if probs:
            self.failed += 1
            if len(self.problems) < 10:
                self.problems.append(f"{kind}: {probs[0]}")
                print(f"[perfbench] FAILED {kind}: {probs[0]}", file=sys.stderr)
        else:
            self.digest.add(label, rows)
        return dt

    def all_samples(self, kinds: list[str] | None = None) -> list[float]:
        return [x for k, xs in self.samples.items() if kinds is None or k in kinds for x in xs]


class Sentinel:
    """The ambient-load sentinel: an exact kNN top-10 over a fixed
    2000-row embedding table, timed at the start and the end of every run
    and checked like any answer. A reading far off its usual value marks
    a run taken while the machine was contended."""

    ROWS = 2000

    def __init__(self, spark, root: str, seed: int):
        from perfbench import gen, oracle

        c = gen.corpus(gen.rng_for(seed, "sentinel"), self.ROWS)
        self.path = os.path.join(root, "sentinel")
        gen.write_parquet(gen.table(c, ["doc_id", "embedding"]), self.path)
        self.spark, self.emb, self.ids = spark, c["embedding"], c["doc_id"]
        self.q = oracle.embed("sentinel question")

    def __call__(self) -> tuple[float, list[str]]:
        from chatdata_spark.operators.knn import knn
        from perfbench import oracle

        t0 = time.perf_counter()
        rows = knn(self.spark.read.parquet(self.path), "embedding", list(map(float, self.q)),
                   k=10, select=["doc_id"], id_col="doc_id").collect()
        dt = time.perf_counter() - t0
        probs = oracle.check_topk([(r.doc_id, r.dist) for r in rows], self.ids,
                                  oracle.cos_dist(self.emb, self.q), 10)
        return dt, probs


def timing(samples: list[float], unit: str = "s", scale: float = 1.0) -> dict:
    """A timing metric for the run record: median, tail and sample count."""
    s = summarize(samples)
    return {"value": s["p50"] * scale if s["n"] else None, "unit": unit, "n": s["n"],
            "tail": s["tail"] * scale if s["tail"] is not None else None,
            "tail_pct": s["tail_pct"]}

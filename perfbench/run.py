"""Repository benchmark: one seeded workload, one process, one client.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 12 --trace 0

Run from the repository root. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The line
before it is the full run record (``perfbench-record {...}``): machine and
session pins, input sizes, the workload's own end-to-end metrics with
sample counts, the load sentinel, the output digest and, when traced,
per-span self times. ``--trace 1`` also writes every span to
``.perfbench_out/``.

Everything the run writes (inputs, indexes, stores, stream checkpoints,
Spark's local and warehouse dirs) lives under one scratch root in
``.perfbench_run/`` and is removed at exit. Exits 2 without a result when
the library is not importable from the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["rag_serve", "curation_batch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def workload(name: str):
    if name == "rag_serve":
        from perfbench.rag_serve import RagServe
        return RagServe
    from perfbench.curation_batch import CurationBatch
    return CurationBatch


def cycle_time(samples: dict[str, list[float]]) -> float:
    """What one cycle costs: over the op kinds of a cycle, the sum of each
    kind's smallest sample. Taking each kind's best sample drops the
    first, cold cycle and the hiccups (a GC pause, a worker start) that
    land on one op of one cycle."""
    return sum(min(v) for v in samples.values())


def warm_up_cost(samples: dict[str, list[float]]) -> float:
    """What the first cycle cost beyond a warm one: the sum over op kinds
    of first sample minus smallest sample. It counts as set-up, so work
    moved into first-call initialisation still shows. Zero when the
    workload runs a single cycle."""
    return sum(v[0] - min(v) for v in samples.values())


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("chatdata_spark") is None or importlib.util.find_spec("pyspark") is None:
        print("perfbench: chatdata_spark or pyspark is not importable from this checkout",
              file=sys.stderr)
        return 2

    from perfbench import layers, runtime
    from perfbench.layers import E2E
    from perfbench.stats import summarize
    from perfbench.tracing import SparkEngine, Tracer

    mach = runtime.machine()
    scratch = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = sampler = None
    try:
        cpu0, t0 = time.process_time(), time.perf_counter()
        spark = runtime.start_session(scratch, mach)
        session_s = time.perf_counter() - t0
        from pyspark import SparkContext

        sampler = runtime.RssSampler(SparkContext._gateway.proc.pid)
        sampler.start()
        engine = SparkEngine(spark)
        tracer = Tracer(False, engine if args.trace else None)
        wl = workload(args.workload)(spark, tracer, scratch, args.seed)

        timings: dict = {}
        wl.setup(scratch, timings)
        setup_cpu = sampler.cpu_s() - cpu0

        harness = runtime.Harness(tracer, bool(args.trace), sampler.cpu_s)
        sentinel = runtime.Sentinel(spark, scratch, args.seed)
        sentinel()  # its own first run is cold
        sent0, sprob0 = sentinel()

        # whole cycles: at least the workload's minimum, and --seconds
        gc0 = engine.gc_s()
        steal0 = runtime.cpu_ticks()
        n_cycles = 0
        t0 = time.perf_counter()
        while n_cycles < wl.min_cycles or time.perf_counter() - t0 < args.seconds:
            for kind, fn in wl.cycle():
                harness.op(kind, fn)
            n_cycles += 1
        window_s = time.perf_counter() - t0
        gc_s = engine.gc_s() - gc0
        steal = runtime.steal_frac(steal0, runtime.cpu_ticks())

        sent1, sprob1 = sentinel()
        cache_mb = SparkEngine.cache_mb(spark)
        if args.trace:
            engine.settle()
        peak = sampler.stop()

        n_ops = len(harness.all_samples())
        warmup_s = warm_up_cost(harness.samples)
        wall = {"setup_wall_s": session_s + sum(timings.values()) + warmup_s,
                "cycle_wall_s": cycle_time(harness.samples)}
        e2e = {"setup_s": setup_cpu + warm_up_cost(harness.cpu_samples),
               "cycle_cpu_s": cycle_time(harness.cpu_samples)}
        ctx = {"nproc": mach["nproc"], "session.start_s": session_s, "warmup_s": warmup_s,
               "peak_rss_mb": peak,
               "cache_mb_after": cache_mb, "gc_s_per_op": gc_s / max(1, n_ops),
               **wall, **e2e, **timings, **wl.context()}
        per_layer = layers.compute(tracer, harness, ctx) if args.trace else {}
        # the two sentinel readings count as ops
        failed = harness.failed + bool(sprob0) + bool(sprob1)
        attempted = harness.attempted + 2
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace,
            "machine": {**mach, "python": platform.python_version(),
                        "spark": spark.version, "commit": runtime.git_commit(ROOT)},
            "inputs": wl.inputs(),
            "loop": {"type": "closed", "clients": 1},
            "setup": {"session.start_s": session_s, **timings, "warmup_s": warmup_s},
            "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in E2E},
            "wall": {k: {"value": v, "unit": "s"} for k, v in wall.items()},
            "cycles": n_cycles,
            "ops": {k: summarize(v) for k, v in harness.samples.items()},
            "op_samples_s": dict(harness.samples),
            "ops_cpu": {k: summarize(v) for k, v in harness.cpu_samples.items()},
            "workload_metrics": {**wl.report(harness),
                                 "cache_mb_after": {"value": cache_mb, "unit": "MB"},
                                 "peak_rss_mb": {"value": peak, "unit": "MB"}},
            "failed_frac": failed / attempted,
            "sentinel_s": {"start": sent0, "end": sent1},
            # share of the measured window's CPU time the hypervisor stole:
            # a run above CONTENDED was taken on a contended machine
            "steal_frac": steal,
            "contended": steal > runtime.CONTENDED,
            "digest": harness.digest.hex(),
            "problems": harness.problems + sprob0 + sprob1,
            "window_s": window_s,
        }
        if args.trace:
            record["layers"] = layers.self_times(tracer)
            record["per_layer"] = per_layer
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(tracer.records(), f)
        print("perfbench-record " + json.dumps(record, default=float), flush=True)
        metrics = per_layer if args.trace else record["end_to_end"]
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        if spark is not None:
            runtime.stop_session(spark)
        runtime.remove_tree(scratch)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())

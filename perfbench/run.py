#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload render --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout (the program is imported from the
parent of this directory).  The run generates its inputs from ``--seed``
under ``.perfbench/`` in the checkout, starts a local Spark session sized
to the machine, sets the workload up, measures it (``render`` for
``--seconds``, ``pipeline`` for one pass), checks every output and
prints, as the last line of stdout::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run wraps the program's public calls in spans, gives every operation
its own Spark job group, reads Spark's per-group counters and prints the
per-layer metrics (plus its own end-to-end figures, for the tracing
overhead).  Every workload prints every metric; a layer the workload never
calls reports 0.  See README.md beside this file.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def prepare_env(work: str, trace: bool) -> None:
    """Environment the program reads at session start.  Python workers
    import the package through PYTHONPATH; every scratch path (Spark local
    dirs, JVM and Python temp files, warehouse, point stores) lives under
    ``work``; the JVM heap stays well under the machine's memory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{min(2048, _mem_total_mb() // 4)}m"
    env["SPARK_GRAFT_UI"] = "true" if trace else "false"
    env["SPARK_GRAFT_STORE_DIR"] = os.path.join(work, "store")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    # no hsperfdata file in the machine's /tmp either
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def heap_live_mb(spark) -> float:
    """Spark JVM heap still in use after a full collection, taken once
    set-up and warm-up are done: what the warmed program keeps (cached
    relations, broadcasts, catalog and status history).  Taken after the
    window instead, it would grow with the number of requests served.

    Python's collector runs first, so JVM objects only unreachable Python
    proxies still hold are released; then Spark's ContextCleaner gets time
    to drop the blocks of collected RDDs and broadcasts before the second
    full collection that is read."""
    gc.collect()
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    time.sleep(1.0)
    mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def stop_spark(spark) -> float:
    """Stop the session and its JVM, wait for the JVM to exit, and return
    the peak RSS (MB) of the Spark JVM plus this Python process."""
    from pyspark import SparkContext

    peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            peak_kb += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    return peak_kb / 1024.0


def make_workload(name: str, spark, data_dir: str, seed: int, tracer):
    if name == "render":
        from perfbench.render import Render

        return Render(spark, data_dir, seed, tracer)
    from perfbench.pipeline import Pipeline

    return Pipeline(spark, data_dir, tracer)


def run(args, work: str) -> dict:
    from perfbench import pipeline, render
    from perfbench.gen import write_tables
    from perfbench.stats import median

    tables = render.TABLES if args.workload == "render" else pipeline.TABLES
    data_dir = os.path.join(work, "data")
    write_tables(data_dir, args.seed, **tables)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data_dir

    t0 = time.perf_counter()
    from biggraphite_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer()
        wl = make_workload(args.workload, spark, data_dir, args.seed, tracer)
        reps = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        setup_s = session_s + median(reps) + (time.perf_counter() - t0)
        heap_mb = heap_live_mb(spark) if tracer is not None else None
        if tracer is not None and hasattr(wl, "instrument"):
            wl.instrument()
        t0 = time.perf_counter()
        wl.run(args.seconds)
        if tracer is not None:
            tracer.restore()
        t1 = time.perf_counter()
        problems = wl.check()
        print(f"perfbench: session {session_s:.1f}s, set-up {' '.join(f'{r:.1f}' for r in reps)}s, "
              f"measured {t1 - t0:.1f}s, checks {time.perf_counter() - t1:.1f}s",
              file=sys.stderr)
        metrics = {**wl.end_to_end(), "setup_s": setup_s}
        print("perfbench: samples " + " ".join(f"{s['kind']}={s['secs']:.2f}" for s in wl.samples),
              file=sys.stderr)
        counters = None
        if tracer is not None:
            from perfbench.tracing import job_group_counters

            counters = job_group_counters(spark)
        if hasattr(wl, "close"):
            wl.close()
    finally:
        peak_mb = stop_spark(spark)
    for p in problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    result = {"correct": not problems, "attempted": wl.attempted, "failed": wl.failed}
    if tracer is None:
        result["metrics"] = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    else:
        units = layer_units()
        layer = {name: 0.0 for name in units}
        layer.update(wl.per_layer(counters))
        layer.update({f"traced.{k}": v for k, v in metrics.items()})
        layer.update({"trace.spans": len(tracer.spans), "trace.job_groups": len(counters),
                      "mem.heap_live_mb": heap_mb, "mem.peak_rss_mb": peak_mb})
        base = min((t0 for *_, t0, _ in tracer.spans), default=0.0)
        print("perfbench: spans " + json.dumps(
            [[name, op, round(t0 - base, 6), round(t1 - base, 6)] for name, op, t0, t1 in tracer.spans]),
            file=sys.stderr)
        unknown = set(layer) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    return result


UNITS = {"op_latency_ms": "ms", "ops_per_s": "1/s", "setup_s": "s"}


def layer_units() -> dict[str, str]:
    """Per-layer metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("render", "pipeline"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    for needed in ("biggraphite_spark", "__spark_entry__.py", "scripts/oracle_check.py",
                   "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found in {ROOT}; run from a source checkout",
                  file=sys.stderr)
            return 2
    # the checkout root, not this directory: the benchmark is the package
    # ``perfbench``, importable by Spark's Python workers too
    sys.path[0] = ROOT
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        prepare_env(work, bool(args.trace))
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

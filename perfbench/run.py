#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {ingest,analytics}
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the root of a checkout (the directory holding recipes_spark/
and bench.py). The benchmark pins its own environment, starts one
local[nproc] session, sets the workload up (timed: ``setup_s``), runs
its closed loop for ``--seconds``, checks every output against an
independent oracle and prints, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json; with --trace 1
the run measures the loop once untraced and once traced and prints the
per-layer ones, including the tracing overhead. Everything it writes
lives under .perfbench_work/ in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "analytics")


def pin_environment(work: str) -> dict[str, str]:
    """Fix everything the session reads from the environment, so a run
    does not depend on the caller's shell; returns what was pinned."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # A quarter of physical memory, at most 4 GiB: the session's
        # default heap (24g) is sized for a larger host than most.
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, mem_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            # A fixed set of JIT compiler threads: see trace.cpu_seconds.
            f"--driver-java-options '-Djava.io.tmpdir={tmp}"
            " -XX:-UseDynamicNumberOfCompilerThreads'"
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.update(pinned)
    return {**pinned, "host_mem_mb": str(mem_mb)}


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def log(msg: str, t0: float) -> None:
    print(f"perfbench [{time.perf_counter() - t0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a few-second smoke configuration for tests")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "recipes_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = pin_environment(work)
        os.chdir(work)
        sys.path.insert(0, ROOT)
        result = run(args, work, spec)
        print("perfbench env " + json.dumps(env, sort_keys=True))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def run(args, work: str, spec: dict) -> dict:
    from perfbench.analytics import Analytics
    from perfbench.ingest import Ingest
    from perfbench.trace import RssSampler, Tracer, cpu_seconds
    from recipes_spark.session import get_session

    cls = {"ingest": Ingest, "analytics": Analytics}[args.workload]
    traced = bool(args.trace)
    with RssSampler() if traced else nullcontext() as rss:
        c0, t0 = cpu_seconds(), time.perf_counter()
        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            wl = cls(spark, work, args.seed, size=args.size, traced=traced)
            log("session up", t0)
            wl.setup()
            setup_cpu, setup_wall = cpu_seconds() - c0, time.perf_counter() - t0
            log(f"set up, {setup_cpu:.2f} s CPU", t0)
            start = time.perf_counter()
            ops = wl.loop(start + args.seconds)
            loop_wall = time.perf_counter() - start
            _require(ops, "untraced")
            layers = {}
            if traced:
                tracer = Tracer(spark)
                wl.instrument(tracer)
                traced_ops = wl.loop(time.perf_counter() + args.seconds, tracer)
                _require(traced_ops, "traced")
                wl.finish(tracer)
                layers = wl.layers(tracer)
                layers["trace.overhead_ratio"] = (traced_ops.p50 / ops.p50, "ratio")
                layers["process.peak_rss_mb"] = (rss.peak_mb, "MB")
                tracer.close()
                ops_failed = ops.failed + traced_ops.failed
                ops_attempted = ops.attempted + traced_ops.attempted
            else:
                wl.finish()
                ops_failed, ops_attempted = ops.failed, ops.attempted
            log("loop done", t0)
            problems = wl.check()
            log("checked", t0)
        finally:
            stop_session(spark)
            log("session stopped", t0)
    for p in problems:
        print(f"perfbench check failed: {p}", file=sys.stderr)
    failed = ops_failed + len(problems)
    attempted = ops_attempted + wl.checks_attempted()
    values = {
        "setup_s": setup_cpu,
        "cpu_ms_per_op": 1000 * sum(ops.cpu) / max(len(ops.cpu), 1),
    }
    wall = {
        "workload.throughput_per_s": (ops.units / loop_wall, "1/s"),
        "workload.latency_p50_ms": (1000 * ops.p50, "ms"),
    }
    print(
        f"perfbench {args.workload}: {len(ops.latencies)} ops, {ops.units} units in "
        f"{loop_wall:.2f} s: {wall['workload.throughput_per_s'][0]:.3f}/s, "
        f"latency p50 {wall['workload.latency_p50_ms'][0]:.1f} ms; "
        f"set-up {setup_wall:.2f} s wall, {setup_cpu:.2f} s CPU; "
        f"failed_ratio {failed / attempted:.4f} ({failed}/{attempted})"
    )
    if traced:
        layers.update(wall)
        metrics = {
            m["name"]: {"value": layers.get(m["name"], (0, None))[0], "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        unknown = sorted(set(layers) - set(metrics))
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    else:
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _require(ops, which: str) -> None:
    """A loop in which no operation succeeded has no timing to report."""
    if not ops.latencies:
        raise RuntimeError(f"no operation of the {which} loop succeeded ({ops.failed} failed)")


if __name__ == "__main__":
    sys.exit(main())

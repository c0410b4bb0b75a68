#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts a local Spark session on all
cores, builds the workload's initial state, runs untimed warm-up ops, then
runs timed ops for ``--seconds`` seconds of op time as a closed loop with
one client, checks the outputs against a batch recomputation and prints
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: it traces every other group of timed ops and
compares their latency with the untraced groups between them for the
tracing overhead; its spans go to ``.bench_work/traces/``.

Everything the run writes lives under ``.bench_work/`` in the working
directory; the run's own state directory is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

try:
    import worker_spark.session  # noqa: F401  (the program under test)
except ImportError as exc:
    sys.stderr.write(f"perfbench: worker_spark is not importable from {ROOT}: {exc}\n")
    sys.exit(2)

from perfbench import report  # noqa: E402
from perfbench.workloads import WORKLOADS, GateError  # noqa: E402

DRIVER_MEM = "2g"


def start_spark(work: str):
    """A local session on every core, with every file it writes (block
    manager, shuffle, temp files) under ``work``."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from worker_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap and generations (no adaptive resizing), so
            # the resident set a run reaches depends on its allocations,
            # not on GC timing
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem} "
                "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def log(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.stderr.flush()


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(args) -> tuple[dict, bool]:
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            # a traced run compares traced with untraced ops, so it warms
            # up even where untraced runs time their first op
            wl.warmup_ops = max(wl.warmup_ops, 1)

        t1 = time.perf_counter()
        wl.setup()
        log(f"session {session_s:.2f}s, initial state {time.perf_counter() - t1:.2f}s")
        for i in range(wl.warmup_ops):
            wl.prepare(i)
            t = time.perf_counter()
            wl.run_op(i)
            log(f"warm-up op {i}: {time.perf_counter() - t:.3f}s")
        setup_s = session_s + time.perf_counter() - t1

        ops = []  # (index, Op, seconds, counts); counts only on traced ops
        attempted = failed = 0
        busy = 0.0
        i = wl.warmup_ops
        if tracer is not None:
            tracer.spark_counts()  # jobs so far belong to set-up
        # a traced run alternates traced and untraced groups of ops, at
        # least one of each, so its tracing overhead is measured against
        # untraced ops of the same run
        min_groups = 2 if tracer is not None else 1
        while True:
            k = i - wl.warmup_ops
            if k % wl.group == 0:
                if busy >= args.seconds and k // wl.group >= min_groups:
                    break
                if tracer is not None:
                    if k // wl.group % 2 == 0:
                        tracer.install()
                        wl.tracer = tracer
                    else:
                        tracer.uninstall()
                        wl.tracer = None
            wl.prepare(i)
            attempted += 1
            if wl.tracer is not None:
                tracer.op = i
                overhead = tracer.overhead
            t = time.perf_counter()
            try:
                with wl.tracer.span("op") if wl.tracer else contextlib.nullcontext():
                    op = wl.run_op(i)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
                op = None
            dt = time.perf_counter() - t
            busy += dt
            counts = None
            if tracer is not None:
                jobs = tracer.spark_counts()
                if wl.tracer is not None and op is not None:
                    counts = {**jobs, "overhead_s": tracer.overhead - overhead,
                              **wl.trace_counters()}
                    tracer.spark_counts()  # the counters' own jobs
            if op is not None:
                ops.append((i, op, dt, counts))
            i += 1
        if tracer is not None:
            tracer.uninstall()
            wl.tracer = None
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())

        correct = True
        t = time.perf_counter()
        try:
            wl.check()
        except GateError as exc:
            correct = False
            log(f"CORRECTNESS GATE FAILED: {exc}")
        log(f"gates {time.perf_counter() - t:.2f}s")

        if tracer is not None:
            metrics = report.per_layer(args.workload, tracer, ops)
            tracer.dump(
                os.path.join(ROOT, ".bench_work", "traces",
                             f"{args.workload}-seed{args.seed}.json"),
                {"ops": [{"index": i, "kind": op.kind, "seconds": dt, "traced": c is not None,
                          "counts": c} for i, op, dt, c in ops]},
            )
        else:
            metrics = report.end_to_end(ops, busy, setup_s, rss_mb)
        result = {"correct": correct, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        log(f"{args.workload} seed={args.seed} ops={len(ops)} "
            f"op_seconds={[(op.kind, round(dt, 3)) for _, op, dt, _ in ops]}")
        return result, correct
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier (the smoke tests run tiny sizes)")
    args = p.parse_args(argv)
    result, correct = run(args)
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

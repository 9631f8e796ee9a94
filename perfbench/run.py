#!/usr/bin/env python3
"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload convert_per_user --seed 1 --seconds 25 --trace 0

Human-readable lines go to stdout first; the last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("convert_per_user", "analytics_mix")
# local[N] keeps driver and executors in one JVM, and 1g covers every
# workload here. The heap is committed and touched whole at start, so
# peak_rss_mb does not depend on how far the collector let it grow
# before each collection, which moved it by 10-15% from run to run;
# heap pressure shows in spark.gc_ms instead.
DRIVER_MEMORY = "1g"
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"


def configure(work: str) -> dict[str, str]:
    """Pin cores and memory, and keep every temporary file in ``work``."""
    nproc = len(os.sched_getaffinity(0))
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS") or nproc), nproc)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_SUBMIT_OPTS": DRIVER_JAVA_OPTIONS,  # the driver JVM's options
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # no hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": str(nproc), "SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_SUBMIT_OPTS": DRIVER_JAVA_OPTIONS, "python": platform.python_version()}


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    env = configure(work)
    sys.path.insert(0, ROOT)
    try:
        import pyspark
        from cgtcalc_data_transformer_spark.session import get_spark

        from perfbench import harness, metrics, stats, trace
        from perfbench.analytics import AnalyticsWorkload
        from perfbench.convert import ConvertWorkload
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    env["pyspark"] = pyspark.__version__

    spark = None
    try:
        if args.workload == "analytics_mix":
            workload = AnalyticsWorkload()  # fixed tables: the seed does not apply
        else:
            workload = ConvertWorkload(args.seed, work)
        t_setup = time.perf_counter()
        spark, setup_s, start_s = harness.setup(workload, get_spark)
        checks_s = time.perf_counter() - t_setup - setup_s

        cpu0 = trace.cpu_times()
        if args.trace:
            ops, values = traced_run(workload, spark, args, start_s)
        else:
            ops = harness.closed_loop(workload, spark, harness.rounds_for(workload, args.seconds))
        steal = trace.steal_share(cpu0, trace.cpu_times())
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_jvm = trace.peak_rss_mb([jvm_pid])
        stop_spark(spark)
        spark = None
        if not args.trace:
            values = harness.end_to_end(ops, setup_s, rss_jvm)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in ops if not o.ok]
    lat = [o.ms for o in ops]
    tail = stats.tail(lat)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}; environment {json.dumps(env)}; "
          f"wall {time.perf_counter() - T_START:.1f} s")
    print(f"set-up {setup_s:.2f} s (session start {start_s:.2f} s); warm-up output checks {checks_s:.2f} s; "
          f"peak RSS JVM {rss_jvm:.0f} MB + python during operations {max(o.py_peak_mb for o in ops):.0f} MB")
    print(f"{len(ops)} operations, {len(failed)} failed (failed_ratio {len(failed) / len(ops):.4f}); "
          f"p50 {statistics.median(lat):.1f} ms; "
          + (f"tail p{tail[0]:.1f} = {tail[1]:.1f} ms over {len(lat)} samples" if tail else "no tail percentile")
          + f"; CPU steal while measuring {100 * steal:.1f}%")
    for kind in sorted({o.kind for o in ops}):
        ks = [o.ms for o in ops if o.kind == kind]
        print(f"  {kind}: n={len(ks)} median {statistics.median(ks):.1f} ms")
    for o in failed[:5]:
        print(f"  FAILED op {o.index} ({o.kind}): {o.error}")
    units = metrics.per_layer() if args.trace else metrics.END_TO_END
    print(json.dumps(metrics.result(values, units, not failed, len(ops), len(failed))))
    return 0


def traced_run(workload, spark, args, start_s):
    """One round, each operation's job run twice, traced and untraced,
    in alternating order; returns all operations and the per-layer
    metrics."""
    from perfbench import harness, trace
    from perfbench.analytics import AnalyticsWorkload
    from perfbench.layers import layer_values

    tracer = trace.Tracer()
    counters = trace.StageCounters(spark)
    tables = None
    if isinstance(workload, AnalyticsWorkload):
        tables = workload.probe_tables(spark, tracer)
    base, records = [], []

    def step(w, s, index):
        p = w.prepare(index)
        twin = w.twin(p)
        try:
            if index % 2:
                base.append(harness.timed(w, s, twin))
            try:
                ms, err, rec = w.traced(s, p, tracer, counters)
            except Exception as e:
                return harness.Op(index, p.kind, 0.0, False, p.rows, f"{type(e).__name__}: {str(e)[:300]}")
            if not index % 2:
                base.append(harness.timed(w, s, twin))
        finally:
            w.release(twin)
            w.release(p)
        rec.update(kind=p.kind, ms=ms, index=index)
        records.append(rec)
        return harness.Op(index, p.kind, ms, not err, p.rows, err or "")

    traced = harness.closed_loop(workload, spark, 1, step=step)
    path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    tracer.write(path)
    print(f"spans written to {os.path.relpath(path, ROOT)}")
    return base + traced, layer_values(base, records, tracer, start_s, tables)


if __name__ == "__main__":
    sys.exit(main())

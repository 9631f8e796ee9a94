"""Closed-loop driver shared by every workload.

One client: the next operation starts only when the previous one has
returned. Input preparation and output checks happen between
operations, outside each operation's timed window.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass

from perfbench import stats, trace


@dataclass
class Op:
    index: int
    kind: str
    ms: float
    ok: bool
    rows: int
    error: str = ""
    py_peak_mb: float = 0.0  # peak RSS of this process during the call


def setup(workload, get_spark):
    """The cold set-up a user pays before timing begins: session start
    (launching the JVM) plus the workload's warm-up, one first call of
    every operation kind. Returns the session, the set-up seconds
    (session start plus the time spent in the program during warm-up;
    the warm-up's output checks are left out) and the session start
    seconds."""
    t0 = time.perf_counter()
    spark = get_spark()
    start_s = time.perf_counter() - t0
    return spark, start_s + workload.warmup(spark), start_s


def timed(workload, spark, job) -> Op:
    """One operation on a prepared job: the call timed, the output
    checked afterwards."""
    trace.reset_peak_rss()
    t0 = time.perf_counter()
    try:
        out = workload.run(spark, job)
    except Exception as e:  # a failed operation is counted, not fatal
        ms = (time.perf_counter() - t0) * 1000.0
        return Op(job.index, job.kind, ms, False, job.rows, f"{type(e).__name__}: {str(e)[:300]}")
    ms = (time.perf_counter() - t0) * 1000.0
    py_mb = trace.peak_rss_mb([os.getpid()])
    err = workload.check(job, out)
    return Op(job.index, job.kind, ms, not err, job.rows, err or "", py_mb)


def run_op(workload, spark, index: int) -> Op:
    job = workload.prepare(index)
    try:
        return timed(workload, spark, job)
    finally:
        workload.release(job)


def closed_loop(workload, spark, rounds: int, step=run_op) -> list[Op]:
    """Run ``rounds`` whole rounds of one operation per kind (broker
    format or query) back to back."""
    return [step(workload, spark, i) for i in range(rounds * len(workload.kinds))]


def rounds_for(workload, seconds: float) -> int:
    """Whole rounds that take about ``seconds`` on the reference machine
    (4 cores), at least one. The count depends on ``seconds`` alone, not
    on how fast the host or the program runs, so every run, and the
    parent and a change alike, measure the same operations."""
    return max(1, math.ceil(seconds / workload.round_s))


def end_to_end(ops: list[Op], setup_s: float, jvm_peak_mb: float) -> dict[str, float]:
    lat = [o.ms for o in ops]
    busy_s = sum(lat) / 1000.0
    tail = stats.tail(lat)
    if tail is None:
        raise RuntimeError(f"{len(lat)} operations: too few for a tail percentile")
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": tail[1],
        "ops_per_s": len(ops) / busy_s,
        "rows_per_s": sum(o.rows for o in ops if o.ok) / busy_s,
        "peak_rss_mb": jvm_peak_mb + max(o.py_peak_mb for o in ops),
    }

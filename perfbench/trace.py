"""Tracing for the ``--trace 1`` run: in-memory spans around the
benchmark's calls into each layer, Spark engine counters per operation
read from the application status store, and process memory."""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JError


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float  # seconds, time.perf_counter()
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Spans kept in memory; written out once, at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None), name, time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in sorted(self.spans, key=lambda s: s.start)], fh)


class StageCounters:
    """Engine counters for the jobs of one job group, from Spark's
    status store (the data behind the web UI, present with it off)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = self.sc.defaultParallelism

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, "perfbench operation")

    def collect(self, group: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
        jobs = stages = tasks = failed = 0
        run_ms = cpu_ns = gc_ms = in_b = in_rec = shr_b = shw_b = spill_b = 0
        first_submit = None
        intervals = []
        stage_ids = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            jobs += 1
            if job.submissionTime().isDefined():
                sub = job.submissionTime().get().getTime()
                first_submit = sub if first_submit is None else min(first_submit, sub)
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JError:  # skipped stages have no attempt
                continue
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            stages += 1
            tasks += st.numTasks()
            failed += st.numFailedTasks()
            run_ms += st.executorRunTime()
            cpu_ns += st.executorCpuTime()
            gc_ms += st.jvmGcTime()
            in_b += st.inputBytes()
            in_rec += st.inputRecords()
            shr_b += st.shuffleReadBytes()
            shw_b += st.shuffleWriteBytes()
            spill_b += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.submissionTime().isDefined() and st.completionTime().isDefined():
                intervals.append((st.submissionTime().get().getTime(), st.completionTime().get().getTime()))
        wall = max(t1_ms - t0_ms, 1e-9)
        return {
            "spark.jobs_per_op": jobs,
            "spark.stages_per_op": stages,
            "spark.tasks_per_op": tasks,
            "spark.failed_tasks": failed,
            "spark.executor_run_ms": run_ms,
            "spark.executor_cpu_ms": cpu_ns / 1e6,
            "spark.gc_ms": gc_ms,
            "spark.input_bytes": in_b,
            "spark.shuffle_read_bytes": shr_b,
            "spark.shuffle_write_bytes": shw_b,
            "spark.spill_bytes": spill_b,
            "spark.driver_gap_ms": wall - _covered(intervals, t0_ms, t1_ms),
            "spark.busy_share": run_ms / (wall * self.cores),
            "input_records": in_rec,
            "plan_build_ms": (first_submit - t0_ms) if first_submit is not None else wall,
        }


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def cpu_times() -> list[int]:
    """Machine-wide CPU jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings: a noisy-neighbour gauge for the run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def reset_peak_rss() -> None:
    """Restart this process's peak RSS (VmHWM) from its current RSS, so
    that a later ``peak_rss_mb`` covers only what ran in between."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:  # kernels without it: the peak then covers the whole run
        pass


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0

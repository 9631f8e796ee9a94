"""convert_per_user: small single-user broker-export conversions driven
through ``cli.run_pipeline``, each merged into that user's previous
``data.txt`` and checked byte for byte against ``oracle.merged_output``."""

from __future__ import annotations

import dataclasses
import glob
import os
import random
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from cgtcalc_data_transformer_spark import cli, schemas
from cgtcalc_data_transformer_spark.operators import bullionvault, fidelity, freetrade, ii
from cgtcalc_data_transformer_spark.operators.pipeline import merge_sorted, report
from cgtcalc_data_transformer_spark.sources import (
    read_eml_dir,
    read_existing_output,
    read_header_csv,
    read_preamble_csv,
    write_output,
)

from perfbench import gen, oracle

READERS = {
    "freetrade": ("read_header_csv", lambda spark, p: read_header_csv(spark, p, schemas.FREETRADE_RAW)),
    "ii": ("read_header_csv", lambda spark, p: read_header_csv(spark, p, schemas.II_RAW)),
    "fidelity": ("read_preamble_csv", read_preamble_csv),
    "bullionvault": ("read_eml_dir", read_eml_dir),
}
PARSERS = {"freetrade": freetrade.lines, "ii": ii.lines, "fidelity": fidelity.lines,
           "bullionvault": bullionvault.lines}


@dataclass
class Prepared:
    index: int
    job: gen.Job
    root: str
    expected: str
    new_count: int

    @property
    def kind(self) -> str:
        return self.job.fmt

    @property
    def rows(self) -> int:
        return self.job.export_rows

    @property
    def source(self) -> str:
        rel = "export" if self.job.fmt == "bullionvault" else next(iter(self.job.files))
        return os.path.join(self.root, rel)

    @property
    def output(self) -> str:
        return os.path.join(self.root, "data.txt")


class ConvertWorkload:
    # Seconds one round (one job per format) takes on 4 cores. At the
    # benchmark's 25 s a run is 3 rounds, 12 operations: as many as the
    # time all benchmark runs share allows (one run is ~60 s, half of it
    # JVM start and warm-up), so op_tail_ms is p16.7 here, the
    # second-fastest operation, not a tail.
    round_s = 9.0

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.kinds = list(gen.FORMATS)

    def prepare(self, index: int, job: gen.Job | None = None) -> Prepared:
        job = job or gen.per_user_job(self.seed, index)
        root = os.path.join(self.work, f"job{index}")
        gen.write_job(job, root)
        new = oracle.convert(job.fmt, job.files)
        return Prepared(index, job, root, oracle.merged_output(job.history, new), len(new))

    def run(self, spark, p: Prepared) -> dict:
        return cli.run_pipeline(spark, p.job.fmt, p.source, output=p.output)

    def check(self, p: Prepared, rep: dict) -> str | None:
        with open(p.output, encoding="utf-8", newline="") as fh:
            got = fh.read()
        if got != p.expected:
            return f"{p.job.fmt} job {p.index}: data.txt differs from the expected output"
        if rep["new"] != p.new_count or rep["total"] != p.expected.count("\n"):
            return f"{p.job.fmt} job {p.index}: summary counts {rep['new']}/{rep['total']} are wrong"
        return None

    def release(self, p: Prepared) -> None:
        shutil.rmtree(p.root, ignore_errors=True)

    def twin(self, p: Prepared) -> Prepared:
        """The same prepared job in a directory of its own."""
        root = p.root + "-twin"
        shutil.copytree(p.root, root)
        return dataclasses.replace(p, root=root)

    def warmup(self, spark) -> float:
        """One small checked conversion per broker format; returns the
        seconds spent in ``run_pipeline``."""
        spent = 0.0
        for fmt in self.kinds:
            rng = random.Random(f"warmup:{self.seed}:{fmt}")
            rows = 3 if fmt == "bullionvault" else 10
            job = gen.Job(fmt, gen.export_files(rng, fmt, rows), gen.history_lines(rng, 20), rows)
            p = self.prepare(-1, job)
            try:
                t0 = time.perf_counter()
                rep = self.run(spark, p)
                spent += time.perf_counter() - t0
                err = self.check(p, rep)
                if err:
                    raise RuntimeError(f"warm-up conversion: {err}")
            finally:
                self.release(p)
        return spent

    # ------------------------------------------------------------ tracing
    def traced(self, spark, p: Prepared, tracer, counters) -> tuple[float, str | None, dict]:
        """The operation with spans and engine counters, then a probe that
        materialises each layer's output on a copy of the same inputs."""
        probe_root = p.root + "-probe"
        shutil.copytree(p.root, probe_root)
        group = f"op{p.index}"
        counters.start(group)
        t0 = time.time() * 1000.0
        with tracer.span("cli.run_pipeline", op=p.index) as s:
            rep = self.run(spark, p)
        c = counters.collect(group, t0, time.time() * 1000.0)
        err = self.check(p, rep)
        counters.start("probe")
        try:
            layers = self._probe(spark, p, probe_root, tracer)
        finally:
            shutil.rmtree(probe_root, ignore_errors=True)
        c["cli.plan_build_ms"] = c.pop("plan_build_ms")
        return s.ms, err, {**c, **layers}

    def _probe(self, spark, p: Prepared, root: str, tracer) -> dict:
        """Time each layer on warm code: every layer's output is
        materialised once untimed (compiling that plan), then again
        inside its span. A layer's self time is its span minus the spans
        of the layers that feed it, which the materialisation recomputes."""
        fmt = p.job.fmt
        reader, read = READERS[fmt]
        src = p.source.replace(p.root, root, 1)
        history = os.path.join(root, "data.txt")
        out = {}

        def layer(name, make):
            make()
            with tracer.span(name) as s:
                result = make()
            return result, s.ms

        with tracer.span("probe", op=p.index):
            raw, read_ms = layer(f"sources.{reader}", lambda: _materialise(_as_read(read(spark, src), PARSERS[fmt])))
            lines, cum_ms = layer(f"parsers.{fmt}", lambda: _materialise(PARSERS[fmt](read(spark, src))))
            out["rows_in"], out["rows_out"] = raw.count(), lines.count()
            existing, hist_ms = layer("sources.read_existing_output",
                                      lambda: _materialise(read_existing_output(spark, history)))
            out["history_rows"] = existing.count()
            merged, merge_ms = layer("pipeline.merge_sorted", lambda: _materialise(merge_sorted(existing, lines)))
            sinks = iter(("sink-warm", "sink"))
            _, write_ms = layer("sink.write_output", lambda: write_output(merged, os.path.join(root, next(sinks))))
            out["bytes"] = sum(os.path.getsize(f) for f in glob.glob(os.path.join(root, "sink", "part-*")))
            _, report_ms = layer("pipeline.report", lambda: report(merged, new_count=lines.count()))
        out.update({
            "reader": reader,
            "read_ms": read_ms,
            "hist_ms": hist_ms,
            "parse_self_ms": cum_ms - read_ms,
            "merge_self_ms": merge_ms - cum_ms - hist_ms,
            "write_ms": write_ms,
            "report_ms": report_ms,
        })
        return out


def _as_read(raw, parser):
    """The reader's output as the pipeline consumes it: when the parser's
    scan reads a subset of the reader's columns (header CSVs), only
    those. Reading the unused first column of an ii export that starts
    with a zero-width character would fail the CSV header check."""
    leaves = parser(raw)._jdf.queryExecution().sparkPlan().collectLeaves()
    cols = [c for i in range(leaves.size()) for c in leaves.apply(i).requiredSchema().fieldNames()]
    return raw.select(*[F.col(f"`{c}`") for c in cols]) if set(cols) <= set(raw.columns) else raw


def _materialise(df):
    """Compute every row and column of ``df``, discard them, return ``df``."""
    df.write.format("noop").mode("overwrite").save()
    return df

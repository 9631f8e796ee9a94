"""analytics_mix: registry queries on fixed sf0.1 tables, each operation
a fresh plan build plus a full execution reduced to one checksum row.

The tables in ``perfbench/data/sf0.1`` are byte-identical copies of the
repository's sf0.1 test tables (``SHA256SUMS`` lists them), so the
workload does not depend on the seed. During warm-up every query's rows
are compared with its ``registry.oracle_sql()`` run by DuckDB on the
same parquet files; every timed execution must then reproduce the
checksum of the query's warm-up execution."""

from __future__ import annotations

import datetime as dt
import math
import os
import time
from dataclasses import dataclass
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cgtcalc_data_transformer_spark import registry
from cgtcalc_data_transformer_spark.sources import tpch

from perfbench.metrics import QUERIES
from perfbench.trace import StageCounters

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def checksum_frame(df):
    """bench.py's full-execution reduction: every output column is
    computed, one row comes back."""
    return df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("checksum"))


@dataclass
class Prepared:
    index: int
    kind: str
    rows: int


class AnalyticsWorkload:
    # Seconds one round (each query once) takes on 4 cores. At the
    # benchmark's 25 s a run is 4 rounds, 32 operations: op_tail_ms is
    # p68.75.
    round_s = 7.0

    def __init__(self) -> None:
        self.tables = TABLES
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.kinds = list(QUERIES)
        self.expected: dict[str, int] = {}
        self.wrong: dict[str, str] = {}
        self.input_rows: dict[str, int] = {}

    def prepare(self, index: int) -> Prepared:
        name = self.kinds[index % len(self.kinds)]
        return Prepared(index, name, self.input_rows[name])

    def build(self, spark, name: str):
        return checksum_frame(self.queries[name](spark, self.tables))

    def run(self, spark, p: Prepared) -> int:
        return self.build(spark, p.kind).collect()[0][0]

    def check(self, p: Prepared, value: int) -> str | None:
        if p.kind in self.wrong:
            return self.wrong[p.kind]
        if value != self.expected[p.kind]:
            return f"{p.kind}: checksum {value} != {self.expected[p.kind]} of its warm-up execution"
        return None

    def release(self, p: Prepared) -> None:
        pass

    def twin(self, p: Prepared) -> Prepared:
        return p

    def warmup(self, spark) -> float:
        """Two executions of every query, the first collecting its rows,
        the second an operation as timed; returns the seconds spent in
        them. The rows are compared, untimed, with the query's DuckDB
        oracle; the first execution's scans' input rows are what one
        operation of that query reads; the second's checksum is what
        every timed execution must reproduce."""
        counters = StageCounters(spark)
        con = duckdb.connect()
        spent = 0.0
        try:
            for t in self.table_names():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(self.tables, t + '.parquet')}')")
            for name in self.kinds:
                counters.start(f"warmup-{name}")
                t0, w0 = time.perf_counter(), time.time() * 1000.0
                got = self.queries[name](spark, self.tables).toPandas()
                spent += time.perf_counter() - t0
                self.input_rows[name] = counters.collect(f"warmup-{name}", w0, time.time() * 1000.0)["input_records"]
                err = compare(got, con.execute(self.oracles[name]).fetchdf())
                if err:
                    self.wrong[name] = f"{name} disagrees with its DuckDB oracle: {err}"
                t0 = time.perf_counter()
                self.expected[name] = self.run(spark, Prepared(-1, name, 0))
                spent += time.perf_counter() - t0
        finally:
            con.close()
        counters.start("perfbench")
        return spent

    def table_names(self) -> list[str]:
        return [t for t in tpch.TABLES if os.path.exists(os.path.join(self.tables, t + ".parquet"))]

    # ------------------------------------------------------------ tracing
    def traced(self, spark, p: Prepared, tracer, counters) -> tuple[float, str | None, dict]:
        group = f"op{p.index}"
        counters.start(group)
        t0 = time.time() * 1000.0
        with tracer.span("analytics.op", op=p.index) as s:
            with tracer.span("registry.build") as s_build:
                df = self.build(spark, p.kind)
            with tracer.span("query.exec") as s_exec:
                value = df.collect()[0][0]
        c = counters.collect(group, t0, time.time() * 1000.0)
        c.pop("plan_build_ms")
        c.update({"plan_ms": s_build.ms, "exec_ms": s_exec.ms})
        return s.ms, self.check(p, value), c

    def probe_tables(self, spark, tracer) -> dict[str, float]:
        """Read every table through ``tpch.load_table``."""
        read_ms, rows = [], 0
        for t in self.table_names():
            with tracer.span("sources.tpch.load_table") as s:
                df = tpch.load_table(spark, self.tables, t)
                df.write.format("noop").mode("overwrite").save()
            read_ms.append(s.ms)
            rows += df.count()
        return {"read_ms": read_ms, "rows": rows}


def _cell(v):
    """One result cell in a form both engines' pandas output agree on."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (bool, int, float, Decimal)):
        v = float(v)
        return None if math.isnan(v) else v
    if isinstance(v, (dt.date, dt.datetime)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def _sort_key(row):
    return tuple((0, "") if c is None else (1, f"{c:.6g}") if isinstance(c, float) else (2, repr(c))
                 for c in row)


def compare(got, want) -> str | None:
    """Order-insensitive row comparison; numbers to 1e-9 relative."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    cols = sorted(got.columns)
    a = sorted((tuple(_cell(x) for x in r) for r in got[cols].itertuples(index=False, name=None)), key=_sort_key)
    b = sorted((tuple(_cell(x) for x in r) for r in want[cols].itertuples(index=False, name=None)), key=_sort_key)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            same = (math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9) if isinstance(x, float) and isinstance(y, float)
                    else x == y)
            if not same:
                return f"row {ra} vs {rb}"
    return None

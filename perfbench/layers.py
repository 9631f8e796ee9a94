"""Per-layer metrics of a traced run.

Times are medians per call; rows and bytes are totals over the traced
operations. A layer the workload never calls reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.metrics import QUERIES, SPARK_COUNTERS, per_layer


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def overhead(base, records) -> tuple[float, float]:
    """Median of traced minus untraced latency, and of its share of the
    untraced latency, over operations run both ways on the same job."""
    untraced = {o.index: o.ms for o in base if o.ok}
    pairs = [(r["ms"], untraced[r["index"]]) for r in records if r["index"] in untraced]
    return _med(t - u for t, u in pairs), _med(t / u - 1.0 for t, u in pairs)


def layer_values(base, records, tracer, start_s, tables) -> dict[str, float]:
    v = dict.fromkeys(per_layer(), 0.0)
    v["session.start_s"] = start_s
    for name in SPARK_COUNTERS:
        v[name] = _med(r[name] for r in records)
    v["trace.overhead_ms"], v["trace.overhead_share"] = overhead(base, records)
    v["trace.spans"] = len(tracer.spans)
    if tables is not None:
        v["sources.tpch.load_table.read_ms"] = _med(tables["read_ms"])
        v["sources.tpch.load_table.rows_read"] = tables["rows"]
        v["registry.plan_build_ms"] = _med(r["plan_ms"] for r in records)
        v["query.exec_ms"] = _med(r["exec_ms"] for r in records)
        for q, cls in QUERIES.items():
            v[f"registry.plan_build_ms.{q}"] = _med(r["plan_ms"] for r in records if r["kind"] == q)
            v[f"query.exec_ms.{q}"] = _med(r["exec_ms"] for r in records if r["kind"] == q)
        for cls in set(QUERIES.values()):
            in_cls = [r for r in records if QUERIES[r["kind"]] == cls]
            v[f"registry.plan_build_ms.class.{cls}"] = _med(r["plan_ms"] for r in in_cls)
            v[f"query.exec_ms.class.{cls}"] = _med(r["exec_ms"] for r in in_cls)
        return v
    for reader in {r["reader"] for r in records}:
        mine = [r for r in records if r["reader"] == reader]
        v[f"sources.{reader}.read_ms"] = _med(r["read_ms"] for r in mine)
        v[f"sources.{reader}.rows_read"] = sum(r["rows_in"] for r in mine)
    v["sources.read_existing_output.read_ms"] = _med(r["hist_ms"] for r in records)
    v["sources.read_existing_output.rows_read"] = sum(r["history_rows"] for r in records)
    for fmt in {r["kind"] for r in records}:
        v[f"parsers.{fmt}.self_ms"] = _med(r["parse_self_ms"] for r in records if r["kind"] == fmt)
    v["parsers.rows_in"] = sum(r["rows_in"] for r in records)
    v["parsers.rows_out"] = sum(r["rows_out"] for r in records)
    v["parsers.keep_ratio"] = v["parsers.rows_out"] / v["parsers.rows_in"] if v["parsers.rows_in"] else 0.0
    v["pipeline.merge_sorted.self_ms"] = _med(r["merge_self_ms"] for r in records)
    v["pipeline.report_ms"] = _med(r["report_ms"] for r in records)
    v["sink.write_output_ms"] = _med(r["write_ms"] for r in records)
    v["sink.bytes_written"] = sum(r["bytes"] for r in records)
    v["cli.plan_build_ms"] = _med(r["cli.plan_build_ms"] for r in records)
    return v

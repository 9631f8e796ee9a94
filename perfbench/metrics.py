"""Metric names and units; ``BENCHMARK.json`` lists the same names."""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# analytics_mix operations, in run order. Classes follow the repo's
# bench_query_classes.json; queries it does not classify are
# "unclassified".
QUERIES = {
    "q1_pricing_summary": "scan",
    "q6_forecast_revenue": "unclassified",
    "q9_profit_nation_year": "shuffle",
    "dedup_exact": "shuffle",
    "knn_bruteforce": "unclassified",
    "domain_stats": "expression",
    "text_quality": "unclassified",
    "events_session": "unclassified",
}
QUERY_CLASSES = sorted(set(QUERIES.values()))

READERS = ["read_header_csv", "read_preamble_csv", "read_eml_dir", "read_existing_output", "tpch.load_table"]
BROKERS = ["freetrade", "ii", "fidelity", "bullionvault"]
SPARK_COUNTERS = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.driver_gap_ms": "ms",
    "spark.busy_share": "ratio",
}


def per_layer() -> dict[str, str]:
    m = {"session.start_s": "s"}
    for r in READERS:
        m[f"sources.{r}.read_ms"] = "ms"
        m[f"sources.{r}.rows_read"] = "count"
    for b in BROKERS:
        m[f"parsers.{b}.self_ms"] = "ms"
    m.update({
        "parsers.rows_in": "count",
        "parsers.rows_out": "count",
        "parsers.keep_ratio": "ratio",
        "pipeline.merge_sorted.self_ms": "ms",
        "pipeline.report_ms": "ms",
        "sink.write_output_ms": "ms",
        "sink.bytes_written": "bytes",
        "cli.plan_build_ms": "ms",
    })
    m.update(SPARK_COUNTERS)
    m["registry.plan_build_ms"] = "ms"
    m["query.exec_ms"] = "ms"
    for c in QUERY_CLASSES:
        m[f"registry.plan_build_ms.class.{c}"] = "ms"
        m[f"query.exec_ms.class.{c}"] = "ms"
    for q in QUERIES:
        m[f"registry.plan_build_ms.{q}"] = "ms"
        m[f"query.exec_ms.{q}"] = "ms"
    m.update({"trace.overhead_ms": "ms", "trace.overhead_share": "ratio", "trace.spans": "count"})
    return m


def result(values: dict[str, float], units: dict[str, str], correct: bool, attempted: int, failed: int) -> dict:
    """The benchmark's result object: exactly the metrics in ``units``."""
    if set(values) != set(units):
        raise KeyError(f"metric set mismatch: missing {sorted(set(units) - set(values))}, "
                       f"extra {sorted(set(values) - set(units))}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }

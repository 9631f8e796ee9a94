"""Tests of the benchmark's own parts; no Spark session is started.

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random

import pytest

from cgtcalc_data_transformer_spark import fixtures

from perfbench import gen, harness, layers, metrics, oracle, stats
from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ generator
def test_same_seed_same_inputs():
    for index in range(14):
        assert gen.per_user_job(7, index) == gen.per_user_job(7, index)
    assert gen.per_user_job(7, 0) != gen.per_user_job(8, 0)


def test_jobs_rotate_formats_and_heavy_histories():
    jobs = [gen.per_user_job(1, i) for i in range(2 * gen.HEAVY_EVERY)]
    assert [j.fmt for j in jobs[:4]] == list(gen.FORMATS)
    heavy = [i for i, j in enumerate(jobs) if len(j.history) > 50_000]
    assert heavy == [gen.HEAVY_AT, gen.HEAVY_AT + gen.HEAVY_EVERY]
    assert max(len(j.history) for i, j in enumerate(jobs) if i not in heavy) <= 3000


def test_generated_exports_cover_the_edge_cases():
    rng = random.Random(5)
    ii_text = gen.ii_csv(rng, 200)
    assert ii_text[0] in gen.ZERO_WIDTH_LEADS and "£" in ii_text and '"£1,' in ii_text
    fid = gen.fidelity_csv(rng, 200)
    assert fid.split("\n")[8] == gen.FIDELITY_HEADER and fid.count(gen.FIDELITY_HEADER) == 2
    emails = "\n".join(gen.bullionvault_emails(rng, 60))
    assert " at " in emails and "Net consideration" in emails and "Summary:" in emails and "Deal:" in emails
    for fmt in gen.FORMATS:  # non-trade rows are dropped, trades kept
        files = gen.export_files(random.Random(fmt), fmt, 300)
        n_out = len(oracle.convert(fmt, files))
        assert (n_out == 300) if fmt == "bullionvault" else (150 < n_out < 300)


# --------------------------------------------------------------- oracle
def test_oracle_reproduces_the_program_fixtures():
    assert oracle.freetrade(fixtures.FREETRADE_CSV) == fixtures.EXPECTED_FREETRADE
    assert oracle.ii(fixtures.II_CSV) == fixtures.EXPECTED_II
    assert oracle.ii("​" + fixtures.II_CSV) == fixtures.EXPECTED_II
    assert oracle.fidelity(fixtures.FIDELITY_CSV) == fixtures.EXPECTED_FIDELITY
    assert oracle.bullionvault(fixtures.BULLIONVAULT_EMAILS) == fixtures.EXPECTED_BULLIONVAULT


@pytest.mark.parametrize("x, text", [
    (40.0, "40"), (0.05, "0.05"), (-2.5, "-2.5"), (1000.5, "1000.5"), (0.75, "0.75"),
    (1e21, "1e+21"), (1.5e21, "1.5e+21"), (1e20, "100000000000000000000"),
    (1e-6, "0.000001"), (1e-7, "1e-7"), (1.25e-7, "1.25e-7"), (0.1 + 0.2, "0.30000000000000004"),
    (0.0, "0"), (-0.0, "0"),
])
def test_js_number(x, text):
    assert oracle.js_number(x) == text


def test_merge_is_stable_and_history_first():
    history = ["BUY 02/01/2024 A 1 1 0", "SELL 01/01/2024 B 1 1 0", "  ", "BUY 02/01/2024 C 1 1 0"]
    new = ["SELL 02/01/2024 N 1 1 0", "BUY 31/12/2023 M 1 1 0"]
    assert oracle.merged_output(history, new).splitlines() == [
        "BUY 31/12/2023 M 1 1 0", "SELL 01/01/2024 B 1 1 0", "BUY 02/01/2024 A 1 1 0",
        "BUY 02/01/2024 C 1 1 0", "SELL 02/01/2024 N 1 1 0",
    ]


def test_oracle_rejects_what_the_converter_rejects():
    with pytest.raises(oracle.ConversionError):
        oracle.bullionvault([fixtures.BULLIONVAULT_EMAILS[0].replace("GBP 11.25", "USD 11.25")])
    with pytest.raises(oracle.ConversionError):
        oracle.ii(fixtures.II_CSV.replace('n/a,"£2,501.25"', '"£1.00","£2,501.25"'))


# ---------------------------------------------------------------- stats
@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_ten_samples_beyond(n):
    assert stats.tail([1.0] * n) is None


@pytest.mark.parametrize("n", [11, 12, 32, 99, 100, 1000])
def test_tail_leaves_at_least_ten_beyond(n):
    samples = [float(i) for i in random.Random(n).sample(range(10 * n), n)]
    pct, value = stats.tail(samples)
    beyond = sum(1 for s in samples if s > value)
    assert beyond == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    if n == 100:
        assert pct == 90.0


# -------------------------------------------------------------- metrics
def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.per_layer()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in bench["end_to_end"])


def _op(i, kind, ms):
    return harness.Op(i, kind, ms, True, 10)


def test_end_to_end_values_are_the_printed_metrics():
    ops = [_op(i, "ii", 100.0 + i) for i in range(12)]
    ops[3].py_peak_mb = 200.0
    values = harness.end_to_end(ops, 2.0, 512.0)
    out = metrics.result(values, metrics.END_TO_END, True, 12, 0)
    assert set(out["metrics"]) == set(metrics.END_TO_END)
    assert out["metrics"]["setup_s"]["value"] == 2.0
    assert out["metrics"]["op_tail_ms"]["value"] == 101.0
    assert out["metrics"]["peak_rss_mb"]["value"] == 712.0
    with pytest.raises(KeyError):
        metrics.result({"setup_s": 1.0}, metrics.END_TO_END, True, 1, 0)


def _counters():
    return {name: 1.0 for name in metrics.SPARK_COUNTERS}


def test_layer_values_cover_every_per_layer_metric():
    from perfbench.trace import Tracer

    base = [_op(0, "freetrade", 100.0), _op(1, "ii", 90.0)]
    conv = [dict(_counters(), index=i, kind=k, ms=120.0, reader="read_header_csv", read_ms=5.0, hist_ms=4.0,
                 rows_in=10, rows_out=8, history_rows=50, parse_self_ms=3.0, merge_self_ms=2.0,
                 write_ms=6.0, report_ms=7.0, bytes=99, **{"cli.plan_build_ms": 9.0})
            for i, k in enumerate(("freetrade", "ii"))]
    v = layers.layer_values(base, conv, Tracer(), 5.0, None)
    assert set(v) == set(metrics.per_layer())
    assert v["parsers.keep_ratio"] == 0.8 and v["trace.overhead_ms"] == 25.0
    queries = [dict(_counters(), index=i, kind=q, ms=50.0, plan_ms=10.0, exec_ms=40.0)
               for i, q in enumerate(metrics.QUERIES)]
    v = layers.layer_values([_op(0, "q1_pricing_summary", 40.0)], queries, Tracer(), 5.0,
                            {"read_ms": [1.0, 2.0, 3.0], "rows": 1000})
    assert set(v) == set(metrics.per_layer())
    assert v["query.exec_ms.class.shuffle"] == 40.0 and v["sources.tpch.load_table.rows_read"] == 1000
    assert v["trace.overhead_ms"] == 10.0 and v["trace.overhead_share"] == 0.25


def test_overhead_pairs_the_same_job():
    base = [_op(0, "ii", 100.0), _op(1, "ii", 200.0), _op(2, "fidelity", 50.0)]
    records = [{"index": 0, "ms": 110.0}, {"index": 1, "ms": 210.0}, {"index": 3, "ms": 1.0}]
    assert layers.overhead(base, records) == (10.0, pytest.approx(0.075))


def test_queries_exist_and_classes_follow_the_repo_map():
    from cgtcalc_data_transformer_spark import registry

    queries, oracles = registry.queries(), registry.oracle_sql()
    with open(os.path.join(ROOT, "bench_query_classes.json")) as fh:
        classes = json.load(fh)["classes"]
    for q, cls in metrics.QUERIES.items():
        assert q in queries and q in oracles
        assert cls == classes.get(q, "unclassified")

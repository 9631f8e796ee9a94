"""Merge / sort / dedup pipeline tests — coverage the reference lacks
(its `index.js` merge+sort path is untested, SURVEY.md §5)."""

from __future__ import annotations

from cgtcalc_data_transformer_spark.operators.pipeline import merge_sorted, report


def _lines_df(spark, lines):
    return spark.createDataFrame([(ln,) for ln in lines], "line string")


def test_chronological_sort(spark):
    new = _lines_df(
        spark,
        [
            "BUY 19/09/2025 AAA 1 10 0",
            "SELL 05/01/2024 BBB 2 20 0",
            "BUY 01/03/2024 CCC 3 30 0",
        ],
    )
    got = [r.line for r in merge_sorted(None, new).collect()]
    assert got == [
        "SELL 05/01/2024 BBB 2 20 0",
        "BUY 01/03/2024 CCC 3 30 0",
        "BUY 19/09/2025 AAA 1 10 0",
    ]


def test_stable_merge_existing_before_new(spark):
    existing = _lines_df(spark, ["BUY 01/01/2024 OLD1 1 1 0", "BUY 01/01/2024 OLD2 1 1 0"])
    new = _lines_df(spark, ["BUY 01/01/2024 NEW1 1 1 0"])
    got = [r.line for r in merge_sorted(existing, new).collect()]
    assert got == [
        "BUY 01/01/2024 OLD1 1 1 0",
        "BUY 01/01/2024 OLD2 1 1 0",
        "BUY 01/01/2024 NEW1 1 1 0",
    ]


def test_union_all_keeps_duplicates_by_default(spark):
    existing = _lines_df(spark, ["BUY 01/01/2024 X 1 1 0"])
    new = _lines_df(spark, ["BUY 01/01/2024 X 1 1 0"])
    assert merge_sorted(existing, new).count() == 2


def test_dedup_mode(spark):
    existing = _lines_df(spark, ["BUY 01/01/2024 X 1 1 0"])
    new = _lines_df(spark, ["BUY 01/01/2024 X 1 1 0", "SELL 02/01/2024 Y 1 1 0"])
    got = [r.line for r in merge_sorted(existing, new, dedup=True).collect()]
    assert got == ["BUY 01/01/2024 X 1 1 0", "SELL 02/01/2024 Y 1 1 0"]


def test_report(spark):
    df = _lines_df(spark, [f"BUY 0{i}/01/2024 A 1 1 0" for i in range(1, 8)])
    rep = report(df, new_count=7)
    assert rep["total"] == 7
    assert len(rep["sample"]) == 5


def test_pipeline_does_not_poison_pyspark_logger(spark, tmp_path):
    """Regression for VERDICT r9 #1: stdlib ``logging.getLogger`` on
    `DataFrameQueryContextLogger` CREATES a plain logging.Logger and
    caches it by name. PySpark 4's captured-error path later fetches
    the same name expecting its PySparkLogger subclass (whose
    .exception accepts a `file=` kwarg) and crashed with
    `TypeError: Logger._log() got an unexpected keyword argument 'file'`,
    masking the real Spark exception process-wide. After a pipeline
    run no plain Logger may be cached under that name, and a later
    ANSI error must still surface as the real Spark exception."""
    import logging

    import pytest
    from pyspark.sql import functions as F

    from cgtcalc_data_transformer_spark import fixtures
    from cgtcalc_data_transformer_spark.cli import run_pipeline

    # 1. Run a whole conversion.
    (tmp_path / "ii.csv").write_text(fixtures.II_CSV)
    run_pipeline(spark, "ii", str(tmp_path / "ii.csv"), output=str(tmp_path / "data.txt"))

    # 2. No plain Logger cached under PySpark's name (only ever its
    #    subclass, or nothing yet). Reads the registry without
    #    creating an entry, which getLogger would do.
    cached = logging.Logger.manager.loggerDict.get("DataFrameQueryContextLogger")
    assert type(cached) is not logging.Logger

    # 3. A post-pipeline ANSI overflow surfaces as the Spark error,
    #    with its real message — not a masking TypeError.
    df = spark.createDataFrame([(2**62,), (2**62,)], "x long")
    with pytest.raises(Exception, match="(?i)overflow|out of range") as ei:
        df.agg(F.sum(F.col("x") + F.col("x"))).collect()
    assert not isinstance(ei.value, TypeError)

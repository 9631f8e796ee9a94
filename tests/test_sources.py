"""Source/sink round-trips: JSONL with declared schema, ORC, and the
CSV quarantine reader."""

from __future__ import annotations

from pyspark.sql import functions as F

from cgtcalc_data_transformer_spark.schemas import TPCH_SCHEMAS
from cgtcalc_data_transformer_spark.sources.jsonl import read_jsonl, write_jsonl
from cgtcalc_data_transformer_spark.sources.tpch import load_events

SF = "/root/testdata/sf0.001"


def test_jsonl_roundtrip(spark, tmp_path):
    ev = load_events(spark, SF).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    path = str(tmp_path / "events_jsonl")
    write_jsonl(ev, path)
    back = read_jsonl(spark, path, TPCH_SCHEMAS["events"])
    assert back.count() == ev.count()
    # ts is int64 nanos — sum in DECIMAL(38,0) to avoid ANSI long overflow
    sums = [F.sum("event_id"), F.sum(F.col("ts").cast("decimal(38,0)"))]
    a = ev.agg(*sums).collect()[0]
    b = back.agg(*sums).collect()[0]
    assert tuple(a) == tuple(b)


def test_orc_roundtrip_preserves_content(spark, tmp_path):
    """parquet -> ORC -> read-back must preserve every row and type."""
    from cgtcalc_data_transformer_spark.sources.orc import read_orc, write_orc
    from cgtcalc_data_transformer_spark.sources.tpch import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path)
    assert back.schema == orders.schema
    assert back.count() == orders.count()
    assert back.exceptAll(orders).count() == 0
    assert orders.exceptAll(back).count() == 0


def test_csv_quarantine_splits_good_and_bad(spark):
    from cgtcalc_data_transformer_spark.sources.csv import csv_quarantine

    rows = csv_quarantine(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 6
    by_id = {r.id: r for r in rows}
    assert not by_id[1].quarantined and by_id[1].qty == 10.5
    assert by_id[2].quarantined and by_id[2].qty is None  # bad field
    assert by_id[3].quarantined and by_id[3].qty == 7.0   # extra col, partial row kept
    assert not by_id[4].quarantined and by_id[4].qty is None  # empty = null, fine
    assert not by_id[6].quarantined and by_id[6].qty == 1000.0  # 1e3 parses
    broken = [r for r in rows if r.id is None]
    assert len(broken) == 1 and broken[0].quarantined
    assert broken[0].quarantine_raw == "bad line without commas"

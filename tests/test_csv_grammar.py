"""The one CSV grammar (``sources/csv.py``), pinned through
``cli.run_pipeline`` on tiny inputs: RFC 4180 quote escapes, empty
cells read as ``''``, zero-width characters stripped where they lead
a file, and the header checked against every declared column."""

from __future__ import annotations

import pytest

from cgtcalc_data_transformer_spark import fixtures, schemas
from cgtcalc_data_transformer_spark.cli import run_pipeline
from cgtcalc_data_transformer_spark.sources import read_header_csv

II_ROW = '02/01/2024,04/01/2024,TST,B123456,10,£5.25,Buy TST,R1,"£52.50",n/a,"£0.00"'


def _convert(spark, tmp_path, source_type, text):
    src = tmp_path / f"{source_type}.csv"
    src.write_text(text, encoding="utf-8")
    out = tmp_path / "data.txt"
    run_pipeline(spark, source_type, str(src), output=str(out))
    return str(src), out.read_text().splitlines()


def test_zero_width_led_ii_header_reads_its_first_column(spark, tmp_path):
    src, lines = _convert(spark, tmp_path, "ii", "​" + fixtures.II_CSV)
    assert lines == fixtures.EXPECTED_II
    dates = [r.Date for r in read_header_csv(spark, src, schemas.II_RAW).select("Date").collect()]
    assert dates == ["02/01/2024", "05/01/2024", "10/01/2024"]


def test_freetrade_quote_escapes_are_rfc4180(spark, tmp_path):
    rows = fixtures.FREETRADE_CSV.split("\n")
    rows[1] = rows[1].replace("Acme Corp,", '"x ""q"" y",', 1)
    rows[2] = rows[2].replace("Zed Trust,", '"tail\\",', 1)
    src, lines = _convert(spark, tmp_path, "freetrade", "\n".join(rows))
    assert lines == fixtures.EXPECTED_FREETRADE
    titles = [r.Title for r in read_header_csv(spark, src, schemas.FREETRADE_RAW).collect()]
    assert titles == ['x "q" y', "tail\\", "Acme Corp"]


def test_ii_empty_quantity_is_kept_as_zero(spark, tmp_path):
    row = II_ROW.replace(",10,", ",,")
    _, lines = _convert(spark, tmp_path, "ii", "\n".join([fixtures.II_CSV.split("\n")[0], row]))
    assert lines == ["BUY 04/01/2024 B123456 0 5.25 0"]


def test_ii_empty_debit_is_a_buy(spark, tmp_path):
    row = II_ROW.replace('"£52.50",n/a', ",n/a")
    _, lines = _convert(spark, tmp_path, "ii", "\n".join([fixtures.II_CSV.split("\n")[0], row]))
    assert lines == ["BUY 04/01/2024 B123456 10 5.25 0"]


def test_header_wrong_at_an_unread_column_fails_fast(spark, tmp_path):
    # no parser reads Venue, so a column-pruned header check never sees it
    bad = fixtures.FREETRADE_CSV.replace(",Venue,", ",Vneue,", 1)
    out = tmp_path / "data.txt"
    out.write_text("BUY 02/01/2023 SEED 1 2.5 0\n")
    with pytest.raises(Exception) as ei:
        _convert(spark, tmp_path, "freetrade", bad)
    msg = str(ei.value)
    assert "CSV header does not match the declared columns" in msg
    assert "Expected: " + ",".join(schemas.FREETRADE_COLUMNS) in msg
    assert "found: " + bad.split("\n")[0] in msg
    assert out.read_text() == "BUY 02/01/2023 SEED 1 2.5 0\n"

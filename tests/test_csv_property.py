"""Property test: the CSV grammar against the independent oracle.

Broker exports come from the benchmark's seeded generator
(``perfbench/gen.py``) and are then mutated with the cases a CSV
grammar gets wrong: zero-width characters leading the file, quoted
commas, ``""`` escapes, backslashes, CRLF line ends and blank lines.
Each is converted by ``cli.run_pipeline`` into a small history and the
written ``data.txt`` is checked byte for byte against
``perfbench/oracle.py``, a plain-Python restatement of the contract.

Mutations touch only cells no parser reads, so the oracle's verdict
on every row stays defined. Two cases are left out on purpose:
- an empty ii Quantity, which the oracle skips (``_num('')`` is
  None) where the converter keeps it as ``Number('') === 0``
  (pinned by ``tests/test_csv_grammar.py`` instead);
- newlines inside quoted cells, which no grammar here supports:
  every reader frames records by line.
"""

from __future__ import annotations

import csv
import io
import os
import random
import tempfile

from hypothesis import given, settings, strategies as st

from cgtcalc_data_transformer_spark.cli import run_pipeline
from perfbench import gen, oracle

HEADERS = {
    "freetrade": gen.FREETRADE_HEADER,
    "ii": gen.II_HEADER,
    "fidelity": gen.FIDELITY_HEADER.split(","),
}
UNREAD = {
    "freetrade": ["Title", "Venue", "Order ID"],
    "ii": ["Description", "Reference", "Running Balance"],
    "fidelity": ["Product Wrapper", "Account Number", "Reference Number", "Status"],
}
# First line that holds data: after the header, or after Fidelity's
# 8-line preamble and its header line.
FIRST_DATA = {"freetrade": 1, "ii": 1, "fidelity": 9}
LEADS = ["", *gen.ZERO_WIDTH_LEADS, "﻿​"]


def _row(cells: list[str], quote_all: bool) -> str:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="", quoting=csv.QUOTE_ALL if quote_all else csv.QUOTE_MINIMAL).writerow(cells)
    return buf.getvalue()


def _mutate(fmt: str, text: str, rng: random.Random, cells: list[str], lead: str,
            blank_lines: int, crlf: bool) -> str:
    lines = text.lstrip("".join(gen.ZERO_WIDTH_LEADS)).split("\n")
    unread = [HEADERS[fmt].index(name) for name in UNREAD[fmt]]
    for i in range(FIRST_DATA[fmt], len(lines)):
        if not lines[i]:
            continue
        row = next(csv.reader([lines[i]]))
        if rng.random() < 0.7:
            row[rng.choice(unread)] = rng.choice(cells)
        lines[i] = _row(row, quote_all=rng.random() < 0.3)
    # Below the first line, so that the lead stays on it: the reference
    # strips a zero-width lead only from ii, so a Freetrade file whose
    # first line is a lone zero-width character has no header there.
    for _ in range(blank_lines):
        lines.insert(rng.randrange(1, len(lines) + 1), rng.choice(["", "  "]))
    return lead + ("\r\n" if crlf else "\n").join(lines)


@given(
    fmt=st.sampled_from(sorted(HEADERS)),
    seed=st.integers(0, 2**16),
    n_rows=st.integers(1, 12),
    history=st.integers(0, 20),
    cells=st.lists(st.text(alphabet=',"\\ ab', max_size=6), min_size=1, max_size=4),
    lead=st.sampled_from(LEADS),
    blank_lines=st.integers(0, 3),
    crlf=st.booleans(),
)
@settings(max_examples=20, deadline=None, derandomize=True)
def test_run_pipeline_matches_oracle(spark, fmt, seed, n_rows, history, cells, lead, blank_lines, crlf):
    rng = random.Random(seed)
    ((name, text),) = gen.export_files(rng, fmt, n_rows).items()
    text = _mutate(fmt, text, rng, cells, lead, blank_lines, crlf)
    previous = gen.history_lines(rng, history)
    expected = oracle.merged_output(previous, oracle.convert(fmt, {name: text}))
    with tempfile.TemporaryDirectory() as root:
        src, out = os.path.join(root, name), os.path.join(root, "data.txt")
        with open(src, "w", encoding="utf-8", newline="") as fh:
            fh.write(text)
        if previous:
            with open(out, "w", encoding="utf-8") as fh:
                fh.write("\n".join(previous) + "\n")
        run_pipeline(spark, fmt, src, output=out)
        with open(out, encoding="utf-8", newline="") as fh:
            assert fh.read() == expected

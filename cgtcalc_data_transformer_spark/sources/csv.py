"""CSV sources: one reader, one grammar.

Every broker CSV goes through ``_parse``, whichever entry point reads
it (SURVEY.md §2 S4-S6). The reference does the same: csv-parse with
header columns for Freetrade and ii, and with ``from_line: 9`` for
Fidelity (`/root/reference/freetrade.js:90-96`,
`/root/reference/ii.js:30-52`, `/root/reference/fidelity.js:31-52`).

- ``read_header_csv``: a header file (Freetrade / ii).
- ``read_preamble_csv``: a header-less file whose first
  ``skip_lines`` lines are skipped (Fidelity's 8-line preamble).
- ``df_from_csv_string``: the same two shapes over an in-memory
  string, so golden tests and the registry's ``parse_*`` queries run
  the production grammar.

The files are read ``wholetext`` (one row per file, parallel across
files) and split into lines numbered per file with ``posexplode``:
the numbers are right however the scan is partitioned, with no
shuffle. The per-file memory bound is the file size; broker exports
are MBs, and at scale the corpus is many files, the axis this
parallelises over. Each line is then parsed whole by one
``F.from_csv`` call with the schema's DDL.

The grammar's four rules are decided here, not in the parsers:

1. Quotes escape RFC 4180 style (``""`` inside a quoted cell), as in
   csv-parse and Python's ``csv``: ``escape='"'``. Spark's default
   ``\\`` escape leaves ``""`` raw and lets a cell ending in a
   backslash swallow the rest of its row.
2. An empty cell reads as ``''``, never null, so JS rules such as
   ``Number('') === 0`` hold (`/root/reference/ii.js:46`). No
   ``from_csv`` option does this (``nullValue``/``emptyValue`` still
   give null for an unquoted empty cell), so one ``selectExpr``
   coalesces every column.
3. Zero-width characters (BOM, ZWSP, LRM, RLM) are stripped only
   where they lead a file (`/root/reference/ii.js:34`).
4. A header file's first non-blank line must name every declared
   column, in order; otherwise the read fails fast naming the
   expected and the found header. The check is one filter in the
   plan. Spark's own ``CSVHeaderChecker`` is not used: it cannot see a
   zero-width character leading the header, and under column pruning
   it checks only the columns the parser reads. Fidelity stays
   header-less, as in the reference: its line-9 header (and any
   repeat of it) is dropped by the parser's type whitelist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from cgtcalc_data_transformer_spark.schemas import FIDELITY_RAW

# Rule 1, plus csv-parse's ``trim`` (`/root/reference/freetrade.js:93`).
_OPTIONS = {
    "escape": '"',
    "ignoreLeadingWhiteSpace": "true",
    "ignoreTrailingWhiteSpace": "true",
}


def _parse(files: DataFrame, schema: StructType, skip_lines: int, header: bool) -> DataFrame:
    """``files``: one row per file, its text in ``value``. Returns one
    row per data line with the schema's columns, all strings."""
    names = schema.fieldNames()
    # Rule 3, then drop the preamble and blank lines before numbering,
    # so in a header file line 0 is the header.
    lines = F.expr(
        "filter(split(regexp_replace(value, '^[\\uFEFF\\u200B\\u200E\\u200F]+', ''), '\\r?\\n'), "
        f"(line, i) -> i >= {int(skip_lines)} AND trim(line) != '')"
    )
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
    parsed = files.select(F.posexplode(lines).alias("_line_no", "value")).select(
        "_line_no", "value", F.from_csv("value", ddl, _OPTIONS).alias("p")
    )
    if header:  # rule 4
        expected = ",".join(names)
        parsed = parsed.filter(
            F.when(F.col("_line_no") > 0, True)
            .when(F.to_csv("p") == expected, False)
            .otherwise(F.raise_error(F.concat(
                F.lit(f"CSV header does not match the declared columns. Expected: {expected}; found: "),
                F.col("value"),
            )))
        )
    return parsed.selectExpr(*[f"coalesce(p.`{n}`, '') AS `{n}`" for n in names])  # rule 2


def read_header_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """A header CSV file (or directory of them) with declared columns."""
    return _parse(spark.read.text(path, wholetext=True), schema, 0, header=True)


def read_preamble_csv(spark: SparkSession, path: str, skip_lines: int = 8) -> DataFrame:
    """A header-less Fidelity CSV whose first ``skip_lines`` lines
    are a preamble. Repeated header lines inside the body are left to
    the parser's whitelist filter (the golden case at
    `/root/reference/__tests__/data/fidelity.json:17-22`)."""
    return _parse(spark.read.text(path, wholetext=True), FIDELITY_RAW, skip_lines, header=False)


def df_from_csv_string(
    spark: SparkSession, content: str, schema: StructType, skip_lines: int = 0
) -> DataFrame:
    """An in-memory CSV string, read like a file: with ``skip_lines``
    as ``read_preamble_csv`` reads it, else as ``read_header_csv``
    does. The reference tests feed raw strings to ``parseToFormat``
    (`/root/reference/__tests__/processor.test.js:20-31`); this is the
    DataFrame equivalent."""
    files = spark.createDataFrame([(content,)], "value string")
    return _parse(files, schema, skip_lines, header=skip_lines == 0)


# -------------------------------------------------- quarantine reader
QUARANTINE_FIXTURE = [
    "1,10.5,alpha",
    "2,abc,beta",
    "3,7,gamma,extra",
    "4,,delta",
    "bad line without commas",
    "6,1e3,zeta",
]


def csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE ingestion with a quarantine lane — the
    collect-violations generalization of the reference's per-field
    fail-fast throws (`/root/reference/freetrade.js:128-160` aborts
    the whole run on the first bad cell; a 100 TB ingest instead
    keeps good rows flowing and routes bad ones to a quarantine
    table with their raw bytes for replay).

    ``from_csv`` with ``columnNameOfCorruptRecord`` implements the
    split in one codegen pass: a malformed FIELD nulls that field and
    captures the raw line (row still partially usable); a structurally
    broken line nulls everything; schema-conformant rows carry no
    quarantine payload. The fixture covers all three plus the
    empty-field-is-null and scientific-notation cases; expected
    outcomes are pinned literally in the oracle, so a Spark behavior
    change would fail the gate loudly.
    """
    df = spark.createDataFrame([(l,) for l in QUARANTINE_FIXTURE], "raw string")
    schema = "id INT, qty DOUBLE, name STRING, _corrupt STRING"
    parsed = df.select(
        "raw",
        F.from_csv(
            "raw",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("p"),
    ).select(
        F.col("p.id").alias("id"),
        F.col("p.qty").alias("qty"),
        F.col("p.name").alias("name"),
        F.col("p._corrupt").isNotNull().alias("quarantined"),
        F.col("p._corrupt").alias("quarantine_raw"),
    )
    return parsed.orderBy(F.asc_nulls_last("id"))


CSV_QUARANTINE_SQL = """
SELECT * FROM (VALUES
  (CAST(1 AS INTEGER), CAST(10.5 AS DOUBLE), CAST('alpha' AS VARCHAR), FALSE,
   CAST(NULL AS VARCHAR)),
  (2, NULL, 'beta', TRUE, '2,abc,beta'),
  (3, 7.0, 'gamma', TRUE, '3,7,gamma,extra'),
  (4, NULL, 'delta', FALSE, NULL),
  (6, 1000.0, 'zeta', FALSE, NULL),
  (NULL, NULL, NULL, TRUE, 'bad line without commas')
) AS t(id, qty, name, quarantined, quarantine_raw)
ORDER BY id NULLS LAST
"""

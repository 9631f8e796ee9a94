"""Email (.eml) directory source.

The reference lists a directory, reads every ``*.eml`` (case-
insensitive) into memory, joins them with an ``\\nEOF\\n`` sentinel and
re-splits inside the parser (`/root/reference/index.js:68-71,100-101`,
`/root/reference/bullionvault.js:34`). Distributed equivalent: Spark's
``wholetext`` reader yields one row per file with no sentinel
round-trip; file listing/partitioning scales to millions of emails.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cgtcalc_data_transformer_spark.schemas import BULLIONVAULT_RAW


def read_eml_dir(spark: SparkSession, path: str) -> DataFrame:
    """One row per .eml file: (file_name, text)."""
    # NOTE: must be the `wholetext=` kwarg — the string option key is
    # silently ignored by DataFrameReader.text and yields per-line rows.
    # The glob filter matches the extension case-insensitively, like
    # index.js:69-71.
    return spark.read.text(
        path, wholetext=True, pathGlobFilter="*.[eE][mM][lL]"
    ).select(
        F.input_file_name().alias("file_name"),
        F.col("value").alias("text"),
    )


def df_from_email_strings(spark: SparkSession, emails: list[str]) -> DataFrame:
    """Test/driver convenience: emails already in memory → DataFrame.

    Mirrors the reference test harness feeding raw email strings
    straight to the parser (`__tests__/processor.test.js:25`).
    """
    rows = [(f"mem://{i}.eml", e) for i, e in enumerate(emails)]
    return spark.createDataFrame(rows, BULLIONVAULT_RAW)

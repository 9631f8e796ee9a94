"""BullionVault "Dealing advice" emails → canonical transactions.

One row per email; every field is a regex extraction over the raw
(quoted-printable) body — same grammar as the reference's module
regexes (`/root/reference/bullionvault.js:2-8`), Java flavor:

- Summary/Deal line → kind (Buy/Sell), quantity kg, price per kg;
- (Net) Consideration / Commission lines → 3-letter currency +
  comma-grouped amount; every currency must be GBP
  (`bullionvault.js:45-67`);
- Security line must say gold or silver → asset GOLD/SILVER
  (`bullionvault.js:16-26`; the reference hard-crashes when the
  Security line is absent — here it is a `raise_error`);
- Deal time line in either of two freeform date shapes
  (`bullionvault.js:100-112`).

The per-email ``Promise.all`` concurrency (`bullionvault.js:36-38`)
is superseded by partition parallelism: regex extraction over
millions of emails distributes with zero driver involvement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from cgtcalc_data_transformer_spark.functions.dates import ddmmyyyy_from_freeform_dealtime
from cgtcalc_data_transformer_spark.functions.validation import require
from cgtcalc_data_transformer_spark.operators.canonical import to_lines

SUMMARY_RE = r"(?i)(?:Summary|Deal):\s*(Buy|Sell)\s*([0-9.,]+)\s*kg\s*@[^/]*?([0-9,]+(?:\.[0-9]+)?)\s*/kg"
CONSIDERATION_RE = r"(?i)(?:Net\s+consideration|Consideration):\s*(?:.*=')?([A-Z]{3})(?:'\})?\s([0-9,]+(?:\.[0-9]+)?)"
COMMISSION_RE = r"(?i)(?:Commission):\s*(?:.*=')?([A-Z]{3})(?:'\})?\s([0-9,]+(?:\.[0-9]+)?)"
DEALTIME_RE = r"(?i)Deal time:\s*([^\r\n]+)"
SECURITY_RE = r"(?i)Security:\s*([^\r\n]+)"


def _num(c: Column) -> Column:
    return (F.regexp_replace(c, ",", "")).try_cast("double")


def canonical(raw: DataFrame) -> DataFrame:
    """raw: DataFrame[file_name, text] → DataFrame[TRANSACTION]."""
    text = F.col("text")
    # Extract first, check second. Each check names its value twice
    # (condition and result); inlined, that repeats the regex and date
    # trees until the stage's generated code passes the JVM's 64 KB
    # method limit and Spark falls back from whole-stage codegen.
    # CollapseProject does not merge a projection whose expensive
    # outputs are used more than once into the next, so they stay two.
    extracted = raw.select(
        F.col("file_name"),
        F.regexp_extract(text, SUMMARY_RE, 1).alias("kind_raw"),
        _num(F.regexp_extract(text, SUMMARY_RE, 2)).alias("qty"),
        _num(F.regexp_extract(text, SUMMARY_RE, 3)).alias("price"),
        F.upper(F.regexp_extract(text, CONSIDERATION_RE, 1)).alias("cons_cur"),
        F.upper(F.regexp_extract(text, COMMISSION_RE, 1)).alias("comm_cur"),
        _num(F.regexp_extract(text, COMMISSION_RE, 2)).alias("commission"),
        F.regexp_extract(text, SECURITY_RE, 1).alias("security"),
        ddmmyyyy_from_freeform_dealtime(
            F.trim(F.regexp_extract(text, DEALTIME_RE, 1))
        ).alias("date"),
    )

    src = F.col("file_name")
    kind_raw, qty, price = F.col("kind_raw"), F.col("qty"), F.col("price")
    cons_cur, comm_cur = F.col("cons_cur"), F.col("comm_cur")
    commission, security, date = F.col("commission"), F.col("security"), F.col("date")

    gbp_ok = ((cons_cur == "") | (cons_cur == "GBP")) & (
        (comm_cur == "") | (comm_cur == "GBP")
    )
    asset = (
        F.when(security.rlike(r"(?i)\b(gold?)\b"), F.lit("GOLD"))
        .when(security.rlike(r"(?i)\b(silver?)\b"), F.lit("SILVER"))
    )

    checked_kind = require(
        kind_raw != "",
        F.upper(kind_raw),
        F.concat(F.lit("No Summary/Deal line found in "), src),
    )
    checked_kind = require(
        gbp_ok,
        checked_kind,
        F.concat(F.lit("Unsupported currency in "), src, F.lit(" — only GBP allowed")),
    )

    return extracted.select(
        checked_kind.alias("kind"),
        require(
            date.isNotNull(),
            date,
            F.concat(F.lit("No parsable date found in "), src),
        ).alias("date"),
        require(
            asset.isNotNull(),
            asset,
            F.concat(F.lit("Unable to detect asset type (gold/silver) in "), src),
        ).alias("asset"),
        require(
            qty.isNotNull() & (qty != 0),
            qty,
            F.concat(F.lit("Invalid quantity parsed from email "), src),
        ).alias("amount"),
        require(
            price.isNotNull() & (price > 0),
            price,
            F.concat(F.lit("Invalid price parsed from email "), src),
        ).alias("price"),
        require(
            commission.isNotNull(),
            commission,
            F.concat(F.lit("Missing or unparsable commission/expenses in "), src),
        ).alias("expenses"),
    )


def lines(raw: DataFrame) -> DataFrame:
    return to_lines(canonical(raw))

"""Interactive Investor CSV → canonical transactions.

Reference semantics (`/root/reference/ii.js`):
- rows whose ``Quantity`` fails JS ``Number()`` are skipped (fee /
  interest rows with ``n/a``; note ``Number('') === 0`` so an empty
  quantity is NOT skipped but read as 0 — `ii.js:46`);
- kind strictly from Debit/Credit numeric-ness after ``£,`` strip:
  debit-only → BUY, credit-only → SELL, anything else is an error
  (`ii.js:64-71`);
- date = ``Settlement Date`` (not trade date), zero-padded day-first
  (`ii.js:61,73,98-109`);
- asset = first non-empty of Sedol, Symbol (`ii.js:74-75`);
- amount = ``abs(Number(Quantity))`` — sells are negative in the
  export (`ii.js:77-78`);
- price = ``Number`` of ``£,``-stripped Price; missing → error
  (`ii.js:80-86`); expenses always 0 (`ii.js:88`).

Empty cells arrive as ``''``, never null, on every path (the CSV
reader's rule 2, ``sources/csv.py``), so the ``''`` rules above hold:
an empty Quantity is 0, an empty Debit or Credit counts as numeric.

Pure filter+project column expressions; no UDFs, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cgtcalc_data_transformer_spark.functions.dates import ddmmyyyy_from_dmy
from cgtcalc_data_transformer_spark.functions.validation import money_double, require
from cgtcalc_data_transformer_spark.operators.canonical import to_lines


def _js_number(col) -> F.Column:
    """JS ``Number()``: empty/whitespace string → 0, else strict parse."""
    c = F.trim(col if not isinstance(col, str) else F.col(col))
    return F.when(c == "", F.lit(0.0)).otherwise((c).try_cast("double"))


def canonical(raw: DataFrame) -> DataFrame:
    # F2: skip rows where Number(Quantity) is NaN (keeps '' → 0)
    kept = raw.filter(_js_number(F.col("Quantity")).isNotNull())

    # JS isNaN(x.replace(/[£,]/g,'')): '' coerces to 0 → "numeric"
    def _numericish(name: str):
        stripped = F.regexp_replace(F.trim(F.col(name)), "[£,]", "")
        return (stripped == "") | (stripped).try_cast("double").isNotNull()

    has_debit = _numericish("Debit")
    has_credit = _numericish("Credit")
    kind = (
        F.when(has_debit & ~has_credit, F.lit("BUY"))
        .when(has_credit & ~has_debit, F.lit("SELL"))
        .otherwise(F.raise_error(F.lit("Unable to determine BUY/SELL from Debit/Credit")))
    )

    settlement = F.trim(F.col("Settlement Date"))
    date = ddmmyyyy_from_dmy(settlement)
    asset = F.coalesce(
        F.when(F.trim("Sedol") != "", F.trim("Sedol")),
        F.when(F.trim("Symbol") != "", F.trim("Symbol")),
    )
    amount = F.abs(_js_number(F.col("Quantity")))
    price_raw = F.trim(F.col("Price"))
    price = money_double(price_raw)

    return kept.select(
        kind.alias("kind"),
        require(
            (settlement != "") & date.isNotNull(),
            date,
            F.concat(F.lit("Missing settlement date value: "), F.coalesce(settlement, F.lit("null"))),
        ).alias("date"),
        require(asset.isNotNull(), asset, F.lit("Missing asset identifier")).alias("asset"),
        amount.alias("amount"),
        require(
            (price_raw != "") & price.isNotNull(),
            price,
            F.concat(F.lit("Invalid or missing Price: "), F.coalesce(price_raw, F.lit("null"))),
        ).alias("price"),
        F.lit(0.0).alias("expenses"),
    )


def lines(raw: DataFrame) -> DataFrame:
    return to_lines(canonical(raw))

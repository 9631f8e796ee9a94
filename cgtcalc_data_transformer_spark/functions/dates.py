"""Date parsing/formatting kernels → canonical ``dd/MM/yyyy`` strings.

The reference accepts four input date shapes and always emits
``DD/MM/YYYY`` (SURVEY.md §2 D1-D5). All kernels here are pure column
expressions (string ops + `to_date`), deliberately timezone-free:

- ISO instants keep their UTC calendar date (the reference's output
  depends on the runtime TZ via local `getDate()` accessors,
  `/root/reference/freetrade.js:184-186`; its golden corpus was
  produced under UTC, so UTC-date extraction is the contract).
- Month names are resolved via a 3-letter-prefix lookup instead of
  Java text patterns, so both "Apr 15, 2025" and "21 August 2019"
  parse with one mechanism (V8's lenient Date parser accepts both,
  `/root/reference/bullionvault.js:100-112`).

Every kernel returns NULL for unparseable input; callers wrap with
``functions.validation.require`` to reproduce the reference's
fail-fast throws.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_OUT = "dd/MM/yyyy"

# 3-letter lowercase month prefix → month number. Handles both full
# ("August") and abbreviated ("Aug") English month names.
_MONTHS = {
    "jan": "01", "feb": "02", "mar": "03", "apr": "04",
    "may": "05", "jun": "06", "jul": "07", "aug": "08",
    "sep": "09", "oct": "10", "nov": "11", "dec": "12",
}


def _month_num(word: Column) -> Column:
    """Month-name column → zero-padded month-number string (or NULL)."""
    # One flat CASE WHEN: nested when(...).otherwise(when(...)) doubles
    # the plan's JSON size per level.
    key = F.substring(F.lower(word), 1, 3)
    (k0, v0), *rest = _MONTHS.items()
    expr = F.when(key == k0, F.lit(v0))
    for k, v in rest:
        expr = expr.when(key == k, F.lit(v))
    return expr


def ddmmyyyy_from_iso_instant(col: Column | str) -> Column:
    """``2025-09-19T14:04:05.981Z`` → ``19/09/2025`` (UTC calendar date).

    Pure string surgery — no timestamp type, no session-TZ
    dependence. Mirrors `/root/reference/freetrade.js:178-188` under
    the UTC runtime its goldens assume.
    """
    c = F.col(col) if isinstance(col, str) else col
    m = F.regexp_extract(c, r"^(\d{4})-(\d{2})-(\d{2})T", 0)
    y = F.regexp_extract(c, r"^(\d{4})-(\d{2})-(\d{2})T", 1)
    mo = F.regexp_extract(c, r"^(\d{4})-(\d{2})-(\d{2})T", 2)
    d = F.regexp_extract(c, r"^(\d{4})-(\d{2})-(\d{2})T", 3)
    return F.when(m != "", F.concat_ws("/", d, mo, y))


def ddmmyyyy_from_dmy(col: Column | str) -> Column:
    """``4/1/2024`` or ``04/01/2024`` → ``04/01/2024`` (zero-padded).

    Day-first discipline throughout, like `/root/reference/ii.js:98-109`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(F.try_to_date(F.trim(c), "d/M/yyyy"), _OUT)


def ddmmyyyy_from_d_mon_yyyy(col: Column | str) -> Column:
    """``16 Jun 2023`` / ``16 June 2023`` → ``16/06/2023``."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    pat = r"^(\d{1,2})\s+([A-Za-z]+)\s+(\d{4})$"
    d = F.regexp_extract(c, pat, 1)
    mon = _month_num(F.regexp_extract(c, pat, 2))
    y = F.regexp_extract(c, pat, 3)
    return F.when(
        (d != "") & mon.isNotNull(), F.concat_ws("/", F.lpad(d, 2, "0"), mon, y)
    )


def ddmmyyyy_from_freeform_dealtime(col: Column | str) -> Column:
    """BullionVault deal-time freeform → ``dd/MM/yyyy``.

    Two observed shapes (`/root/reference/bullionvault.js:100-112`,
    goldens at `__tests__/data/bullionvault.json`):
      ``May 20, 2025 at 9:59:30 PM BST``  (Mon d, yyyy …)
      ``21 August 2019 11:23:26 BST``     (d Month yyyy …)
    We extract just the calendar date with two regexes and coalesce.
    """
    c = F.trim(F.col(col) if isinstance(col, str) else col)

    p1 = r"^([A-Za-z]+)\s+(\d{1,2}),\s*(\d{4})"
    d1 = F.regexp_extract(c, p1, 2)
    m1 = _month_num(F.regexp_extract(c, p1, 1))
    y1 = F.regexp_extract(c, p1, 3)
    v1 = F.when((d1 != "") & m1.isNotNull(), F.concat_ws("/", F.lpad(d1, 2, "0"), m1, y1))

    p2 = r"^(\d{1,2})\s+([A-Za-z]+)\s+(\d{4})"
    d2 = F.regexp_extract(c, p2, 1)
    m2 = _month_num(F.regexp_extract(c, p2, 2))
    y2 = F.regexp_extract(c, p2, 3)
    v2 = F.when((d2 != "") & m2.isNotNull(), F.concat_ws("/", F.lpad(d2, 2, "0"), m2, y2))

    return F.coalesce(v1, v2)


def date_key_from_ddmmyyyy(col: Column | str) -> Column:
    """Canonical ``dd/MM/yyyy`` string → DateType sort key.

    The merge pipeline re-derives a date from each serialized line for
    chronological ordering (`/root/reference/index.js:15-34`). Kept as
    a real DateType column so Spark range-partitions the sort on it.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_date(c, "d/M/yyyy")

"""Expected conversion output, computed in plain Python.

An independent re-statement of the converter's contract, used to check
the program's ``data.txt`` byte for byte. It shares no code with the
engine: each broker format is parsed with the stdlib ``csv``/``re``
modules, numbers are printed with ECMAScript ``Number::toString``
rules, and the merge is a stable sort on the line's date.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import re
from decimal import Decimal

_ZERO_WIDTH = "﻿​‎‏"
_NUMBER = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_MONTH = {m: i + 1 for i, m in enumerate(
    ["jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep", "oct", "nov", "dec"])}
FIDELITY_TYPES = {
    "buy", "sell", "auto-sell for fees", "buy for switch", "sell for switch",
    "buy from regular savings plan", "cash out/sell for transfer",
}


class ConversionError(ValueError):
    """The input is one the converter must reject."""


def js_number(x: float) -> str:
    """ECMAScript Number::toString(10) for a finite double."""
    if x == 0:
        return "0"
    sign, digits, exp = Decimal(repr(float(x))).normalize().as_tuple()
    s = "".join(map(str, digits))
    k, n = len(s), exp + len(s)  # x = 0.s * 10**n
    if k <= n <= 21:
        out = s + "0" * (n - k)
    elif 0 < n <= 21:
        out = s[:n] + "." + s[n:]
    elif -6 < n <= 0:
        out = "0." + "0" * -n + s
    else:
        e = n - 1
        out = s[0] + ("." + s[1:] if k > 1 else "") + ("e+" if e >= 0 else "e-") + str(abs(e))
    return ("-" if sign else "") + out


def _num(text: str | None) -> float | None:
    t = (text or "").strip()
    return float(t) if _NUMBER.match(t) else None


def _line(kind: str, date: str, asset: str, amount: float, price: float, expenses: float) -> str:
    return " ".join([kind, date, asset, js_number(amount), js_number(price), js_number(expenses)])


def _ddmmyyyy(day: int, month: int, year: int) -> str:
    return f"{day:02d}/{month:02d}/{year:04d}"


def _cells(text: str, skip_header: bool = True) -> list[list[str]]:
    rows = [r for r in csv.reader(io.StringIO(text)) if any(c.strip() for c in r)]
    return rows[1:] if skip_header else rows


# ------------------------------------------------------------ freetrade
def freetrade(text: str) -> list[str]:
    rows = _cells(text, skip_header=False)
    header, out = rows[0], []
    for cells in rows[1:]:
        r = {h: (cells[i].strip() if i < len(cells) else "") for i, h in enumerate(header)}
        side = r["Buy / Sell"].lower()
        if r["Type"].lower() != "order" or side not in ("buy", "sell"):
            continue
        m = re.match(r"^(\d{4})-(\d{2})-(\d{2})T", r["Timestamp"])
        asset = r["ISIN"] or r["Ticker"]
        amount = _num(r["Quantity"])
        price = _num(r["Price per Share in Account Currency"])
        if not m or not asset or not amount or price is None or price <= 0:
            raise ConversionError(f"bad freetrade row: {cells}")
        expenses = (_num(r["Stamp Duty"]) or 0.0) + (_num(r["FX Fee Amount"]) or 0.0)
        out.append(_line(side.upper(), f"{m[3]}/{m[2]}/{m[1]}", asset, amount, price, expenses))
    return out


# ------------------------------------------------------------------- ii
def ii(text: str) -> list[str]:
    out = []
    for cells in _cells(text.lstrip(_ZERO_WIDTH)):
        _, settle, symbol, sedol, qty_s, price_s = (c.strip() for c in cells[:6])
        debit, credit = (c.strip().replace("£", "").replace(",", "") for c in cells[8:10])
        qty = _num(qty_s)
        if qty is None:
            continue  # fee / interest rows
        has_debit = debit == "" or _num(debit) is not None
        has_credit = credit == "" or _num(credit) is not None
        if has_debit == has_credit:
            raise ConversionError(f"ii row is neither buy nor sell: {cells}")
        m = re.match(r"^(\d{1,2})/(\d{1,2})/(\d{4})$", settle)
        price = _num(price_s.replace("£", "").replace(",", ""))
        if not m or price is None or not (sedol or symbol):
            raise ConversionError(f"bad ii row: {cells}")
        day, month, year = int(m[1]), int(m[2]), int(m[3])
        dt.date(year, month, day)  # calendar check
        out.append(_line("BUY" if has_debit else "SELL", _ddmmyyyy(day, month, year),
                         sedol or symbol, abs(qty), price, 0.0))
    return out


# ------------------------------------------------------------- fidelity
def fidelity(text: str) -> list[str]:
    out = []
    for raw in re.split(r"\r?\n", text)[8:]:
        if not raw.strip():
            continue
        cells = next(csv.reader([raw])) + [""] * 12
        if cells[2].strip().lower() not in FIDELITY_TYPES:
            continue  # cash rows and repeated headers
        amount, qty, price = _num(cells[7]), _num(cells[8]), _num(cells[9])
        m = re.match(r"^(\d{1,2})\s+([A-Za-z]+)\s+(\d{4})$", cells[1].strip())
        asset = re.sub(r"\s+", "_", cells[3].strip())
        if not amount or not qty or price is None or price <= 0 or not m or not asset:
            raise ConversionError(f"bad fidelity row: {raw}")
        month = _MONTH[m[2][:3].lower()]
        out.append(_line("BUY" if amount > 0 else "SELL", _ddmmyyyy(int(m[1]), month, int(m[3])),
                         asset, qty, price, 0.0))
    return out


# --------------------------------------------------------- bullionvault
def _fields(email: str) -> dict[str, str]:
    fields = {}
    for raw in email.splitlines():
        line = re.sub(r"<[^>]+>", "", raw.replace("=09", "")).strip()
        key, sep, value = line.partition(":")
        if sep:
            fields.setdefault(key.strip().lower(), value.strip())
    return fields


def _deal_date(text: str) -> tuple[int, int, int]:
    m = re.match(r"^([A-Za-z]+) (\d{1,2}), (\d{4})", text)
    if m:
        return int(m[2]), _MONTH[m[1][:3].lower()], int(m[3])
    m = re.match(r"^(\d{1,2}) ([A-Za-z]+) (\d{4})", text)
    if m:
        return int(m[1]), _MONTH[m[2][:3].lower()], int(m[3])
    raise ConversionError(f"no deal date in {text!r}")


def _gbp(value: str) -> float:
    cur, _, amount = value.partition(" ")
    if cur != "GBP":
        raise ConversionError(f"non-GBP amount {value!r}")
    return float(amount.replace(",", ""))


def bullionvault(emails: list[str]) -> list[str]:
    """``emails`` in file-name order."""
    out = []
    for email in emails:
        f = _fields(email)
        deal = f.get("summary") or f.get("deal") or ""
        m = re.match(r"^(Buy|Sell) ([\d.]+)kg @ (GBP [\d,.]+)/kg$", deal)
        if not m:
            raise ConversionError(f"no deal line in {email[:60]!r}")
        security = f.get("security", "").lower().split()
        asset = "GOLD" if "gold" in security else "SILVER" if "silver" in security else None
        if asset is None:
            raise ConversionError("no gold/silver security")
        _gbp(f.get("consideration") or f.get("net consideration") or "GBP 0")
        day, month, year = _deal_date(f["deal time"])
        out.append(_line(m[1].upper(), _ddmmyyyy(day, month, year), asset,
                         float(m[2]), _gbp(m[3]), _gbp(f["commission"])))
    return out


# ------------------------------------------------------------- the merge
def _date_of(line: str) -> dt.date:
    d, m, y = line.split(" ")[1].split("/")
    return dt.date(int(y), int(m), int(d))


def convert(fmt: str, files: dict[str, str]) -> list[str]:
    """Canonical lines for one export (``files``: relative path -> text)."""
    if fmt == "bullionvault":
        return bullionvault([files[k] for k in sorted(files)])
    (text,) = files.values()
    return {"freetrade": freetrade, "ii": ii, "fidelity": fidelity}[fmt](text)


def merged_output(history: list[str], new_lines: list[str]) -> str:
    """The ``data.txt`` bytes after a run: previous lines then new ones,
    stably sorted by date (previous lines first on equal dates)."""
    old = [ln.strip(" ") for ln in history if ln.strip(" ")]
    lines = sorted(old + new_lines, key=_date_of)  # sorted() is stable
    return "".join(ln + "\n" for ln in lines)

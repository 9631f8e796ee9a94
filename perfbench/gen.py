"""Seeded input generators for the benchmark.

Everything here is plain Python (stdlib ``random``) and depends only
on the seed and the job index, so the same seed always yields
byte-identical inputs. The program under test only ever sees the files written here.

Broker exports cover the edge cases the program's own fixtures cover:
``£``/comma-decorated numbers, a zero-width character leading the ii
export, the 8-line Fidelity preamble with a repeated header and a
trailing comma per row, non-trade rows that every parser must drop,
and both BullionVault deal-time shapes.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import math
import os
import random
from dataclasses import dataclass

FORMATS = ("freetrade", "ii", "fidelity", "bullionvault")

FREETRADE_HEADER = [
    "Title", "Type", "Timestamp", "Account Currency", "Total Amount",
    "Buy / Sell", "Ticker", "ISIN", "Price per Share in Account Currency",
    "Stamp Duty", "Quantity", "Venue", "Order ID", "Order Type",
    "Instrument Currency", "Total Shares Amount", "Price per Share",
    "FX Rate", "Base FX Rate", "FX Fee (BPS)", "FX Fee Amount",
    "Dividend Ex Date", "Dividend Pay Date", "Dividend Eligible Quantity",
    "Dividend Amount Per Share", "Dividend Gross Distribution Amount",
    "Dividend Net Distribution Amount", "Dividend Withheld Tax Percentage",
    "Dividend Withheld Tax Amount", "Stock Split Ex Date",
    "Stock Split Pay Date", "Stock Split New ISIN",
    "Stock Split Rate of Share Outturn From",
    "Stock Split Rate of Share Outturn To",
    "Stock Split Maintain Holding of Initial ISIN",
    "Stock Split New Share Quantity",
    "Stock Split Rate of Cash Outturn Amount",
    "Stock Split Rate of Cash Outturn Currency",
    "Stock Split Cash Outturn Received Amount",
    "Stock Split Has Fractional Payout",
    "Stock Split Rate of Fractional Payout Amount",
    "Stock Split Rate of Fractional Payout Currency",
    "Stock Split Fractional Payout Cash Received Amount",
    "Stock Split Fractional Payout Cash Received Currency",
]
II_HEADER = [
    "Date", "Settlement Date", "Symbol", "Sedol", "Quantity", "Price",
    "Description", "Reference", "Debit", "Credit", "Running Balance",
]
FIDELITY_HEADER = (
    "Order date,Completion date,Transaction type,Investments,Product Wrapper,"
    "Account Number,Source investment,Amount,Quantity,Price per unit,"
    "Reference Number,Status,"
)
FIDELITY_TRADE_TYPES = [
    "Buy", "Sell", "Auto-sell for fees", "Buy for switch", "Sell for switch",
    "Buy from regular savings plan", "Cash out/sell for transfer",
]
FIDELITY_SELL_TYPES = {"Sell", "Auto-sell for fees", "Sell for switch", "Cash out/sell for transfer"}
ZERO_WIDTH_LEADS = ("﻿", "​", "‎", "‏")
MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
_WORDS = [
    "Acme", "Zed", "Global", "Smaller", "Companies", "Index", "Trust",
    "Income", "Growth", "Tech", "Energy", "Bank", "Capital", "Royal",
]
_DAY0 = dt.date(2015, 1, 1)
_DAYS = (dt.date(2025, 12, 31) - _DAY0).days

# convert_per_user: every HEAVY_EVERY-th job (at offset HEAVY_AT) merges
# into a ~1e5-line history. 13 is coprime with the 4-format rotation, so
# over 52 jobs heavy histories visit every broker format. The 12 jobs of
# an untraced run hold one, job 1, an ii export; it falls in the
# first round, so the one-round traced run measures it too.
HEAVY_EVERY = 13
HEAVY_AT = 1


def _day(rng: random.Random) -> dt.date:
    return _DAY0 + dt.timedelta(days=rng.randrange(_DAYS))


def _money(rng: random.Random, lo: float, hi: float, decimals: int = 2) -> str:
    return f"{rng.uniform(lo, hi):.{decimals}f}"


def _asset_code(rng: random.Random) -> str:
    return "GB" + "".join(rng.choice("0123456789") for _ in range(10))


def _csv_line(fields: list[str]) -> str:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="").writerow(fields)
    return buf.getvalue()


# ------------------------------------------------------------ freetrade
def freetrade_csv(rng: random.Random, n_rows: int) -> str:
    out = [_csv_line(FREETRADE_HEADER)]
    for _ in range(n_rows):
        row = dict.fromkeys(FREETRADE_HEADER, "")
        day = _day(rng)
        row["Title"] = rng.choice(["Acme Corp", "Zed Trust", "Smith, Jones & Co", "Global Tech"])
        row["Timestamp"] = (
            f"{day.isoformat()}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:"
            f"{rng.randrange(60):02d}.{rng.randrange(1000):03d}Z"
        )
        row["Account Currency"] = "GBP"
        if rng.random() < 0.1:  # non-trade rows the parser drops
            row["Type"] = rng.choice(["MONTHLY_STATEMENT", "DIVIDEND", "TOP_UP", "INTEREST_FROM_CASH"])
            row["Total Amount"] = _money(rng, 1, 500)
            out.append(_csv_line([row[c] for c in FREETRADE_HEADER]))
            continue
        row["Type"] = rng.choice(["ORDER", "order", "Order"])
        row["Buy / Sell"] = rng.choice(["BUY", "SELL", "buy", "Sell"])
        row["Ticker"] = rng.choice(["ACME", "ZZT", "VOD", "BARC", "TSCO"])
        row["ISIN"] = "" if rng.random() < 0.2 else _asset_code(rng)
        decimals = rng.choice([0, 2, 2, 4, 8])
        qty = rng.uniform(1 if decimals == 0 else 0.01, 500)
        row["Quantity"] = f"{qty:.{decimals}f}" if decimals else f"{round(qty)}.00"
        row["Price per Share in Account Currency"] = _money(rng, 0.05, 5000, rng.choice([2, 4]))
        row["Stamp Duty"] = "" if rng.random() < 0.5 else _money(rng, 0, 25)
        row["FX Fee Amount"] = "" if rng.random() < 0.6 else _money(rng, 0, 5)
        row["Total Amount"] = _money(rng, 1, 50000)
        row["Order ID"] = f"{rng.randrange(10**9):09d}"
        out.append(_csv_line([row[c] for c in FREETRADE_HEADER]))
    return "\n".join(out) + "\n"


# ------------------------------------------------------------------- ii
def _gbp(x: float) -> str:
    return f"£{x:,.2f}"


def ii_csv(rng: random.Random, n_rows: int) -> str:
    out = [rng.choice(ZERO_WIDTH_LEADS) + _csv_line(II_HEADER)]
    for i in range(n_rows):
        trade = _day(rng)
        settle = trade + dt.timedelta(days=rng.choice([0, 1, 2, 3]))
        fmt = (lambda d: f"{d.day}/{d.month}/{d.year}") if rng.random() < 0.3 else (
            lambda d: d.strftime("%d/%m/%Y")
        )
        if rng.random() < 0.1:  # fee/interest row: Quantity n/a, dropped
            out.append(_csv_line([
                fmt(trade), fmt(settle), "n/a", "n/a", "n/a", "n/a",
                "Monthly Fee", f"R{i}", _gbp(rng.uniform(1, 20)), "n/a", _gbp(rng.uniform(0, 9000)),
            ]))
            continue
        qty = rng.uniform(0.5, 2000)
        qty_s = str(rng.randrange(1, 2000)) if rng.random() < 0.5 else f"{qty:.1f}"
        price = rng.uniform(0.1, 5000)
        value = _gbp(price * float(qty_s))
        buy = rng.random() < 0.6
        sedol = "" if rng.random() < 0.15 else "B" + "".join(rng.choice("0123456789") for _ in range(6))
        out.append(_csv_line([
            fmt(trade), fmt(settle), rng.choice(["TST", "QRS", "VOD", "BP."]), sedol,
            qty_s if buy else "-" + qty_s, _gbp(price),
            ("Buy " if buy else "Sell ") + rng.choice(_WORDS), f"R{i}",
            value if buy else "n/a", "n/a" if buy else value, _gbp(rng.uniform(0, 90000)),
        ]))
    return "\n".join(out) + "\n"


# ------------------------------------------------------------- fidelity
def _fid_date(d: dt.date, rng: random.Random) -> str:
    month = MONTHS[d.month - 1]
    return f"{d.day} {month if rng.random() < 0.2 else month[:3]} {d.year}"


def fidelity_csv(rng: random.Random, n_rows: int) -> str:
    out = ["", "Client account export", f"Generated {_day(rng).isoformat()}", "", "", "", "", "",
           FIDELITY_HEADER, ""]
    repeat_at = rng.randrange(n_rows) if n_rows else -1
    for i in range(n_rows):
        if i == repeat_at:
            out.append(FIDELITY_HEADER)  # repeated header mid-file
        order = _day(rng)
        done = order + dt.timedelta(days=rng.choice([0, 1, 3]))
        fund = " ".join(rng.sample(_WORDS, rng.randint(2, 4))) + rng.choice(["", " Acc", ", Inc"])
        if rng.random() < 0.1:  # cash movements: not a whitelisted type
            kind = rng.choice(["Cash In", "Cash Out", "Dividend", "Interest"])
            amount = _money(rng, 1, 900)
            out.append(_csv_line([
                _fid_date(order, rng), _fid_date(done, rng), kind, "Cash", "Investment Account",
                "ZZ00000001", "", amount, amount, "1", f"R{i}", "Completed", "",
            ]))
            continue
        kind = rng.choice(FIDELITY_TRADE_TYPES)
        qty = rng.uniform(0.01, 900)
        price = rng.uniform(1.0, 400)
        amount = qty * price * (-1 if kind in FIDELITY_SELL_TYPES else 1)
        out.append(_csv_line([
            _fid_date(order, rng), _fid_date(done, rng), rng.choice([kind, kind.upper(), kind.lower()]),
            fund, "Investment Account", "ZZ00000001", "", f"{amount:.2f}", f"{qty:.{rng.choice([0, 2, 4])}f}"
            if qty >= 1 else f"{qty:.4f}", f"{price:.2f}", f"R{i}", "Completed", "",
        ]))
    return "\n".join(out) + "\n"


# --------------------------------------------------------- bullionvault
def bullionvault_email(rng: random.Random, deal_no: int) -> str:
    d = _day(rng)
    h, m, s = rng.randrange(24), rng.randrange(60), rng.randrange(60)
    if rng.random() < 0.5:
        when = f"{MONTHS[d.month - 1]} {d.day}, {d.year} at {(h % 12) or 12}:{m:02d}:{s:02d} {'PM' if h >= 12 else 'AM'} BST"
    else:
        when = f"{d.day} {MONTHS[d.month - 1]} {d.year} {h:02d}:{m:02d}:{s:02d} BST"
    gold = rng.random() < 0.6
    kg = rng.uniform(0.001, 5) if gold else rng.uniform(0.1, 50)
    kg_s = f"{kg:.3f}"
    price = rng.uniform(30000, 70000) if gold else rng.uniform(400, 900)
    consideration = float(kg_s) * price
    commission = max(0.01, consideration * 0.005)
    deal = rng.choice(["Buy", "Sell"])
    return (
        f"Subject: Dealing advice {deal_no}\n\n<html><body>\n"
        f"=09Security: Fine {'gold' if gold else 'silver'} kilos in "
        f"{rng.choice(['Zurich', 'London', 'Toronto', 'Singapore'])} vault<br>\n"
        f"=09{rng.choice(['Summary', 'Deal'])}: {deal} {kg_s}kg @ GBP {price:,.2f}/kg\n"
        f"=09Deal time: {when}\n"
        f"=09{rng.choice(['Consideration', 'Net consideration'])}: GBP {consideration:,.2f}\n"
        f"=09Commission: GBP {commission:,.2f}\n"
        "</body></html>"
    )


def bullionvault_emails(rng: random.Random, n: int) -> list[str]:
    return [bullionvault_email(rng, 100000 + i) for i in range(n)]


# -------------------------------------------------------- history files
def history_lines(rng: random.Random, n: int) -> list[str]:
    """A previous ``data.txt``: canonical lines in chronological order."""
    rows = []
    for _ in range(n):
        d = _day(rng)
        asset = rng.choice(["GOLD", "SILVER", "ACME", "My_Test_Fund"]) if rng.random() < 0.3 else _asset_code(rng)
        qty = round(rng.uniform(0.01, 900), rng.choice([0, 2, 4]))
        rows.append((d, f"{rng.choice(['BUY', 'SELL'])} {d.strftime('%d/%m/%Y')} {asset} "
                        f"{_plain(qty or 1)} {_plain(round(rng.uniform(0.1, 900), 2))} "
                        f"{_plain(round(rng.uniform(0, 20), 2))}"))
    rows.sort(key=lambda r: r[0])
    return [line for _, line in rows]


def _plain(x: float) -> str:
    return str(int(x)) if float(x).is_integer() else repr(float(x))


# ------------------------------------------------------------ job specs
@dataclass
class Job:
    """One conversion: broker export files plus the user's previous output."""

    fmt: str
    files: dict[str, str]  # relative path -> text
    history: list[str]
    export_rows: int


def export_files(rng: random.Random, fmt: str, n_rows: int) -> dict[str, str]:
    if fmt == "freetrade":
        return {"freetrade.csv": freetrade_csv(rng, n_rows)}
    if fmt == "ii":
        return {"ii.csv": ii_csv(rng, n_rows)}
    if fmt == "fidelity":
        return {"fidelity.csv": fidelity_csv(rng, n_rows)}
    if fmt == "bullionvault":
        return {
            f"export/deal_{i:06d}.eml": text
            for i, text in enumerate(bullionvault_emails(rng, n_rows))
        }
    raise ValueError(fmt)


def history_size(rng: random.Random, index: int) -> int:
    """Skewed history sizes: log-normal around 100 lines (tens to
    hundreds), with every HEAVY_EVERY-th user holding ~1e5 lines."""
    if index % HEAVY_EVERY == HEAVY_AT:
        return rng.randint(95_000, 105_000)
    return max(10, min(3000, int(math.exp(rng.gauss(math.log(100), 0.8)))))


def export_rows(fmt: str, index: int) -> int:
    """Rows in job ``index``'s export: tens of rows (a handful of emails),
    varying by job but the same for every seed, so that runs with
    different seeds convert the same amount of input."""
    return 2 + index % 11 if fmt == "bullionvault" else 10 + (7 * index) % 51


def per_user_job(seed: int, index: int) -> Job:
    """Job ``index`` of convert_per_user: a small export in the rotating
    broker format, merged into that user's own history."""
    rng = random.Random(f"per_user:{seed}:{index}")
    fmt = FORMATS[index % len(FORMATS)]
    rows = export_rows(fmt, index)
    return Job(fmt, export_files(rng, fmt, rows), history_lines(rng, history_size(rng, index)), rows)


def write_job(job: Job, root: str) -> None:
    for rel, text in job.files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write(text)
    with open(os.path.join(root, "data.txt"), "w", encoding="utf-8", newline="") as fh:
        fh.write("\n".join(job.history) + "\n")


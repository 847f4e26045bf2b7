"""Seeded landing CSVs for the ``eod_daily`` workload.

Each operation of a run lands one CSV for one trading date: a new date,
or, for exactly ``REVISIONS`` operations per run at seed-chosen places,
a re-landing of a date loaded earlier in the run with revised prices and
a few rows left out (so MERGE updates run beside inserts, and keys absent
from the revision keep their earlier row). The reference pipeline
re-loads a day only on a task retry or a ``FORCE`` reload, and gives no
rate for either; the benchmark therefore fixes the count, and the
revised and omitted shares below are its own choice. Symbols share the
``TK0000``..``TK9999`` namespace of the ``polygon_eod`` synthetic feed
that seeded the history, plus a few new listings per new date.

A small share of rows carries the landing fixture's edge cases: symbols
that differ only in case or padding (duplicated with identical values, so
the latest-wins dedup has one right answer), malformed numbers and null
sentinels.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import numpy as np

N_TICKERS = 10_000
NEW_LISTINGS_PER_DAY = 2
EDGE_ROWS = 20  # per edge-case kind per file: 0.2% of 10,000 rows
REVISIONS = 1  # re-landed dates per run, never the first operation
REVISE_SHARE = 0.10  # of a re-landing's rows, with open and close moved 1%
OMIT_SHARE = 0.01  # of a re-landing's rows, left out
MALFORMED = ("abc", "1.2.3", "--4", "12.5.0", "n/a")
NULL_SENTINELS = ("", "NULL", "NaN")
HEADER = "trade_date,symbol,open,high,low,close,volume\n"


@dataclasses.dataclass(frozen=True)
class Landing:
    op: int
    trade_date: str
    path: str
    ingest_ts: dt.datetime
    revised: bool


def trading_days_after(day: dt.date, n: int) -> list[dt.date]:
    """The next ``n`` weekdays after ``day`` (the feed has no holidays)."""
    out = []
    while len(out) < n:
        day += dt.timedelta(days=1)
        if day.weekday() < 5:
            out.append(day)
    return out


def _variant(rng: np.random.Generator, symbol: str) -> str:
    pick = rng.integers(3)
    if pick == 0:
        return symbol.lower()
    if pick == 1:
        return f"  {symbol} "
    return f" {symbol.lower()}"


def _day_frame(rng: np.random.Generator, symbols: list[str]) -> dict[str, list[str]]:
    n = len(symbols)
    close = rng.uniform(5.0, 500.0, n)
    cols = {
        "open": close * rng.uniform(0.97, 1.03, n),
        "high": close * rng.uniform(1.00, 1.05, n),
        "low": close * rng.uniform(0.95, 1.00, n),
        "close": close,
    }
    out = {k: [f"{v:.4f}" for v in arr] for k, arr in cols.items()}
    out["volume"] = [str(v) for v in rng.integers(1_000, 5_000_000, n)]
    out["symbol"] = list(symbols)
    return out


def _with_edge_cases(rng: np.random.Generator, frame: dict[str, list[str]]) -> list[list[str]]:
    n = len(frame["symbol"])
    fields = ["open", "high", "low", "close", "volume"]
    for kind in (MALFORMED, NULL_SENTINELS):
        for i in rng.choice(n, EDGE_ROWS, replace=False):
            col = fields[rng.integers(len(fields))]
            frame[col][i] = kind[rng.integers(len(kind))]
    rows = [[frame[c][i] for c in ["symbol", *fields]] for i in range(n)]
    # symbols landed only in a case/padding variant
    for i in rng.choice(n, EDGE_ROWS, replace=False):
        rows[i][0] = _variant(rng, rows[i][0])
    # duplicates differing only in case/padding, same values
    dups = [[_variant(rng, rows[i][0].strip().upper()), *rows[i][1:]]
            for i in rng.choice(n, EDGE_ROWS, replace=False)]
    return rows + dups


def _write(path: str, trade_date: str, rows: list[list[str]]) -> None:
    with open(path, "w") as f:
        f.write(HEADER)
        f.writelines(f"{trade_date},{','.join(r)}\n" for r in rows)


def generate(
    out_dir: str, seed: int, first_day: dt.date, n_ops: int, ts0: dt.datetime
) -> list[Landing]:
    """Write ``n_ops`` landing files under ``out_dir``; same seed, same files.

    ``REVISIONS`` operations after the first, at seed-chosen places,
    each re-land a seed-chosen date loaded earlier in the run; the other
    operations land consecutive new trading dates.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    symbols = [f"TK{i:04d}" for i in range(N_TICKERS)]
    days = iter(trading_days_after(first_day - dt.timedelta(days=1), n_ops - REVISIONS))
    loaded: dict[str, dict[str, list[str]]] = {}
    landings = []
    revisions = set(rng.choice(np.arange(1, n_ops), REVISIONS, replace=False).tolist())
    for op in range(n_ops):
        revised = op in revisions
        if revised:
            d = sorted(loaded)[int(rng.integers(len(loaded)))]
            base = loaded[d]
            keep = [i for i in range(len(base["symbol"])) if rng.random() >= OMIT_SHARE]
            frame = {k: [v[i] for i in keep] for k, v in base.items()}
            for i in np.flatnonzero(rng.random(len(keep)) < REVISE_SHARE):
                for c in ("open", "close"):
                    frame[c][i] = f"{float(frame[c][i]) * 1.01:.4f}"
        else:
            d = next(days).isoformat()
            symbols += [f"NW{op:03d}{k}" for k in range(NEW_LISTINGS_PER_DAY)]
            frame = _day_frame(rng, symbols)
            loaded[d] = {k: list(v) for k, v in frame.items()}
        path = os.path.join(out_dir, f"op{op:03d}_{d}.csv")
        _write(path, d, _with_edge_cases(rng, frame))
        landings.append(Landing(op, d, path, ts0 + dt.timedelta(hours=op), revised))
    return landings

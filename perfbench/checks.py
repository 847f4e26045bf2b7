"""Correctness gate: the warehouse a run leaves, checked against an
independent DuckDB recomputation from the landing CSVs.

- CORE, on every date the run landed, equals the landings' typed rows
  after ``UPPER(TRIM(symbol))`` and a QUALIFY-style latest-ingest-wins
  dedup (merge_core.sql semantics).
- FACT joined to DIM_SECURITY reproduces CORE's prices, and each FACT
  ``date_sk`` is the date's yyyymmdd and present in DIM_DATE.
- DIM_SECURITY holds one id per symbol, covers every CORE symbol and
  keeps every id the warehouse had before the run.
- Each collected audit row matches the counts the landings imply.

Runs after the timed window; each mismatch marks the operation that
loaded the date as failed.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import duckdb

SENTINELS = "('', 'NULL', 'NaN')"
EPOCH = dt.datetime(1970, 1, 1)
ALL_DATES = "*"  # a table-wide fault fails every operation


@dataclasses.dataclass(frozen=True)
class Landed:
    op: int
    trade_date: str
    glob: str  # a CSV file, or a glob over a landing directory's files
    ingest_ts: dt.datetime


def _num(col: str, precision: int, scale: int) -> str:
    return (
        f"CASE WHEN trim({col}) IN {SENTINELS} THEN NULL "
        f"ELSE TRY_CAST({col} AS DECIMAL({precision},{scale})) END AS {col}"
    )


def _table(wh: str, name: str) -> str:
    return f"{os.path.join(wh, name)}/**/*.parquet"


class Checker:
    def __init__(self, landed: list[Landed]):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'; SET threads = 2")
        self.con.execute(
            "CREATE TABLE landed (op INT, trade_date DATE, file VARCHAR, ingest_us BIGINT,"
            " symbol VARCHAR, open VARCHAR, high VARCHAR, low VARCHAR, close VARCHAR,"
            " volume VARCHAR)"
        )
        cols = ("{'trade_date': 'VARCHAR', 'symbol': 'VARCHAR', 'open': 'VARCHAR', "
                "'high': 'VARCHAR', 'low': 'VARCHAR', 'close': 'VARCHAR', 'volume': 'VARCHAR'}")
        for l in landed:
            us = int((l.ingest_ts - EPOCH).total_seconds() * 1_000_000)
            self.con.execute(
                f"INSERT INTO landed SELECT ?, CAST(? AS DATE), filename, ?, symbol, open, high,"
                f" low, close, volume FROM read_csv(?, header = true, delim = ',',"
                f" columns = {cols}, filename = true)",
                [l.op, l.trade_date, us, l.glob],
            )
        self.con.execute(
            "CREATE TABLE expected AS SELECT trade_date, symbol, open, high, low, close,"
            " volume, ingest_us AS load_us FROM ("
            "  SELECT trade_date, upper(trim(symbol)) AS symbol, ingest_us,"
            f" {_num('open', 18, 6)}, {_num('high', 18, 6)}, {_num('low', 18, 6)},"
            f" {_num('close', 18, 6)}, {_num('volume', 38, 0)},"
            "  row_number() OVER (PARTITION BY upper(trim(symbol)), trade_date"
            "                     ORDER BY ingest_us DESC, file DESC) AS rn"
            "  FROM landed WHERE symbol IS NOT NULL"
            ") WHERE rn = 1"
        )
        self.con.execute(
            "CREATE TABLE keys AS SELECT DISTINCT op, trade_date, upper(trim(symbol)) AS sym"
            " FROM landed WHERE symbol IS NOT NULL"
        )

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str, params=None) -> list[tuple]:
        return self.con.execute(sql, params or []).fetchall()

    def symbols_per_date(self) -> list[tuple[str, int]]:
        return [(str(d), n) for d, n in self._rows(
            "SELECT trade_date, count(DISTINCT sym) FROM keys GROUP BY ALL ORDER BY 1")]

    def audit_expectations(self) -> dict[int, dict[str, int]]:
        """Per operation: the premerge and postmerge counts it must report."""
        rows = self._rows(
            "SELECT o.op,"
            " (SELECT count(*) FROM landed x WHERE x.op = o.op),"
            " (SELECT count(*) FROM keys k WHERE k.op = o.op),"
            " (SELECT count(*) FROM keys k WHERE k.op = o.op AND k.sym IN"
            "   (SELECT e.sym FROM keys e WHERE e.trade_date = o.trade_date AND e.op < o.op)),"
            " (SELECT count(DISTINCT e.sym) FROM keys e"
            "   WHERE e.trade_date = o.trade_date AND e.op <= o.op)"
            " FROM (SELECT DISTINCT op, trade_date FROM landed) o"
        )
        return {
            op: {"raw_rows": raw, "distinct_keys": keys, "updates_est": old,
                 "inserts_est": keys - old, "core_rows": core, "fact_rows": core}
            for op, raw, keys, old, core in rows
        }

    def warehouse(self, wh: str, baseline_wh: str | None) -> tuple[set[str], list[str]]:
        """Check the warehouse at ``wh``; returns the dates whose tables
        are wrong (``ALL_DATES`` for a table-wide fault) and a description
        of every mismatch found."""
        c = self.con
        c.execute(
            "CREATE OR REPLACE VIEW core AS SELECT CAST(trade_date AS DATE) AS trade_date,"
            " symbol, open, high, low, close, volume, epoch_us(load_ts) AS load_us"
            f" FROM read_parquet('{_table(wh, 'eod_prices')}', hive_partitioning = true)"
        )
        c.execute(
            "CREATE OR REPLACE VIEW fact AS SELECT security_id, date_sk,"
            " CAST(trade_date AS DATE) AS trade_date, open, high, low, close, volume"
            f" FROM read_parquet('{_table(wh, 'fact_daily_price')}', hive_partitioning = true)"
        )
        c.execute(
            "CREATE OR REPLACE VIEW dim AS SELECT security_id, symbol"
            f" FROM read_parquet('{_table(wh, 'dim_security')}')"
        )
        c.execute(
            "CREATE OR REPLACE VIEW dim_date AS SELECT date_sk"
            f" FROM read_parquet('{_table(wh, 'dim_date')}')"
        )
        bad: set[str] = set()
        problems: list[str] = []

        def by_date(what: str, sql: str) -> None:
            for d, n in self._rows(sql):
                bad.add(str(d))
                problems.append(f"{what}: {n} rows differ on {d}")

        by_date(
            "CORE vs landings",
            "SELECT trade_date, count(*) FROM ("
            " (SELECT * FROM core WHERE trade_date IN (SELECT trade_date FROM expected)"
            "  EXCEPT ALL SELECT * FROM expected)"
            " UNION ALL"
            " (SELECT * FROM expected EXCEPT ALL SELECT * FROM core)"
            ") GROUP BY trade_date",
        )
        by_date(
            "FACT x DIM vs CORE",
            "WITH f AS (SELECT f.trade_date, d.symbol, f.open, f.high, f.low, f.close, f.volume"
            "           FROM fact f LEFT JOIN dim d USING (security_id)),"
            " k AS (SELECT trade_date, symbol, open, high, low, close, volume FROM core)"
            " SELECT trade_date, count(*) FROM ("
            "  (SELECT * FROM f EXCEPT ALL SELECT * FROM k) UNION ALL"
            "  (SELECT * FROM k EXCEPT ALL SELECT * FROM f)"
            " ) GROUP BY trade_date",
        )
        by_date(
            "FACT date_sk",
            "SELECT trade_date, count(*) FROM fact"
            " WHERE date_sk <> CAST(strftime(trade_date, '%Y%m%d') AS INT)"
            "    OR date_sk NOT IN (SELECT date_sk FROM dim_date)"
            " GROUP BY trade_date",
        )
        (n, syms, ids, missing), = self._rows(
            "SELECT count(*), count(DISTINCT symbol), count(DISTINCT security_id),"
            " (SELECT count(DISTINCT symbol) FROM core WHERE symbol NOT IN"
            "  (SELECT symbol FROM dim)) FROM dim"
        )
        table_wide = []
        if not n == syms == ids or missing:
            table_wide.append(
                f"DIM_SECURITY: {n} rows, {syms} symbols, {ids} ids,"
                f" {missing} CORE symbols missing"
            )
        if baseline_wh is not None:
            (moved,), = self._rows(
                "SELECT count(*) FROM read_parquet(?) b LEFT JOIN dim d USING (symbol)"
                " WHERE d.security_id IS DISTINCT FROM b.security_id",
                [_table(baseline_wh, "dim_security")],
            )
            if moved:
                table_wide.append(f"DIM_SECURITY: {moved} pre-run ids changed")
        if table_wide:
            bad.add(ALL_DATES)
        return bad, problems + table_wide

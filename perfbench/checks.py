"""Reference results the benchmark compares the program's outputs with.

All of it runs outside the timed window. Widgets and questions are
checked against DuckDB over the same generated parquet, refresh audits
against the expectation ``inputs.RefreshBatches`` keeps, and stream
outputs against pandas recomputations of the generated events file.
"""

from __future__ import annotations

import os
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from inputs import Op

STAR = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

GOLD_SQL = """
CREATE TABLE gold AS
SELECT o_orderkey, quarter(o_orderdate) AS qnum,
       'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
       n_name AS nation_name, r_name AS region_name,
       c_mktsegment AS segment, o_orderstatus AS status,
       o_orderpriority AS priority
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""


def _norm(rows, cols) -> list[tuple]:
    """Order-insensitive row normalization: columns by name, floats to 9
    significant digits, everything else as text."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(f"{r[i]:.9g}" if isinstance(r[i], float) else str(r[i]) for i in idx)
        for r in rows
    )


class DashboardOracle:
    """DuckDB answers for widget calls and registry questions."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in STAR:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.con.execute(GOLD_SQL)
        self._cache: dict = {}

    def close(self) -> None:
        self.con.close()

    def widget(self, op: Op) -> list[tuple]:
        if op in self._cache:
            return self._cache[op]
        where = f"qnum BETWEEN {op.quarters[0]} AND {op.quarters[1]}"
        if op.statuses is not None:
            where += " AND status IN (" + ",".join(f"'{s}'" for s in op.statuses) + ")"
        if op.kind == "kpis":
            sql = f"""SELECT count(*), count(*) FILTER (WHERE status = 'O'),
                      count(*) FILTER (WHERE status = 'F'), count(DISTINCT segment)
                      FROM gold WHERE {where}"""
        elif op.kind == "quarter_matrix":
            sql = f"""SELECT quarter, status, count(*) AS n FROM gold WHERE {where}
                      GROUP BY 1, 2 ORDER BY 1, 2"""
        else:
            sql = f"""SELECT {op.key}, count(*) AS n FROM gold WHERE {where}
                      GROUP BY 1 ORDER BY n DESC, 1 ASC LIMIT {op.k}"""
        rows = [tuple(r) for r in self.con.execute(sql).fetchall()]
        self._cache[op] = rows
        return rows

    def widget_ok(self, op: Op, rows: list[tuple]) -> bool:
        return rows == self.widget(op)

    def ask_ok(self, entry: str, oracle_sql: str, rows, cols) -> bool:
        key = ("ask", entry)
        if key not in self._cache:
            res = self.con.execute(oracle_sql)
            dcols = [d[0] for d in res.description]
            self._cache[key] = (sorted(dcols), _norm(res.fetchall(), dcols))
        dcols, drows = self._cache[key]
        return sorted(cols) == dcols and _norm(rows, cols) == drows


class StreamOracle:
    """pandas recomputations of what the three stream calls must return."""

    GAP = np.timedelta64(30 * 60 * 1_000_000, "us")

    def __init__(self, events: pa.Table):
        e = events.select(["ts", "user_id", "event_type", "value"]).to_pandas()
        cents = np.rint(e["value"].to_numpy() * 100).astype(np.int64)
        e["cents"] = cents
        day = e["ts"].dt.floor("D").dt.date
        g = e.groupby([day, "event_type"])
        self.rollup = {
            (d, t): (int(n), Decimal(int(c)) / 100)
            for (d, t), n, c in zip(g.size().index, g.size(), g["cents"].sum())
        }
        hour = e["ts"].dt.floor("h")
        h = e.groupby([hour, "event_type"]).size()
        self.hourly = {(pd.Timestamp(w).to_pydatetime(), t): int(n)
                       for (w, t), n in h.items()}
        s = e.sort_values(["user_id", "ts"], kind="stable")
        ts = s["ts"].to_numpy()
        users = s["user_id"].to_numpy()
        new = np.ones(len(s), bool)
        new[1:] = (users[1:] != users[:-1]) | (ts[1:] - ts[:-1] >= self.GAP)
        self.sessions = int(new.sum())
        self.n_events = len(e)

    def rollup_ok(self, rows) -> bool:
        got = {(r["day"], r["event_type"]): (int(r["n"]), Decimal(r["total"]))
               for r in rows}
        return got == self.rollup

    def sessions_ok(self, n_sessions: int, n_events: int) -> bool:
        return (n_sessions, n_events) == (self.sessions, self.n_events)

    def hourly_ok(self, rows) -> bool:
        got = {(r["window_start"], r["event_type"]): int(r["n"]) for r in rows}
        return got == self.hourly

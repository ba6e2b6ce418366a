"""Seeded input generators for the benchmark workloads.

Everything the program under test receives is made here from the run's
seed: the star tables (TPC-H-shaped, sf0.1 row counts), the dashboard
operation stream, the refresh key batches and the stream events file.
The same seed gives identical inputs (checked by ``test_inputs.py``).
Only NumPy, pandas and pyarrow are used, so generation needs no Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the TPC-H-shaped star (orders = the 150,000-row gold).
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "hot", "large", "red", "small", "bolt", "ring", "nut"]
EVENT_TYPES = ["click", "view", "error", "signup", "purchase"]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money as a double with exactly two decimals (integer cents / 100)."""
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The TPC-H-shaped star at sf0.1, schema-identical to the engine's
    ``schemas.TESTDATA`` tables."""
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    r = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)], s),
        "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": pa.array(_cents(r, -999, 9999, N_CUSTOMER), f64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, N_CUSTOMER)], s),
    })
    r = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)], s),
        "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": pa.array(_cents(r, -999, 9999, N_SUPPLIER), f64),
    })
    r = _rng(seed, 3)
    words = np.array(PART_WORDS)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": pa.array(
            np.char.add(np.char.add(words[r.integers(0, 5, N_PART)], " "),
                        words[r.integers(5, 8, N_PART)]), s),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, N_PART).astype(str)), s),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, N_PART)], s),
        "p_size": pa.array(r.integers(1, 51, N_PART), i32),
        "p_retailprice": pa.array(_cents(r, 900, 2100, N_PART), f64),
    })
    r = _rng(seed, 4)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(r.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, N_ORDERS)], s),
        "o_totalprice": pa.array(_cents(r, 1000, 500_000, N_ORDERS), f64),
        "o_orderdate": pa.array(_days(r, "1995-01-01", 2400, N_ORDERS), ts),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, N_ORDERS)], s),
    })
    r = _rng(seed, 5)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, N_ORDERS, N_LINEITEM), i64),
        "l_partkey": pa.array(r.integers(0, N_PART, N_LINEITEM), i64),
        "l_suppkey": pa.array(r.integers(0, N_SUPPLIER, N_LINEITEM), i64),
        "l_linenumber": pa.array(r.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": pa.array(r.integers(1, 51, N_LINEITEM).astype(np.float64), f64),
        "l_extendedprice": pa.array(_cents(r, 900, 105_000, N_LINEITEM), f64),
        "l_discount": pa.array(r.integers(0, 11, N_LINEITEM) / 100.0, f64),
        "l_tax": pa.array(r.integers(0, 9, N_LINEITEM) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, N_LINEITEM)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, N_LINEITEM)], s),
        "l_shipdate": pa.array(_days(r, "1995-01-02", 2500, N_LINEITEM), ts),
    })
    return out


# The tables ``plans.dashboard.build_gold`` reads.
GOLD_TABLES = ("region", "nation", "customer", "orders")


def write_star(seed: int, sf_dir: str, names=None) -> dict[str, pa.Table]:
    os.makedirs(sf_dir, exist_ok=True)
    tables = star_tables(seed)
    for name in names or tables:
        _write(tables[name], os.path.join(sf_dir, f"{name}.parquet"))
    return tables


def gold_frame(tables: dict[str, pa.Table]) -> pd.DataFrame:
    """pandas twin of ``plans.dashboard.build_gold``: the state the
    refresh workload keeps its expectation against."""
    o = tables["orders"].to_pandas()
    c = tables["customer"].to_pandas()[["c_custkey", "c_nationkey", "c_mktsegment"]]
    n = tables["nation"].to_pandas()
    r = tables["region"].to_pandas()
    g = (o.merge(c, left_on="o_custkey", right_on="c_custkey", how="left")
         .merge(n, left_on="c_nationkey", right_on="n_nationkey", how="left")
         .merge(r, left_on="n_regionkey", right_on="r_regionkey", how="left"))
    qnum = g["o_orderdate"].dt.quarter.astype("int32")
    return pd.DataFrame({
        "o_orderkey": g["o_orderkey"].astype("int64"),
        "qnum": qnum,
        "quarter": "Q" + qnum.astype(str),
        "nation_name": g["n_name"],
        "region_name": g["r_name"],
        "segment": g["c_mktsegment"],
        "status": g["o_orderstatus"],
        "priority": g["o_orderpriority"],
    }).sort_values("o_orderkey", ignore_index=True)


# ---------------------------------------------------------------------------
# dashboard: the seeded operation stream
# ---------------------------------------------------------------------------

# One question per routed registry entry; each must route to its entry
# (checked by test_inputs.py and again at benchmark start).
ASK_POOL: tuple[tuple[str, str], ...] = (
    ("top segment by nation", "q1_top_segments"),
    ("priority counts for q4", "q2_top_priorities_q4"),
    ("quarter ranking", "q3_quarter_ranking"),
    ("kpi summary overview", "a4_kpis"),
    ("average median price stats", "a10_value_stats"),
    ("trend over time", "w1_quarter_trend"),
    ("popular part types", "o2_top5_types"),
    ("revenue sum by sales amount", "a12_star_measures"),
)

WIDGETS = ("kpis", "quarter_matrix", "top_groups")
GROUP_KEYS = ("segment", "nation_name", "region_name", "priority")
# One cycle asks every pooled question once, at seeded positions: 8 of 53
# operations (15%) are questions, the rest widget calls.
CYCLE = 53


@dataclass(frozen=True)
class Op:
    kind: str  # a WIDGETS name, or "ask"
    quarters: tuple[int, int] = (1, 4)
    statuses: tuple[str, ...] | None = None
    key: str = "segment"
    k: int = 5
    question: str = ""
    entry: str = ""


def dashboard_ops(seed: int, stream: int = 10):
    """Endless seeded stream of dashboard operations in cycles of
    ``CYCLE``: each asks the ``ASK_POOL`` questions once, in order, and
    the other operations are widget calls with a random quarter range,
    status subset, group key and k. ``stream`` picks an independent
    stream for the same seed (the warm-up uses its own)."""
    r = _rng(seed, stream)
    while True:
        is_ask = np.zeros(CYCLE, bool)
        is_ask[r.choice(CYCLE, len(ASK_POOL), replace=False)] = True
        asks = iter(ASK_POOL)
        for ask in is_ask:
            if ask:
                q, entry = next(asks)
                yield Op("ask", question=q, entry=entry)
                continue
            lo, hi = sorted(int(x) for x in r.integers(1, 5, 2))
            mask = r.integers(0, 2, len(STATUSES)).astype(bool)
            statuses = (tuple(s for s, m in zip(STATUSES, mask) if m)
                        if mask.any() and not mask.all() else None)
            yield Op(
                WIDGETS[int(r.integers(0, len(WIDGETS)))],
                quarters=(lo, hi),
                statuses=statuses,
                key=GROUP_KEYS[int(r.integers(0, len(GROUP_KEYS)))],
                k=int(r.integers(3, 11)),
            )


# ---------------------------------------------------------------------------
# refresh: seeded upsert batches over an evolving gold state
# ---------------------------------------------------------------------------

BATCH_SHARES = (0.001, 0.01, 0.05)
MOVE_SHARE = 0.2


class RefreshBatches:
    """Yields upsert batches against ``gold`` and applies each one to it,
    so ``gold`` is always the expected table state after the batches so
    far. Batch sizes cycle through ``BATCH_SHARES`` of the orders; every
    picked row flips to another status, and ``MOVE_SHARE`` of them also
    move to another quarter."""

    def __init__(self, seed: int, gold: pd.DataFrame):
        self.seed = seed
        self.gold = gold.set_index("o_orderkey", drop=False)
        self.n = 0

    def next(self) -> pd.DataFrame:
        r = _rng(self.seed, 20, self.n)
        size = max(1, round(BATCH_SHARES[self.n % len(BATCH_SHARES)] * len(self.gold)))
        self.n += 1
        keys = np.sort(r.choice(self.gold.index.to_numpy(), size, replace=False))
        upd = self.gold.loc[keys].copy()
        cur = upd["status"].map(STATUSES.index).to_numpy()
        upd["status"] = np.array(STATUSES)[(cur + r.integers(1, 3, size)) % 3]
        move = r.random(size) < MOVE_SHARE
        q = upd["qnum"].to_numpy().copy()
        q[move] = (q[move] - 1 + r.integers(1, 4, int(move.sum()))) % 4 + 1
        upd["qnum"] = q.astype("int32")
        upd["quarter"] = "Q" + upd["qnum"].astype(str)
        self.gold.loc[keys] = upd
        return upd.reset_index(drop=True)

    def audit(self) -> dict[tuple[str, str], int]:
        """Expected quarter x status counts of the current state."""
        c = self.gold.groupby(["quarter", "status"]).size()
        return {k: int(v) for k, v in c.items()}


# ---------------------------------------------------------------------------
# stream: the seeded events file
# ---------------------------------------------------------------------------

N_EVENTS = 250_000
N_USERS = 15_000
EVENT_SPAN_S = 30 * 86_400
LATE_SHARE = 0.10
LATE_MAX_S = 20 * 60


def events_table(seed: int, n: int = N_EVENTS) -> pa.Table:
    """Events in arrival order over 30 days from 2024-01-01: Zipf-skewed
    ``user_id``, and LATE_SHARE of the rows stamped up to 20 minutes
    earlier than their arrival position (out of order)."""
    r = _rng(seed, 30)
    arrival = np.sort(r.integers(0, EVENT_SPAN_S * 1_000_000, n))
    late = r.random(n) < LATE_SHARE
    shift = r.integers(1, LATE_MAX_S * 1_000_000, n)
    ts_us = np.where(late, np.maximum(arrival - shift, 0), arrival)
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    users = (r.zipf(1.3, n) - 1) % N_USERS
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array((base + ts_us).astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)], pa.string()),
        "value": pa.array(_cents(r, 0, 500, n), pa.float64()),
        "props": pa.array(np.char.add('{"k": ', np.char.add(
            r.integers(0, 100, n).astype(str), "}")), pa.string()),
    })


def write_events(seed: int, sf_dir: str, n: int = N_EVENTS) -> pa.Table:
    os.makedirs(sf_dir, exist_ok=True)
    t = events_table(seed, n)
    _write(t, os.path.join(sf_dir, "events.parquet"))
    return t

"""The benchmark's generators give identical inputs for the same seed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np

import inputs

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_star_tables_repeat_per_seed():
    a, b, c = inputs.star_tables(7), inputs.star_tables(7), inputs.star_tables(8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])
    assert a["orders"].num_rows == inputs.N_ORDERS
    assert a["lineitem"].num_rows == inputs.N_LINEITEM


def test_dashboard_ops_repeat_and_keep_the_mix():
    n = 4 * inputs.CYCLE
    ops = list(itertools.islice(inputs.dashboard_ops(3), n))
    assert ops == list(itertools.islice(inputs.dashboard_ops(3), n))
    assert ops != list(itertools.islice(inputs.dashboard_ops(4), n))
    assert ops != list(itertools.islice(inputs.dashboard_ops(3, stream=11), n))
    pool = [e for _, e in inputs.ASK_POOL]
    for c in range(0, n, inputs.CYCLE):
        cycle = ops[c:c + inputs.CYCLE]
        assert [o.entry for o in cycle if o.kind == "ask"] == pool
    for o in ops:
        if o.kind != "ask":
            assert 1 <= o.quarters[0] <= o.quarters[1] <= 4
            assert 3 <= o.k <= 10


def test_ask_pool_routes_to_its_entries():
    from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import nlq

    for question, entry in inputs.ASK_POOL:
        assert nlq.route(question) == entry


def test_refresh_batches_repeat_and_track_state():
    gold = inputs.gold_frame(inputs.star_tables(5))
    a, b = inputs.RefreshBatches(5, gold), inputs.RefreshBatches(5, gold)
    before = a.gold.copy()
    for share in inputs.BATCH_SHARES:
        ua, ub = a.next(), b.next()
        assert ua.equals(ub)
        assert len(ua) == round(share * inputs.N_ORDERS)
        prev = before.loc[ua["o_orderkey"]]
        assert (prev["status"].to_numpy() != ua["status"].to_numpy()).all()
        before = a.gold.copy()
    assert a.audit() == b.audit()
    assert sum(a.audit().values()) == inputs.N_ORDERS
    assert not inputs.RefreshBatches(6, gold).next().equals(inputs.RefreshBatches(5, gold).next())


def test_events_repeat_and_are_late_by_at_most_twenty_minutes():
    a, b = inputs.events_table(9, 50_000), inputs.events_table(9, 50_000)
    assert a.equals(b)
    assert not a.equals(inputs.events_table(10, 50_000))
    ts = a["ts"].to_numpy().astype(np.int64)
    running_max = np.maximum.accumulate(ts)
    late = running_max - ts
    assert 0.05 < (late > 0).mean() < 0.15
    assert late.max() <= inputs.LATE_MAX_S * 1_000_000
    assert set(a["event_type"].to_pylist()) == set(inputs.EVENT_TYPES)

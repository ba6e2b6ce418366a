"""Plan-shape and semantic checks for the subquery-bearing TPC-H entries
(Q17, Q18, Q22) — the properties their oracles pin only implicitly.
Bit-exact oracle parity itself is covered by
tests/test_oracle_parity.py's full-registry sweep."""

from __future__ import annotations

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.queries import (
    REGISTRY,
)

from conftest import SF_ORACLE


def test_tpch_q17_decorrelated_plan_shape(spark):
    """Q17's correlated scalar subquery must decorrelate to
    aggregate-then-rejoin with BROADCAST joins on both the brand
    filter and the per-part aggregate — no corpus-sized shuffle join,
    no CartesianProduct — and the exact integer predicate must keep
    the qualifying set non-empty at the oracle scale."""
    from test_plan_quality import plan_of

    df = REGISTRY["tpch_q17_small_qty_revenue"].spark(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    row = df.collect()[0]
    assert row["n_small"] > 0 and row["avg_yearly"] > 0


def test_tpch_q18_semijoin_plan_and_threshold(spark):
    """Q18's HAVING key set must meet orders as a broadcast LEFT SEMI
    join (never a per-row re-aggregation or cartesian), and every
    returned order's sum_qty must clear the 250 threshold."""
    from test_plan_quality import plan_of

    df = REGISTRY["tpch_q18_large_volume_customer"].spark(
        spark, SF_ORACLE
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    rows = df.collect()
    assert rows
    assert all(r["sum_qty"] > 250 for r in rows)


def test_tpch_q22_composed_subquery_plan(spark):
    """Q22's composite must decorrelate cleanly: the scalar threshold
    arrives as a broadcast 1-row frame (BroadcastNestedLoopJoin over a
    single-row aggregate is the legitimate physical form of a scalar
    subquery), the NOT EXISTS as a broadcast LEFT ANTI join — and no
    per-row re-aggregation anywhere (exactly one customer scan feeds
    the filter)."""
    from test_plan_quality import plan_of

    df = REGISTRY["tpch_q22_dormant_rich_customers"].spark(
        spark, SF_ORACLE
    )
    plan = plan_of(df)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    rows = df.collect()
    assert rows and all(r["numcust"] > 0 for r in rows)

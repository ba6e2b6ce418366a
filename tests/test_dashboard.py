"""Dashboard facade: cached gold, parameterized widget queries, results
consistent with the registry's star-join queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.dashboard import (
    Dashboard,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.queries import (
    REGISTRY,
)

from conftest import SF_SMOKE, jobs_in_group


def test_dashboard_widget_queries(spark):
    d = Dashboard(spark, SF_SMOKE)
    try:
        # Gold is cached: the plan of a second query must hit the
        # InMemoryRelation, not re-scan parquet.
        plan = d.kpis()._jdf.queryExecution().toString()
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan

        # Unfiltered top-segments == the registry's a1 ordering by count.
        top = {r["segment"]: r["n"] for r in d.top_groups("segment", k=10).collect()}
        a1 = {
            r["segment"]: r["n"]
            for r in REGISTRY["a1_count_by_segment"].spark(spark, SF_SMOKE).collect()
        }
        assert top == a1

        # Widget filters compose: Q1-only matrix has only Q1 rows.
        q1 = d.quarter_matrix(quarters=(1, 1)).collect()
        assert q1 and all(r["quarter"] == "Q1" for r in q1)

        # Status filter: finished-only KPI equals a direct count.
        kpi = d.kpis(statuses=["F"]).collect()[0]
        direct = d.gold.filter(F.col("status") == "F").count()
        assert kpi["total"] == kpi["finished_tx"] == direct
    finally:
        d.close()


@pytest.fixture(scope="module")
def dash(spark):
    d = Dashboard(spark, SF_SMOKE)
    yield d
    d.close()


BAD_WIDGET_CALLS = [
    ("kpis", {"statuses": []}),
    ("kpis", {"quarters": (4, 1)}),
    ("kpis", {"quarters": (0, 9)}),
    ("top_groups", {"key": "o_orderkey"}),
    ("top_groups", {"key": "bogus"}),
    ("top_groups", {"k": 0}),
]


@pytest.mark.parametrize(
    "widget,params",
    BAD_WIDGET_CALLS,
    ids=[f"{w}-{p}" for w, p in BAD_WIDGET_CALLS],
)
def test_widget_rejects_bad_parameters_before_any_job(spark, dash, widget, params):
    """Each invalid widget input raises ValueError naming the allowed
    values, and the status tracker sees no job for the call."""

    def call():
        with pytest.raises(ValueError, match="must be"):
            getattr(dash, widget)(**params)

    assert jobs_in_group(spark, f"widget_reject_{widget}", call) == []

"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in the
``financial_transaction_data_warehouse_interactive_dashboard_spark`` package;
this file only adapts its registry to the driver's API.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import (  # noqa: E402
    queries as _q,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (Q1 shape: 2-predicate filter -> group count -> top-k)
    on /root/testdata/sf0.001; driver checks rows>0."""
    return _q.REGISTRY["q1_top_segments"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The fixed ``DRIVER_SURFACE``: the paper's queries, its four gap
    rows and the write paths the benchmark runs."""
    return _q.spark_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted for
    non-SQL-expressible ops -> driver records a rows-only check)."""
    return _q.oracle_queries()

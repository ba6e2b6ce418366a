"""Shared fixtures: one SparkSession per test run, DuckDB oracle connection."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from financial_transaction_data_warehouse_interactive_dashboard_spark.schemas import (
    TESTDATA_TABLES,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.session import (
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Small synthetic raw CSVs with the reference's three schemas and its
# SURVEY.md section 1.3-1.4 quirks (UTF-8 BOM, ';' with a trailing ';',
# DIVIDENT, symbols missing from the lookup, duplicate IDTransaction,
# countries absent from country.csv), so the ETL runs without the
# reference checkout.
ETL_RAW_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "etl_raw")
ETL_ACCOUNT = os.path.join(ETL_RAW_DIR, "account-statement.csv")
ETL_SYMBOLS = os.path.join(ETL_RAW_DIR, "symbols.csv")
ETL_COUNTRY = os.path.join(ETL_RAW_DIR, "country.csv")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ftdw-spark-tests")
    yield s
    s.stop()


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mimic the driver: register each parquet table as a DuckDB view."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def jobs_in_group(spark, group, fn):
    """Run ``fn`` under a fresh job group; return the ids of the Spark
    jobs it started (``[]`` proves a call failed before any job)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="session")
def duck_oracle():
    con = make_duck(SF_ORACLE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_smoke():
    con = make_duck(SF_SMOKE)
    yield con
    con.close()

"""Explicit schemas for every table the engine touches.

The reference infers all schemas at read time (``pd.read_csv`` at
etl.ipynb:7,13,14 and streamlit.py:40). Inference is a smoke-test-only mode
here: at 100 TB a schema drift silently corrupts downstream plans, so every
production read declares its StructType (also required to keep the
UTF-8-BOM'd headers from leaking a corrupt first column name — SURVEY.md
section 1.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# ---------------------------------------------------------------------------
# Reference raw CSV inputs (FIXTURES.md section A)
# ---------------------------------------------------------------------------

# raw_file/account-statement-*.csv — ';' sep, UTF-8 BOM, trailing ';' per row
# (the trailing separator yields an extra all-null column we name _trailing
# and drop on ingest; the reference lets pandas call it 'Unnamed: 5' and
# carries it to the projection at etl.ipynb:151).
ACCOUNT_STATEMENT = _st(
    ("IDTransaction", LongType()),
    ("Date", StringType()),  # 'dd/MM/yyyy HH:mm:ss'; parsed downstream (etl.ipynb:42)
    ("TransactionType", StringType()),
    ("Symbol", StringType()),
    ("Unit", LongType()),
    ("_trailing", StringType()),
)

# raw_file/symbols.csv — ';' sep, UTF-8 BOM
SYMBOLS = _st(
    ("symbol", StringType()),
    ("company_name", StringType()),
    ("sector", StringType()),
    ("industry", StringType()),
    ("country", StringType()),
)

# raw_file/country.csv — ',' sep, ISO-3166; loaded-but-unused in the
# reference (etl.ipynb:14); kept as a region roll-up lookup.
COUNTRY = _st(
    ("name", StringType()),
    ("alpha-2", StringType()),
    ("alpha-3", StringType()),
    ("country-code", StringType()),
    ("iso_3166-2", StringType()),
    ("region", StringType()),
    ("sub-region", StringType()),
    ("intermediate-region", StringType()),
    ("region-code", StringType()),
    ("sub-region-code", StringType()),
    ("intermediate-region-code", StringType()),
)

# ---------------------------------------------------------------------------
# Driver-provided oracle tables (/root/testdata/sf*/; FIXTURES.md section C)
# ---------------------------------------------------------------------------

TESTDATA = {
    "region": _st(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _st(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _st(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _st(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _st(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _st(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _st(
        ("event_id", LongType()),
        ("ts", TimestampType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _st(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
}

TESTDATA_TABLES = tuple(TESTDATA)

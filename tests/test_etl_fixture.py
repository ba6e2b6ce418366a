"""The paper's ETL (raw CSVs -> star -> gold) run end to end on the
committed synthetic raw-CSV fixture, checked against a pandas
re-statement of the reference notebook's steps (SURVEY.md section 1.4).
test_etl_golden.py does the same against the reference's own output when
that checkout is present."""

from __future__ import annotations

import pandas as pd

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import (
    etl as E,
)

from conftest import ETL_ACCOUNT, ETL_COUNTRY, ETL_SYMBOLS


def _pandas_gold() -> list[tuple]:
    """etl.ipynb's semantics in pandas: BOM-stripping reads, the
    missing-symbol filter, the two-entry country remap with pass-through,
    no dedup of IDTransaction, 'Q' + quarter of the parsed date."""
    acc = pd.read_csv(ETL_ACCOUNT, sep=";", encoding="utf-8-sig")
    sym = pd.read_csv(ETL_SYMBOLS, sep=";", encoding="utf-8-sig")
    acc = acc[acc["Symbol"].isin(sym["symbol"])]
    sym = sym.assign(
        country_name=sym["country"].map(dict(E.COUNTRY_REMAP)).fillna(sym["country"])
    )
    quarter = pd.to_datetime(acc["Date"], format="%d/%m/%Y %H:%M:%S").dt.quarter
    acc = acc.assign(quarter="Q" + quarter.astype(str))
    gold = acc.merge(sym, left_on="Symbol", right_on="symbol")
    cols = ["quarter", "country_name", "symbol", "company_name", "sector",
            "industry", "TransactionType"]
    return sorted(map(tuple, gold[cols].itertuples(index=False)))


def test_etl_on_fixture_matches_reference_semantics(spark):
    wh = E.run_etl(spark, ETL_ACCOUNT, ETL_SYMBOLS, ETL_COUNTRY)
    got = sorted(map(tuple, wh.gold.collect()))
    assert got == _pandas_gold()

    account, symbols, country = E.read_raw(
        spark, ETL_ACCOUNT, ETL_SYMBOLS, ETL_COUNTRY
    )
    # BOM and trailing ';': explicit schemas, no junk column, first
    # column parsed (a BOM-corrupted header row would not parse as long)
    assert account.columns == [
        "IDTransaction", "Date", "TransactionType", "Symbol", "Unit",
    ]
    assert account.filter("IDTransaction IS NULL").count() == 0
    # symbols absent from the lookup are dropped, not carried as NULLs
    assert [r[0] for r in E.missing_symbol_report(account, symbols).collect()] == [
        "SAP", "UCG", "VWS",
    ]
    # DIVIDENT stays a first-class transaction type
    assert [r[0] for r in wh.dim_transaction_type.orderBy("transaction_type_id")
            .select("transaction_type").collect()] == ["BUY", "DIVIDENT", "SELL"]
    # Taiwan/Turkey are absent from country.csv and remap to its names
    names = {r[0] for r in wh.dim_geography.select("country_name").collect()}
    iso = {r[0] for r in country.select("name").collect()}
    assert {"Taiwan, Province of China", "Türkiye"} <= names & iso
    assert not {"Taiwan", "Turkey"} & names
    # duplicate IDTransaction values survive into the fact
    fact_ids = [r[0] for r in wh.fact_transactions.select("transaction_id").collect()]
    assert len(fact_ids) == len(got) > len(set(fact_ids))

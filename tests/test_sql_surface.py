"""SQL-surface equivalence (SURVEY.md section 7.1): every testdata table is
exposed as a temp view, and for queries whose oracle SQL is
dialect-portable, Spark itself must produce the same result from the SQL
text as from the DataFrame API. This pins that the engine's two query
surfaces cannot drift — a user can switch between them freely."""

from __future__ import annotations

import os

import pytest

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import (
    nlq,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.queries import (
    REGISTRY,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.sources.registry import (
    register_views,
)

from conftest import SF_ORACLE, jobs_in_group

# Oracles written in the ANSI subset both Spark SQL and DuckDB parse.
# Excluded by dialect: DuckDB list comprehensions/lambdas (tx_* except
# token_count's regexp_extract_all arity), strftime/strptime (c1),
# GROUP BY ROLLUP/CUBE syntax position (a8/a9 use Spark's own rollup test),
# make_timestamp/epoch signatures (ev_sliding), FILTER-less engines: none.
PORTABLE = [
    "q1_top_segments",
    "q2_top_priorities_q4",
    "q3_quarter_ranking",
    "a1_count_by_segment",
    "a2_quarter_status_matrix",
    "a4_kpis",
    "a6_distinct_dims",
    "j1_fact_build",
    "j3_gold_denorm",
    "j5_anti_join",
    "j6_topk_semi",
    "j7_name_remap",
    "f4_contains",
    "o2_top5_types",
    "o4_group_total_order",
    "w1_quarter_trend",
    "w4_surrogate_keys",
    "x1_except",
    "ev_tumbling_hourly",
    "ev_sessionize",
    "ev_funnel_vcp",
    # The salted join's oracle is the PLAIN join, so running it through
    # spark.sql also pins salted == plain inside Spark itself.
    "sk_salted_hot_join",
    "st_foreach_batch_sink",
    "st_stream_stream_join",
]


@pytest.fixture(scope="module")
def views(spark):
    register_views(spark, SF_ORACLE)
    return spark


@pytest.mark.parametrize("name", PORTABLE)
def test_sql_text_matches_dataframe(views, name):
    spark = views
    q = REGISTRY[name]
    df_api = q.spark(spark, SF_ORACLE)
    df_sql = spark.sql(q.oracle)
    assert sorted(df_api.columns) == sorted(df_sql.columns)
    a = sorted(map(str, (tuple(r) for r in df_api.collect())))
    b = sorted(map(str, (tuple(r) for r in df_sql.collect())))
    assert a == b, f"{name}: spark.sql(oracle) != DataFrame result"


# ---------------------------------------------------------------------------
# Phrase-level NL routing for the statistical QA/drift tier (VERDICT r6
# ask #7): intents a warehouse analyst would actually type must land on
# the right registry entry, not just the keyword lists partitioning.
# ---------------------------------------------------------------------------

ANALYST_PHRASES = [
    ("is spend drifting compared to last period", "qa_psi_price_drift"),
    ("population stability index of prices", "qa_psi_price_drift"),
    ("has the price distribution drifted", "qa_psi_price_drift"),
    ("are these two samples from different distributions", "qa_ks_two_sample"),
    ("kolmogorov smirnov test urgent vs low prices", "qa_ks_two_sample"),
    ("do the price distributions differ between priorities", "qa_ks_two_sample"),
    ("is the difference in means statistically significant", "qa_welch_t"),
    ("run a welch ttest on order prices", "qa_welch_t"),
    ("are segment and order status independent", "qa_chi_square_segment_status"),
    ("chi square association between segment and status", "qa_chi_square_segment_status"),
    ("nonparametric ranksum comparison of the two groups", "qa_mann_whitney"),
    ("mann whitney u test on prices", "qa_mann_whitney"),
    ("detect a changepoint in daily revenue", "ev_cusum_daily"),
    ("cusum shift detection on the revenue series", "ev_cusum_daily"),
    ("exponentially smoothed daily revenue", "ev_ewma_daily"),
    ("ewma smoothing of the series", "ev_ewma_daily"),
    ("is daily revenue autocorrelated", "ev_autocorr_daily"),
    ("lag persistence of the revenue series", "ev_autocorr_daily"),
    ("fit an ols regression slope to daily revenue", "ev_trend_regression"),
    ("anova analysis of variance across segments", "qa_anova_segments"),
    ("decompose the series into trend and seasonal components", "ev_seasonal_decompose"),
    ("wilson confidence interval for the error proportion", "qa_wilson_ci"),
    ("skewness and kurtosis of order prices", "qa_higher_moments"),
    ("how heavy are the tails of the price distribution", "qa_higher_moments"),
    ("kaplan meier survival curve for churned customers", "a35_survival_km"),
]


@pytest.mark.parametrize("phrase,expected", ANALYST_PHRASES)
def test_statistical_tier_analyst_phrases(phrase, expected):
    from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.nlq import (
        route,
    )

    assert route(phrase) == expected


# Engine-wide analyst phrases (r7 extension of the statistical-tier set):
# warehouse lifecycle, curation, streaming and finance families.
ANALYST_PHRASES_WIDE = [
    ("which documents leak benchmark test data", "tx_decontaminate"),
    ("redact emails and phone numbers from documents", "tx_pii_scrub"),
    ("leakage safe train test split by cluster", "tx_split_by_cluster"),
    ("roll back the table to an earlier version", "wh_time_travel"),
    ("vacuum old snapshots and reclaim storage", "wh_vacuum_retention"),
    ("did the schema evolve when new columns arrived", "wh_schema_evolution"),
    ("find orphan foreign keys in the warehouse", "wh_orphan_audit"),
    ("slowly changing dimension history of customers", "wh_scd2_history"),
    ("incrementally maintain the join view", "wh_incremental_join"),
    ("prune the join with a bloom filter", "wh_bloom_prune"),
    ("sessionize the live event stream", "st_sessionize"),
    ("how many late events did the watermark drop", "st_late_data"),
    ("join two live streams within a time bound", "st_stream_stream_join"),
    ("order training documents by curriculum difficulty", "tx_curriculum_order"),
    ("pack token sequences into fixed bins", "tx_pack_sequences"),
    ("peak concurrent sessions per day", "ev_peak_concurrency"),
    ("how long it takes to convert from view to purchase", "ev_time_to_convert"),
    ("kaplan meier survival curve for churned customers", "a35_survival_km"),
    ("bellman ford cheapest path between brands", "a32_brand_cheapest_path"),
    ("personalized pagerank around a seed brand", "a30_brand_ppr"),
    ("gini coefficient of revenue inequality", "a24_revenue_gini"),
    ("pareto abc classification of customers", "a17_pareto_customers"),
    ("rfm recency frequency monetary segmentation", "a16_rfm_segmentation"),
    ("backtest a seasonal naive forecast", "ev_forecast_backtest"),
    ("weekly active users and stickiness", "ev_wau_stickiness"),
    ("sliding count of active users with sketches", "ev_active_users_hll"),
]


@pytest.mark.parametrize("phrase,expected", ANALYST_PHRASES_WIDE)
def test_engine_wide_analyst_phrases(phrase, expected):
    from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.nlq import (
        route,
    )

    assert route(phrase) == expected


# Files that spark.sql.runSQLOnFiles would read through a path-addressed
# relation (any file reads as text lines); both exist, so a missed
# rejection returns their rows.
_TEXT_FILE = os.path.join(SF_ORACLE, "region.parquet")
_PARQUET_FILE = os.path.join(SF_ORACLE, "orders.parquet")

# run_sql is read-only: every command or write is rejected by Spark's
# query-only parser before a view is registered or a job starts.
NOT_A_QUERY = [
    "CREATE TABLE probe_t (a INT)",
    "DROP TABLE orders",
    "INSERT INTO orders SELECT * FROM orders",
    "INSERT OVERWRITE DIRECTORY 'run_sql_probe' SELECT 1",
    "SET spark.sql.shuffle.partitions=1",
    "CACHE TABLE orders",
    "ADD JAR run_sql_probe.jar",
    "CREATE TEMP VIEW probe_v AS SELECT 1",
    "EXPLAIN SELECT 1",
    "DESCRIBE orders",
    "SHOW TABLES",
    "REFRESH TABLE orders",
    "BEGIN SELECT 1; END",
    "SELECT 1; DROP TABLE orders",
    # A query is not read-only if it can call arbitrary JVM methods.
    "SELECT reflect('java.lang.System', 'setProperty', 'ftdw.run_sql_probe', '1')",
    "SELECT java_method('java.lang.System', 'getProperty', 'user.home')",
    "SELECT try_reflect('java.lang.System', 'getProperty', 'user.home')",
    "SELECT REFLECT('java.lang.Math', 'abs', -1)",
    "SELECT `java_method`('java.lang.Math', 'abs', -1)",
    "SELECT system.builtin.reflect('java.lang.Math', 'abs', -1)",
    "WITH t AS (SELECT reflect('java.lang.Math', 'abs', -1) AS x) SELECT * FROM t",
    "SELECT 1 WHERE 1 IN (SELECT java_method('java.lang.Math', 'abs', -1))",
    "SELECT " + ", ".join(f"{i} AS c{i}" for i in range(30))
    + ", reflect('java.lang.Math', 'abs', -1) AS c30",
    "SELECT * FROM VALUES (1) t(x) LATERAL VIEW reflect('java.lang.Math', 'abs', -1) e AS y",
    # IDENTIFIER(...) names the function only at analysis time.
    "SELECT IDENTIFIER('re' || 'flect')"
    "('java.lang.System', 'setProperty', 'ftdw.run_sql_probe', '1')",
    "SELECT IDENTIFIER('java_method')"
    "('java.lang.System', 'setProperty', 'ftdw.run_sql_probe', '1')",
    # Script transformation runs a shell command on the executors.
    "SELECT TRANSFORM(x) USING 'true' FROM VALUES (1) t(x)",
    # Only the registered warehouse views (and CTEs) may be read: a
    # path-addressed relation reads any local file, at any depth.
    f"SELECT * FROM text.`{_TEXT_FILE}`",
    f"SELECT * FROM parquet.`{_PARQUET_FILE}`",
    f"WITH t AS (SELECT * FROM text.`{_TEXT_FILE}`) SELECT * FROM t",
    f"WITH t AS (SELECT * FROM parquet.`{_PARQUET_FILE}`) SELECT * FROM t",
    f"SELECT 1 WHERE 'x' IN (SELECT value FROM text.`{_TEXT_FILE}`)",
    "SELECT count(*) FROM orders WHERE o_orderkey IN "
    f"(SELECT o_orderkey FROM parquet.`{_PARQUET_FILE}`)",
    f"SELECT * FROM orders JOIN text.`{_TEXT_FILE}` f ON f.value = o_orderstatus",
    f"SELECT * FROM orders o JOIN parquet.`{_PARQUET_FILE}` p "
    "ON o.o_orderkey = p.o_orderkey",
    # Any other multi-part or unregistered name.
    "SELECT * FROM spark_catalog.default.orders",
    "SELECT * FROM run_sql_probe_view",
    # A testdata file that no entry reads is not a registered view.
    "SELECT * FROM embeddings",
]


@pytest.mark.parametrize("sql", NOT_A_QUERY)
def test_run_sql_rejects_non_queries_before_any_job(spark, sql):
    def call():
        with pytest.raises(ValueError, match="single read-only query"):
            nlq.run_sql(spark, SF_ORACLE, sql)

    assert jobs_in_group(spark, "run_sql_reject", call) == []
    assert spark._jvm.java.lang.System.getProperty("ftdw.run_sql_probe") is None


def test_run_sql_runs_read_only_queries(spark):
    """The positive control for the rejection test: SELECT and WITH
    queries still run, and their jobs are seen by the same tracker."""
    rows = []

    def call():
        rows.append(nlq.run_sql(
            spark, SF_ORACLE,
            "WITH f AS (SELECT * FROM orders WHERE o_orderstatus = 'F') "
            "SELECT count(*) AS n FROM f",
        ).collect()[0]["n"])
        rows.append(nlq.run_sql(
            spark, SF_ORACLE, "SELECT count(*) AS n FROM orders"
        ).collect()[0]["n"])
        # A function name inside a string literal is data, not a call.
        rows.append(nlq.run_sql(
            spark, SF_ORACLE, "SELECT 'reflect(' AS s"
        ).collect()[0]["s"])
        # CTE names are relations too: read from a subquery and a join,
        # and by a later CTE of the same WITH.
        rows.append(nlq.run_sql(
            spark, SF_ORACLE,
            "WITH f AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'), "
            "g AS (SELECT o_orderkey FROM f) "
            "SELECT count(*) AS n FROM ORDERS o JOIN g ON o.o_orderkey = g.o_orderkey "
            "WHERE o.o_orderkey IN (SELECT o_orderkey FROM f)",
        ).collect()[0]["n"])

    assert jobs_in_group(spark, "run_sql_accept", call)
    assert 0 < rows[0] < rows[1]
    assert rows[2] == "reflect("
    assert rows[3] == rows[0]

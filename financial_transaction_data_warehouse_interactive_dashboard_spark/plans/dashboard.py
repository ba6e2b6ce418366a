"""Interactive-dashboard query path (SURVEY.md section 3.2).

The reference's dashboard architecture: denormalize ONCE into a gold
table, cache it, and answer every widget interaction with a filtered
aggregation over the cache (streamlit.py:38-49 — @st.cache_data load +
query_data(quarter_range, types) filter; every chart re-filters the same
frame). This module is that architecture on Spark:

- ``Dashboard`` materializes the gold star-join once per (sf_dir) and
  ``cache()``s it — the Spark analogue of @st.cache_data; every
  subsequent query is a filtered agg over the InMemoryRelation, no
  re-join, no re-scan.
- widget parameters (quarter range, status list, top-k) are function
  arguments, exactly like the reference's sidebar state (streamlit.py:
  60-96), so an app layer maps widgets -> calls 1:1.

Scale: at 100 TB the gold table is written partitioned (plans.etl.
write_gold / sources.warehouse) and 'cache' becomes the storage layer +
partition pruning; the query shapes below are unchanged — that is the
point of authoring them against the gold schema, not the raw star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t


def build_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The denormalized analysis table (j3_gold_denorm's lineage)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"), "left"
        )
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"), "left"
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"), "left"
        )
        .select(
            "o_orderkey",
            F.quarter("o_orderdate").alias("qnum"),
            F.concat(F.lit("Q"), F.quarter("o_orderdate").cast("string")).alias(
                "quarter"
            ),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
    )


class Dashboard:
    """Cached-gold query facade; one instance per session + scale dir."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.gold = build_gold(spark, sf_dir).cache()

    def _filtered(
        self,
        quarters: tuple[int, int] = (1, 4),
        statuses: list[str] | None = None,
    ) -> DataFrame:
        """query_data analogue (streamlit.py:44-49): widget filters.

        Bad parameters raise ``ValueError`` here, before any Spark job."""
        lo, hi = quarters
        if not 1 <= lo <= hi <= 4:
            raise ValueError(
                f"quarters must be (lo, hi) with 1 <= lo <= hi <= 4; got {quarters!r}"
            )
        if statuses is not None and not statuses:
            raise ValueError("statuses must be None (all) or a non-empty list; got []")
        df = self.gold.filter(F.col("qnum").between(lo, hi))
        if statuses is not None:
            df = df.filter(F.col("status").isin(statuses))
        return df

    def kpis(self, **filters) -> DataFrame:
        """KPI strip (streamlit.py:99-119) — one pass, conditional aggs."""
        return self._filtered(**filters).agg(
            F.count("*").alias("total"),
            F.count(F.when(F.col("status") == "O", 1)).alias("open_tx"),
            F.count(F.when(F.col("status") == "F", 1)).alias("finished_tx"),
            F.countDistinct("segment").alias("segments"),
        )

    def quarter_matrix(self, **filters) -> DataFrame:
        """Stacked-bar input (streamlit.py:125-146)."""
        return (
            self._filtered(**filters)
            .groupBy("quarter", "status")
            .agg(F.count("*").alias("n"))
            .orderBy("quarter", "status")
        )

    def top_groups(self, key: str = "segment", k: int = 5, **filters) -> DataFrame:
        """Top-k panel family (streamlit.py:249-356), deterministic ties."""
        # Every gold column but o_orderkey (row identity) and qnum (the
        # quarter filter's key) is a dimension; the schema needs no job.
        dims = tuple(c for c in self.gold.columns if c not in ("o_orderkey", "qnum"))
        if key not in dims:
            raise ValueError(f"key must be one of {dims}; got {key!r}")
        if k < 1:
            raise ValueError(f"k must be >= 1; got {k!r}")
        return (
            self._filtered(**filters)
            .groupBy(key)
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc(key))
            .limit(k)
        )

    def close(self) -> None:
        self.gold.unpersist()

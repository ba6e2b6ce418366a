"""Interactive-dashboard query path (SURVEY.md section 3.2).

The reference's dashboard architecture: denormalize ONCE into a gold
table, cache it, and answer every widget interaction with a filtered
aggregation over the cache (streamlit.py:38-49 — @st.cache_data load +
query_data(quarter_range, types) filter; every chart re-filters the same
frame). This module is that architecture on Spark:

- ``Dashboard`` materializes the gold star-join once per (sf_dir) and
  ``cache()``s it — the Spark analogue of @st.cache_data. A plan that
  re-reads the gold lineage hits the InMemoryRelation through Spark's
  cache manager.
- The action that fills the cache also computes the widget cube: the
  gold row count per distinct combination of every gold column but
  ``o_orderkey``, collected to the driver as a pandas frame. Region is
  a function of nation and quarter of qnum, so over the testdata
  domains (4 quarters, 3 statuses, 5 segments, 25 nations, 5
  priorities) the cube has at most 7,500 cells however many orders
  there are.
- Widgets are driver-side projections of that cube: filter the cells,
  sum their counts, and return the result as a DataFrame over local
  rows (a LocalRelation, whose ``collect()`` runs no Spark job).
  Widget parameters (quarter range, status list, group key, top-k) are
  function arguments, exactly like the reference's sidebar state
  (streamlit.py:60-96), so an app layer maps widgets -> calls 1:1.

Scale: at 100 TB the gold table is written partitioned (plans.etl.
write_gold / sources.warehouse) and 'cache' becomes the storage layer +
partition pruning; the cube stays a few thousand cells, because it grows
with the dimension domains, not with the fact rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .queries import _t

KPI_SCHEMA = StructType(
    [
        StructField(c, LongType(), False)
        for c in ("total", "open_tx", "finished_tx", "segments")
    ]
)


def _counted(*keys: str) -> StructType:
    """String group keys plus their ``n`` count, as Spark's groupBy
    count would type them."""
    return StructType(
        [StructField(k, StringType(), True) for k in keys]
        + [StructField("n", LongType(), False)]
    )


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
    """Cached-gold widget facade; one instance per session + scale dir."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.gold = build_gold(spark, sf_dir).cache()
        dims = [c for c in self.gold.columns if c != "o_orderkey"]
        # One action both fills the cache and collects the cube. The cube
        # is aggregated in one task: that skips a shuffle and a job,
        # which in a fresh session cost more set-up time than the
        # aggregation itself (the gold of a single-row-group orders file
        # is one partition anyway).
        cells = self.gold.coalesce(1).groupBy(*dims).count().collect()
        self.cube = pd.DataFrame(cells, columns=dims + ["n"])
        self._statuses = sorted(self.cube["status"].dropna().unique())
        # Every dimension but qnum (the quarter filter's key) can group.
        self._keys = tuple(c for c in dims if c != "qnum")

    def _cells(
        self,
        quarters: tuple[int, int] = (1, 4),
        statuses: list[str] | None = None,
    ) -> pd.DataFrame:
        """query_data analogue (streamlit.py:44-49): the cube cells the
        widget filters keep. Bad parameters raise ``ValueError``."""
        lo, hi = quarters
        if not 1 <= lo <= hi <= 4:
            raise ValueError(
                f"quarters must be (lo, hi) with 1 <= lo <= hi <= 4; got {quarters!r}"
            )
        if statuses is not None:
            if not statuses or any(s not in self._statuses for s in statuses):
                raise ValueError(
                    "statuses must be None (all) or a non-empty list drawn "
                    f"from {self._statuses}; got {statuses!r}"
                )
        c = self.cube
        keep = c["qnum"].between(lo, hi)
        if statuses is not None:
            keep &= c["status"].isin(statuses)
        return c[keep]

    def _frame(self, pdf: pd.DataFrame, schema: StructType) -> DataFrame:
        """A DataFrame over driver-side rows. With Arrow on, a non-empty
        pandas frame becomes a LocalRelation; an empty one would take the
        RDD path, whose collect runs a job, so an empty result is the
        zero-row limit of a one-row placeholder instead."""
        if pdf.empty:
            pdf = pd.DataFrame({f.name: [None if f.nullable else 0] for f in schema})
            return self.spark.createDataFrame(pdf, schema).limit(0)
        return self.spark.createDataFrame(pdf, schema)

    def kpis(self, **filters) -> DataFrame:
        """KPI strip (streamlit.py:99-119)."""
        c = self._cells(**filters)
        n, status = c["n"], c["status"]
        # Every cube cell counts at least one order, so the distinct
        # non-null segments of the kept cells are countDistinct(segment).
        row = [
            n.sum(),
            n[status == "O"].sum(),
            n[status == "F"].sum(),
            c["segment"].nunique(),
        ]
        return self._frame(
            pd.DataFrame([row], columns=KPI_SCHEMA.names, dtype="int64"), KPI_SCHEMA
        )

    def quarter_matrix(self, **filters) -> DataFrame:
        """Stacked-bar input (streamlit.py:125-146)."""
        keys = ["quarter", "status"]
        m = (
            self._cells(**filters)
            .groupby(keys, dropna=False, sort=False)["n"]
            .sum()
            .reset_index()
            .sort_values(keys, na_position="first")
        )
        return self._frame(m, _counted(*keys))

    def top_groups(self, key: str = "segment", k: int = 5, **filters) -> DataFrame:
        """Top-k panel family (streamlit.py:249-356), ties broken by key."""
        if key not in self._keys:
            raise ValueError(f"key must be one of {self._keys}; got {key!r}")
        if k < 1:
            raise ValueError(f"k must be >= 1; got {k!r}")
        top = (
            self._cells(**filters)
            .groupby(key, dropna=False, sort=False)["n"]
            .sum()
            .reset_index()
            .sort_values(["n", key], ascending=[False, True], na_position="first")
            .head(k)
        )
        return self._frame(top, _counted(key))

    def close(self) -> None:
        self.gold.unpersist()

"""Parquet table registry over /root/testdata/sf*/ (TESTDATA.md).

Loads each driver-provided table with its verified schema and exposes both
DataFrame handles and SQL temp views, keeping the DataFrame and spark.sql
surfaces equivalent (SURVEY.md section 7.1 principle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import schemas


def ensure_nanos_conf(spark: SparkSession) -> None:
    """events.parquet's ``ts`` encoding has drifted across driver rounds;
    handle every shape a parquet writer produces in the wild:

    - TIMESTAMP(NANOS): Spark rejects it unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is on; we read the long and
      convert on load (``load_table``).
    - Timestamp(isAdjustedToUTC=false, us) — the pandas/pyarrow default and
      the most common encoding in the wild: Spark 4 infers TIMESTAMP_NTZ,
      which ``unix_micros`` and ``withWatermark`` both reject. Turn NTZ
      inference OFF so the unadjusted micros read directly as TIMESTAMP;
      under our UTC session this yields the same instants DuckDB's naive
      read does, keeping oracle semantics aligned.

    Our session factory sets both confs, but the driver contract runs under
    an EXTERNAL session — set the (runtime-settable) confs defensively
    before any events read."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table.

    Every table but ``events`` is read with its declared
    ``schemas.TESTDATA`` schema, so building the DataFrame reads no
    parquet footer to infer one (~13 ms instead of ~80 ms per table);
    ``tests/test_source_hygiene.py`` pins that every testdata footer
    matches its declaration. ``events`` keeps inference because its
    ``ts`` encoding varies by writer (``normalize_event_ts``).
    """
    if name not in schemas.TESTDATA:
        raise KeyError(f"unknown testdata table {name!r}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.schema(schemas.TESTDATA[name]).parquet(path)
    ensure_nanos_conf(spark)
    return normalize_event_ts(spark.read.parquet(path))


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize whatever shape ``ts`` arrived in to a plain TIMESTAMP.

    - bigint: TIMESTAMP(NANOS) read as nanos-since-epoch long (legacy
      nanosAsLong). Truncate to micros with integer division — the same
      floor DuckDB applies when narrowing ns -> its us TIMESTAMP.
    - timestamp_ntz: belt-and-braces for sessions where the NTZ-inference
      conf was set AFTER a read cached the NTZ footer schema. The cast
      interprets the wall clock in the session timezone (UTC here), the
      same instants the conf-off read produces.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "bigint":
        df = df.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    elif dtype == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in schemas.TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (SQL surface) and return handles."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs

"""Warehouse layout: partitioned tables, partition-scoped upserts,
compaction, the Z-order code, and versioned snapshots.

The reference pre-joins its star into one gold CSV so the dashboard never
joins at query time (etl.ipynb:210 — its one real optimization). At 100 TB
the gold is stored **partitioned** on low-cardinality filter columns, so a
dashboard's quarter/date filter skips files instead of reading and
dropping rows, and a refresh rewrites only the partitions its updates
touch.

Tables live in the session catalog (saveAsTable); on a real cluster back
it with a shared metastore so every session sees the layout.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _drop_stale(spark: SparkSession, table: str) -> None:
    """DROP the catalog entry AND any orphaned location. A managed-table
    location can outlive its catalog entry when a previous session (with
    its own in-memory catalog) wrote it; saveAsTable then fails with
    LOCATION_ALREADY_EXISTS even in overwrite mode."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh_dir = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh_dir}/{table}", ignore_errors=True)


def write_partitioned(
    df: DataFrame, table: str, partition_cols: list[str]
) -> None:
    """Persist partitioned by low-cardinality filter columns (quarter,
    date, event_type ...) for static + dynamic partition pruning."""
    _drop_stale(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet").partitionBy(
        *partition_cols
    ).saveAsTable(table)


def upsert_partition_overwrite(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key: str,
    partition_col: str,
) -> None:
    """Fact-scale SCD-1 MERGE on a PARTITIONED parquet table: rewrite only
    the partitions that contain update keys, via dynamic partition
    overwrite.

    Mechanics:
    1. touched = partitions named by the updates UNION partitions where
       the updated keys CURRENTLY live (a column-pruned (key, partition)
       scan — so an update that MOVES a key across partitions rewrites
       both its old and new partition, leaving no stale duplicate);
    2. read ONLY those partitions of the current table (semi-join on the
       partition column -> partition pruning, not a full scan);
    3. anti-join away the updated keys, union the updates;
    4. ``insertInto`` with partitionOverwriteMode=dynamic: Spark replaces
       exactly the partitions present in the written data, leaving every
       untouched partition's files in place (asserted on file mtimes in
       tests/test_warehouse.py).

    The merged frame is localCheckpoint-ed before the write because it
    reads the same table it overwrites (Spark's read-write conflict check
    is lineage-based; the checkpoint truncates lineage and, more to the
    point, the source files being replaced must be fully read before
    deletion). Its size is bounded by the TOUCHED partitions only. A real
    deployment upgrades to Delta/Iceberg MERGE; this maps 1:1.
    """
    current = spark.table(table)
    cols = current.columns
    keys = updates.select(key).distinct()
    moved_from = (
        current.select(key, partition_col)
        .join(F.broadcast(keys), key, "left_semi")
        .select(partition_col)
    )
    # Materialize the touched partition VALUES now (a handful by
    # definition): every later step must see the PRE-write state, and a
    # lazy frame over spark.table(table) would re-read the table after
    # the overwrite below.
    touched_vals = [
        r[0]
        for r in updates.select(partition_col)
        .union(moved_from)
        .distinct()
        .collect()
    ]
    if any(v is None for v in touched_vals):
        # isin() below would silently skip NULL partition rows and the
        # DROP PARTITION DDL cannot name them — refuse loudly (round-2
        # review) rather than half-merge.
        raise ValueError(
            f"NULL {partition_col} partition value in updates/current; "
            "filter NULL partition values out before the merge"
        )
    cur_touched = current.filter(F.col(partition_col).isin(touched_vals))
    merged = (
        cur_touched.join(F.broadcast(keys), key, "left_anti")
        .unionByName(updates.select(*cols))
        .localCheckpoint(eager=True)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # insertInto is positional: project to the table's column order.
        merged.select(*cols).write.mode("overwrite").insertInto(table)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # Dynamic overwrite only replaces partitions PRESENT in the written
    # data: a touched partition left with zero rows (its only row moved
    # away) would keep its stale files. Drop those explicitly. merged is
    # checkpointed above, so this reads pre-write state.
    written = {r[0] for r in merged.select(partition_col).distinct().collect()}
    emptied = [v for v in touched_vals if v not in written]
    for v in emptied:
        # Escape embedded quotes (matches sampling._sql_str) — a partition
        # value containing ' must not break or inject into the DDL.
        lit = "'" + str(v).replace("'", "''") + "'" if isinstance(v, str) else str(v)
        spark.sql(
            f"ALTER TABLE {table} DROP IF EXISTS PARTITION ({partition_col}={lit})"
        )


def compact_partitions(
    spark: SparkSession,
    table: str,
    partition_col: str,
    min_files: int = 2,
) -> list:
    """Small-files compaction — the standing maintenance job of any
    partitioned table fed by incremental writes: each micro-batch/merge
    appends files, and a partition with thousands of tiny files turns
    every scan into a task-scheduling storm (task launch overhead,
    footer reads, poor codec ratios). Rewrite each over-fragmented
    partition (>= ``min_files`` parquet files) down to ONE file via
    dynamic partition overwrite, leaving healthy partitions' files
    untouched on disk.

    Mechanics mirror upsert_partition_overwrite: pick victim partitions
    by file count (a file LISTING, no data read), read ONLY those
    partitions (partition pruning), hash-repartition on the partition
    column (one task per value -> one output file per partition
    directory), localCheckpoint (the write replaces the files being
    read), dynamic-overwrite. Returns the compacted partition values —
    empty when the table is already healthy, so the job is idempotent
    and safe to schedule every cycle. (For multi-GB partitions wanting
    N>1 target files, add a salt column to the repartition key; one
    file per partition is the right default at dashboard-gold sizes.)"""
    import glob
    import os

    wh_dir = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    victims = []
    for d in sorted(glob.glob(f"{wh_dir}/{table}/{partition_col}=*")):
        n = len(glob.glob(os.path.join(d, "*.parquet")))
        if n >= min_files:
            raw = os.path.basename(d).split("=", 1)[1]
            victims.append(raw)
    if not victims:
        return []
    current = spark.table(table)
    # Partition values came from directory names (strings); compare on
    # the column cast to string so numeric partition types match.
    cond = F.col(partition_col).cast("string").isin(victims)
    cols = current.columns
    merged = (
        current.filter(cond)
        .repartition(len(victims), partition_col)
        .localCheckpoint(eager=True)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.select(*cols).write.mode("overwrite").insertInto(table)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return victims


def morton_code(
    cols: list[str],
    mins: dict,
    maxs: dict,
    bits: int = 8,
    quantiles: dict | None = None,
):
    """Interleaved (Morton / Z-order) code over 2+ numeric columns. Pure
    bitwise Column expression (shiftleft/and) — whole-stage codegen, no
    UDF. Default bucketizer is LINEAR between each dim's min and max;
    pass ``quantiles`` ({col: sorted interior boundaries}) to bucket by
    RANK instead, so a skewed dim still spreads its mass evenly across
    the 2^bits cells. Quantile assignment counts boundaries <= value with one
    higher-order filter over a literal boundary array — interpreted, but
    it runs once per layout write, not on a query path. Built from
    Column objects (F.array of F.lit), never SQL-text interpolation, so
    NaN boundaries or backtick-needing column names cannot break the
    plan at parse time.

    NULL dim values land in bucket 0 on BOTH bucketizer paths (without
    the explicit guard the linear path's F.least skips the NULL floor()
    and yields the TOP bucket while the quantile path's F.filter drops
    every boundary on a NULL predicate and yields 0 — NULL rows would
    cluster at opposite ends of the Z-curve depending on the
    bucketizer)."""
    nb = (1 << bits) - 1
    bucketed = []
    for c in cols:
        if quantiles and c in quantiles:
            arr = F.array(*[F.lit(float(x)) for x in quantiles[c]])
            col = F.col(c)
            b = F.size(F.filter(arr, lambda x: x <= col)).cast("long")
            b = F.least(b, F.lit(nb).cast("long"))
        else:
            lo, hi = mins[c], maxs[c]
            span = (hi - lo) or 1
            b = F.least(
                F.floor((F.col(c) - F.lit(lo)) * nb / F.lit(span)),
                F.lit(nb),
            ).cast("long")
        bucketed.append(
            F.when(F.col(c).isNull(), F.lit(0).cast("long")).otherwise(b)
        )
    code = F.lit(0).cast("long")
    for bit in range(bits):
        for d, b in enumerate(bucketed):
            code = code.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                    bit * len(bucketed) + d,
                )
            )
    return code


# ---------------------------------------------------------------------------
# Versioned snapshots (time travel)
# ---------------------------------------------------------------------------


def _snap_name(table: str, version: int) -> str:
    return f"{table}__v{version}"


def write_snapshot(df: DataFrame, table: str, version: int) -> None:
    """Persist ``df`` as immutable version ``version`` of ``table``.

    Each version is its own parquet table in the catalog — copy-on-write
    at snapshot granularity, the storage contract behind time travel:
    committing version N never touches the files of version N-1, so
    historical reads stay consistent while new versions land. A real
    lakehouse (Delta/Iceberg) tracks versions as file-level manifests
    instead of full copies; this maps 1:1 onto that API
    (``VERSION AS OF``) while staying plain parquet."""
    _drop_stale(df.sparkSession, _snap_name(table, version))
    df.write.mode("overwrite").format("parquet").saveAsTable(
        _snap_name(table, version)
    )


def read_snapshot(
    spark: SparkSession, table: str, version: int
) -> DataFrame:
    """``SELECT * FROM table VERSION AS OF version`` — reads are plain
    scans of the immutable per-version table, so historical queries get
    full pushdown/pruning like any other read."""
    return spark.table(_snap_name(table, version))


def commit_snapshot(
    spark: SparkSession,
    table: str,
    version: int,
    key: str,
    upserts: DataFrame | None = None,
    delete_keys: DataFrame | None = None,
) -> None:
    """Create version N from version N-1 + a change set (upserts by
    ``key``, deletes by key list) — MERGE + time travel in one step.
    Old versions remain readable after the commit (pinned in
    tests/test_warehouse.py and the wh_time_travel oracle, which audits
    ALL versions after the last commit)."""
    state = read_snapshot(spark, table, version - 1)
    if upserts is not None:
        keys = upserts.select(key).distinct()
        state = state.join(F.broadcast(keys), key, "left_anti").unionByName(
            upserts.select(*state.columns)
        )
    if delete_keys is not None:
        state = state.join(
            F.broadcast(delete_keys.select(key).distinct()), key, "left_anti"
        )
    write_snapshot(state, table, version)


def list_snapshots(spark: SparkSession, table: str) -> list[int]:
    """Versions of ``table`` present in the catalog, ascending."""
    prefix = f"{table}__v"
    return sorted(
        int(t.name[len(prefix):])
        for t in spark.catalog.listTables()
        if t.name.startswith(prefix) and t.name[len(prefix):].isdigit()
    )


def vacuum_snapshots(
    spark: SparkSession, table: str, keep_last: int = 2
) -> list[int]:
    """Retention: drop every version except the newest ``keep_last``
    (catalog entry AND files), returning the versions removed — the
    VACUUM half of the time-travel contract: history is readable until
    retention reclaims it, and reclamation is explicit, ordered, and
    observable (the wh_vacuum_retention audit query puts it under the
    correctness gate)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (refusing to drop HEAD)")
    versions = list_snapshots(spark, table)
    removed = versions[:-keep_last]
    for v in removed:
        _drop_stale(spark, _snap_name(table, v))
    return removed


def drop_snapshots(spark: SparkSession, table: str) -> None:
    """Remove ALL versions of ``table`` (test/reset path; production
    retention goes through vacuum_snapshots, which refuses to drop
    HEAD)."""
    for v in list_snapshots(spark, table):
        _drop_stale(spark, _snap_name(table, v))

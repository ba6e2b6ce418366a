"""The two workloads: what each sets up, one operation, and its checks.

Each workload calls only the package's public functions, except the
stream set-up, which builds the stream split files through the two
source builders every stream call would otherwise build on first use.
An operation returns a record: its kind, its latency in seconds (the
timed window only) and what the check needs; ``check`` runs after the
timed loop.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import inputs
from checks import DashboardOracle, StreamOracle
from tracing import Tracer
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import (
    dashboard as D,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import nlq
from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import (
    queries as Q,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.sources import (
    warehouse,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.streaming import (
    stream,
)

DB = "perfbench"

GOLD_SCHEMA = StructType([
    StructField("o_orderkey", LongType()),
    StructField("qnum", IntegerType()),
    StructField("quarter", StringType()),
    StructField("nation_name", StringType()),
    StructField("region_name", StringType()),
    StructField("segment", StringType()),
    StructField("status", StringType()),
    StructField("priority", StringType()),
])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float):
    """Nearest-rank quantile (q in (0, 1]); 0 when nothing was measured."""
    if not xs:
        return 0.0
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


class Workload:
    name = ""
    cycle = 1  # operations in one whole round of the workload's mix
    primary = ""  # the operation kind op_p50_ms is taken over
    secondary = ""  # the other operation kind in the mix
    call_span = ""  # span of the primary operation's call into the package
    collect_span = ""  # span of the primary operation's result read

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.db_dir = os.path.join(work, "warehouse")

    def generate(self) -> None:
        """Write the seeded inputs (untimed)."""

    def reset_storage(self) -> None:
        """Remove what an earlier set-up left in the benchmark database."""
        shutil.rmtree(self.db_dir, ignore_errors=True)

    def open_db(self, spark) -> None:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB} LOCATION 'file:{self.db_dir}'")

    def build(self, spark, tracer) -> None:
        """The timed, workload-specific part of set-up."""

    def after_setup(self, spark) -> bool:
        """Untimed check of the set-up state; returns whether it is right."""
        return True

    def warmup(self, spark) -> None:
        """Untimed operations run once, after the first (cold) set-up, so
        the JVM has compiled the hot paths before anything is timed."""

    def op(self, i: int, spark, tracer) -> dict:
        raise NotImplementedError

    def check(self, rec: dict) -> bool:
        raise NotImplementedError

    def named_metrics(self, recs: list[dict]) -> dict[str, tuple[float, str]]:
        """The workload's own metrics, by the names the document uses."""
        return {}

    def close(self, spark) -> None:
        spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")


# ---------------------------------------------------------------------------


class DashboardWorkload(Workload):
    """Closed loop of widget calls on the cached gold table and questions
    through the NL router (45 and 8 in each cycle of 53)."""

    name = "dashboard"
    primary, secondary = "widget", "ask"
    call_span, collect_span = "dashboard.plan", "dashboard.collect"
    cycle = inputs.CYCLE
    WARMUP_OPS = 6

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        inputs.write_star(self.seed, self.sf_dir)
        self.oracle = DashboardOracle(self.sf_dir)
        self.ops = inputs.dashboard_ops(self.seed)
        self.warm_ops = inputs.dashboard_ops(self.seed, stream=11)
        for q, entry in inputs.ASK_POOL:
            if nlq.route(q) != entry:
                raise RuntimeError(f"question {q!r} no longer routes to {entry}")

    def build(self, spark, tracer) -> None:
        with tracer.span("dashboard.build"):
            self.dash = D.Dashboard(spark, self.sf_dir)
            self.gold_rows = self.dash.gold.count()

    def after_setup(self, spark) -> bool:
        return self.gold_rows == inputs.N_ORDERS

    def warmup(self, spark) -> None:
        for _ in range(self.WARMUP_OPS):
            self._run(next(self.warm_ops), spark, Tracer(False), -1)

    def op(self, i: int, spark, tracer) -> dict:
        return self._run(next(self.ops), spark, tracer, i)

    def _run(self, o: inputs.Op, spark, tracer, i: int) -> dict:
        if o.kind == "ask":
            with tracer.op(i, "ask"):
                if tracer.enabled:
                    # Routing timed on its own; nlq.answer routes again, so
                    # this call is tracing cost.
                    with tracer.span("nlq.route") as sp:
                        nlq.route(o.question)
                    tracer.cost_s += sp["end"] - sp["start"]
                t0 = time.perf_counter()
                with tracer.span("queries.plan", entry=o.entry):
                    df = nlq.answer(spark, self.sf_dir, o.question)
                with tracer.span("queries.collect"):
                    rows = df.collect()
                lat = time.perf_counter() - t0
            return {"kind": "ask", "lat": lat, "op": o, "rows": rows,
                    "cols": df.columns}
        kwargs = {"quarters": o.quarters,
                  "statuses": list(o.statuses) if o.statuses else None}
        if o.kind == "top_groups":
            kwargs.update(key=o.key, k=o.k)
        with tracer.op(i, "widget"):
            t0 = time.perf_counter()
            with tracer.span("dashboard.plan", widget=o.kind):
                df = getattr(self.dash, o.kind)(**kwargs)
            with tracer.span("dashboard.collect"):
                rows = df.collect()
            lat = time.perf_counter() - t0
        return {"kind": "widget", "lat": lat, "op": o,
                "rows": [tuple(r) for r in rows]}

    def check(self, rec: dict) -> bool:
        o = rec["op"]
        if rec["kind"] == "ask":
            return self.oracle.ask_ok(o.entry, Q.REGISTRY[o.entry].oracle,
                                      [tuple(r) for r in rec["rows"]], rec["cols"])
        return self.oracle.widget_ok(o, rec["rows"])

    def named_metrics(self, recs):
        w = [r["lat"] * 1e3 for r in recs if r["kind"] == "widget"]
        a = [r["lat"] * 1e3 for r in recs if r["kind"] == "ask"]
        return {
            "widget_p50_ms": (median(w), "ms"),
            "widget_p95_ms": (quantile(w, 0.95), "ms"),
            "widget_samples": (len(w), "count"),
            "ask_p50_ms": (median(a), "ms"),
            "ask_samples": (len(a), "count"),
        }

    def close(self, spark) -> None:
        self.oracle.close()
        super().close(spark)


# ---------------------------------------------------------------------------


class IngestWorkload(Workload):
    """The write paths: upsert batches into the quarter-partitioned gold
    table, each followed by a read-back quarter x status audit, and a
    rotation of the merge-rollup, session and tumbling streams over one
    seeded events file. One cycle is three batches (0.1%, 1% and 5% of
    the orders) and one stream rotation."""

    name = "ingest"
    primary, secondary = "batch", "rotation"
    call_span, collect_span = "sources.upsert", "sources.audit"
    ROTATION = ("merge_rollup", "session_stream", "tumbling")
    BATCHES_PER_CYCLE = len(inputs.BATCH_SHARES)
    cycle = BATCHES_PER_CYCLE + 1
    table = f"{DB}.gold_q"
    rollup_table = f"{DB}.st_rollup_merge"

    def generate(self) -> None:
        self.gold_dir = os.path.join(self.work, "sf")
        self.gold = inputs.gold_frame(
            inputs.write_star(self.seed, self.gold_dir, inputs.GOLD_TABLES))
        self.table_dir = os.path.join(self.db_dir, "gold_q")
        src = os.path.join(self.work, "events_src")
        self.events = inputs.write_events(self.seed, src)
        self.events_path = os.path.join(src, "events.parquet")
        self.oracle = StreamOracle(self.events)
        self.rep = 0

    def build(self, spark, tracer) -> None:
        with tracer.span("dashboard.build_gold"):
            gold = D.build_gold(spark, self.gold_dir)
        with tracer.span("sources.write_partitioned"):
            warehouse.write_partitioned(gold, self.table, ["qnum"])
        # A fresh events directory per set-up, so the split files are built
        # again (the stream module caches them by path for the process).
        self.sf_dir = os.path.join(self.work, f"events_{self.rep}")
        self.rep += 1
        os.makedirs(self.sf_dir)
        os.link(self.events_path, os.path.join(self.sf_dir, "events.parquet"))
        with tracer.span("streaming.split_files"):
            stream._time_split_source(spark, self.sf_dir)
            stream._sentinel_session_source(spark, self.sf_dir)

    def after_setup(self, spark) -> bool:
        self.batches = inputs.RefreshBatches(self.seed, self.gold)
        return self._audit(spark) == self.batches.audit()

    def op(self, i: int, spark, tracer) -> dict:
        if i % self.cycle < self.BATCHES_PER_CYCLE:
            return self._batch(i, spark, tracer)
        return self._rotation(i, spark, tracer)

    def check(self, rec: dict) -> bool:
        if rec["kind"] == "batch":
            return rec["ok"]
        c = rec["calls"]
        return (self.oracle.rollup_ok(c["merge_rollup"][1])
                and self.oracle.sessions_ok(*c["session_stream"][1])
                and self.oracle.hourly_ok(c["tumbling"][1]))

    # ---------------------------------------------------------------- refresh

    def _audit(self, spark) -> dict:
        rows = (spark.table(self.table).groupBy("quarter", "status").count()
                .collect())
        return {(r["quarter"], r["status"]): r["count"] for r in rows}

    def _files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root, _, files in os.walk(self.table_dir):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(root, f))
                    out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def _batch(self, i: int, spark, tracer) -> dict:
        pdf = self.batches.next()
        updates = spark.createDataFrame(pdf, GOLD_SCHEMA)
        expected = self.batches.audit()
        before = self._files() if tracer.enabled else None
        with tracer.op(i, "batch"):
            t0 = time.perf_counter()
            with tracer.span("sources.upsert", rows=len(pdf)):
                warehouse.upsert_partition_overwrite(
                    spark, self.table, updates, "o_orderkey", "qnum")
            with tracer.span("sources.audit"):
                got = self._audit(spark)
            lat = time.perf_counter() - t0
        rec = {"kind": "batch", "lat": lat, "rows": len(pdf),
               "ok": got == expected}
        if before is not None:
            # Write amplification: the data files this batch created or
            # replaced, found by listing the table before and after.
            after = self._files()
            new = [p for p, st in after.items() if before.get(p) != st]
            rec["files"] = len(new)
            rec["bytes"] = sum(after[p][0] for p in new)
        return rec

    # ----------------------------------------------------------------- stream

    def _call(self, kind: str, spark):
        if kind == "merge_rollup":
            return stream.run_stream_merge_rollup(
                spark, self.sf_dir, table=self.rollup_table)
        if kind == "session_stream":
            return stream.run_session_stream(spark, self.sf_dir)
        return stream.run_tumbling_stream(spark, self.sf_dir)

    def _rotation(self, i: int, spark, tracer) -> dict:
        calls = {}
        with tracer.op(i, "rotation"):
            for kind in self.ROTATION:
                t0 = time.perf_counter()
                with tracer.span(f"streaming.{kind}"):
                    df = self._call(kind, spark)
                lat = time.perf_counter() - t0
                with tracer.span("streaming.readback"):
                    if kind == "session_stream":
                        r = df.agg(F.count("*"), F.sum("n_events")).collect()[0]
                        out = (int(r[0]), int(r[1] or 0))
                    else:
                        out = df.collect()
                calls[kind] = (lat, out)
        return {"kind": "rotation", "lat": sum(c[0] for c in calls.values()),
                "calls": calls}

    # ---------------------------------------------------------------- metrics

    def named_metrics(self, recs):
        batches = [r for r in recs if r["kind"] == "batch"]
        rotations = [r for r in recs if r["kind"] == "rotation"]
        lat = [r["lat"] for r in batches]

        def call_s(kind):
            return [r["calls"][kind][0] for r in rotations]

        out = {
            "refresh_p50_s": (median(lat), "s"),
            "refresh_rows_per_s": (
                sum(r["rows"] for r in batches) / (sum(lat) or 1), "rows/s"),
            "refresh_batches": (len(batches), "count"),
            "stream_merge_p50_s": (median(call_s("merge_rollup")), "s"),
            "stream_session_p50_s": (median(call_s("session_stream")), "s"),
            "stream_tumbling_p50_s": (median(call_s("tumbling")), "s"),
            "stream_events_per_s": (
                self.oracle.n_events * len(self.ROTATION) * len(rotations)
                / (sum(r["lat"] for r in rotations) or 1), "events/s"),
            "stream_calls": (len(self.ROTATION) * len(rotations), "count"),
        }
        if batches and "files" in batches[0]:
            out["sources.files_rewritten_per_batch"] = (
                statistics.mean(r["files"] for r in batches), "count")
            out["sources.bytes_written_per_row"] = (
                sum(r["bytes"] for r in batches) / sum(r["rows"] for r in batches),
                "B/row")
        return out


WORKLOADS = {w.name: w for w in (DashboardWorkload, IngestWorkload)}

"""Benchmark of the warehouse engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed
under ``.perfbench_run/``, sets the workload up several times (reporting
the median set-up), drives a closed loop of operations for ``--seconds``,
checks every result, removes what it created, and prints a human-readable
report followed by one JSON line. With ``--trace 0`` the JSON holds the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics and
the spans are written to ``.perfbench_traces/<workload>.json``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_run")
TRACES = os.path.join(ROOT, ".perfbench_traces")
SETUP_REPS = 3


def _isolate_env(cpus: int) -> None:
    """Keep every temporary file of the run inside its work directory and
    run the engine with its own defaults on all cores."""
    for d in ("tmp", "jtmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise keep its counters file in
    # /tmp/hsperfdata_<user>, whatever java.io.tmpdir says.
    java = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{java} -Djava.io.tmpdir={WORK}/jtmp -XX:-UsePerfData".strip())
    os.environ["TZ"] = "UTC"
    time.tzset()
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _cpu_s(pid: int | str) -> float:
    """User plus system CPU time a process has used, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for {pid}")


def _stop_jvm() -> None:
    """Stop the JVM that pyspark launched and wait until it has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    from tracing import Tracer
    from workloads import WORKLOADS, median, quantile

    from financial_transaction_data_warehouse_interactive_dashboard_spark.session import (
        get_spark,
    )

    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, WORK)
    wl.generate()

    spark = None
    setup_s, get_spark_s, build_s = [], [], []
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        wl.reset_storage()
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench")
        t1 = time.perf_counter()
        wl.open_db(spark)
        wl.build(spark, tracer)
        t2 = time.perf_counter()
        get_spark_s.append(t1 - t0)
        build_s.append(t2 - t1)
        setup_s.append(t2 - t0)
        if rep == 0:
            wl.warmup(spark)
    tracer.attach(spark.sparkContext)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    setup_ok = wl.after_setup(spark)
    tracer.reset_jobs()
    recs: list[dict] = []
    failed = 0
    cpu_start = _cpu_s("self") + _cpu_s(jvm_pid)
    t_start = time.perf_counter()
    i = 0
    # Stop at the first whole cycle of the workload's operation mix after
    # the time is up, so every run weighs each operation kind the same.
    while time.perf_counter() - t_start < args.seconds or i % wl.cycle:
        try:
            recs.append(wl.op(i, spark, tracer))
        except Exception:
            traceback.print_exc()
            failed += 1
        i += 1
    measured = time.perf_counter() - t_start
    cpu_s = _cpu_s("self") + _cpu_s(jvm_pid) - cpu_start

    for rec in recs:
        try:
            ok = wl.check(rec)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"MISMATCH {rec['kind']} {rec.get('op', '')}", file=sys.stderr)
            failed += 1
    if not setup_ok:
        print("MISMATCH set-up state", file=sys.stderr)
        failed += 1

    peak_rss = _hwm_mb("self") + _hwm_mb(jvm_pid)
    wl.close(spark)
    spark.stop()

    lat_ms = [r["lat"] * 1e3 for r in recs if r["kind"] == wl.primary]
    attempted = i + 1  # the operations and the set-up check
    end_to_end = {
        "setup_s": (median(setup_s), "s"),
        "op_p50_ms": (median(lat_ms), "ms"),
        "ops_per_s": (len(recs) / (sum(r["lat"] for r in recs) or 1), "1/s"),
    }
    named = wl.named_metrics(recs)
    extra = {
        "op_p90_ms": (quantile(lat_ms, 0.90), "ms"),
        "cpu_ms_per_op": (cpu_s * 1e3 / max(len(recs), 1), "ms"),
        "peak_rss_mb": (peak_rss, "MB"),
        "failed_share": (failed / attempted, "ratio"),
        "setup_cold_s": (setup_s[0], "s"),
        "measured_s": (measured, "s"),
        "ops": (len(recs), "count"),
    }
    per_layer = {}
    if tracer.enabled:
        n = max(len(tracer.ops), 1)

        def span_ms(name):
            return median([d * 1e3 for d in tracer.durations(name)])

        counts = {
            kind: {c: statistics.mean(o[c] for o in tracer.ops if o["kind"] == kind)
                   for c in ("jobs", "stages", "tasks")}
            for kind in {o["kind"] for o in tracer.ops}}
        first, second = counts.get(wl.primary, {}), counts.get(wl.secondary, {})
        per_layer = {
            "session.get_spark_s": (median(get_spark_s), "s"),
            "setup.build_s": (median(build_s), "s"),
            "op.call_ms": (span_ms(wl.call_span), "ms"),
            "op.collect_ms": (span_ms(wl.collect_span), "ms"),
            "op.jobs": (first.get("jobs", 0), "count"),
            "op.stages": (first.get("stages", 0), "count"),
            "op.tasks": (first.get("tasks", 0), "count"),
            "op2.p50_ms": (median([r["lat"] * 1e3 for r in recs
                                   if r["kind"] == wl.secondary]), "ms"),
            "op2.tasks": (second.get("tasks", 0), "count"),
            "memory.peak_rss_mb": (peak_rss, "MB"),
            "trace.overhead_ms": (tracer.cost_s * 1e3 / n, "ms"),
        }
        for name in sorted({s["name"] for s in tracer.spans}):
            extra[f"{name}_p50_ms"] = (span_ms(name), "ms")
        for k, v in sorted(tracer.self_times().items()):
            extra[f"self_s.{k}"] = (v, "s")
        for kind, c in sorted(counts.items()):
            for k, v in c.items():
                extra[f"{kind}.{k}_per_op"] = (v, "count")
        os.makedirs(TRACES, exist_ok=True)
        path = os.path.join(TRACES, f"{args.workload}.json")
        tracer.write(path, {"workload": args.workload, "seed": args.seed})
        print(f"trace: {path}")

    return {
        "attempted": attempted, "failed": failed,
        "end_to_end": end_to_end, "per_layer": per_layer,
        "report": {**end_to_end, **named, **extra, **per_layer},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import financial_transaction_data_warehouse_interactive_dashboard_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    _isolate_env(cpus)
    load_before, steal_before = os.getloadavg()[0], _steal_s()
    try:
        res = run(args)
    finally:
        _stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    load_after, steal = os.getloadavg()[0], _steal_s() - steal_before

    import pyspark

    env = {"nproc": cpus, "SPARK_GRAFT_CPUS": str(cpus), "pyspark": pyspark.__version__,
           "seed": args.seed, "workload": args.workload, "trace": args.trace,
           "loadavg_1m_before": load_before, "loadavg_1m_after": load_after,
           "cpu_steal_s": steal}
    print("env: " + json.dumps(env))
    for name, (value, unit) in res["report"].items():
        print(f"{name:42s} {value:14.6g} {unit}")
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Dashboard facade: cached gold, parameterized widget queries, results
consistent with the registry's star-join queries."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import weakref
from itertools import combinations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import (
    nlq,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.dashboard import (
    Dashboard,
    cube_answer,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.queries import (
    REGISTRY,
)

from conftest import SF_ORACLE, SF_SMOKE, jobs_in_group, make_duck
from test_oracle_parity import cells_equal, normalize


def test_dashboard_widget_queries(spark):
    d = Dashboard(spark, SF_SMOKE)
    try:
        # Gold stays cached; widgets read the cube that the cache fill
        # collected, so they run no job.
        assert d.gold.is_cached
        assert jobs_in_group(spark, "widget_kpis", lambda: d.kpis().collect()) == []

        # Unfiltered top-segments == the registry's a1 ordering by count.
        top = {r["segment"]: r["n"] for r in d.top_groups("segment", k=10).collect()}
        a1 = {
            r["segment"]: r["n"]
            for r in REGISTRY["a1_count_by_segment"].spark(spark, SF_SMOKE).collect()
        }
        assert top == a1

        # Widget filters compose: Q1-only matrix has only Q1 rows.
        q1 = d.quarter_matrix(quarters=(1, 1)).collect()
        assert q1 and all(r["quarter"] == "Q1" for r in q1)

        # Status filter: finished-only KPI equals a direct count.
        kpi = d.kpis(statuses=["F"]).collect()[0]
        direct = d.gold.filter(F.col("status") == "F").count()
        assert kpi["total"] == kpi["finished_tx"] == direct
    finally:
        d.close()


@pytest.fixture(scope="module")
def dash(spark):
    d = Dashboard(spark, SF_SMOKE)
    yield d
    d.close()


BAD_WIDGET_CALLS = [
    ("kpis", {"statuses": []}),
    ("kpis", {"quarters": (4, 1)}),
    ("kpis", {"quarters": (0, 9)}),
    ("top_groups", {"key": "o_orderkey"}),
    ("top_groups", {"key": "bogus"}),
    ("top_groups", {"k": 0}),
    ("kpis", {"statuses": ["Z"]}),
    ("quarter_matrix", {"statuses": ["F", "Z"]}),
]


@pytest.mark.parametrize(
    "widget,params",
    BAD_WIDGET_CALLS,
    ids=[f"{w}-{p}" for w, p in BAD_WIDGET_CALLS],
)
def test_widget_rejects_bad_parameters_before_any_job(spark, dash, widget, params):
    """Each invalid widget input raises ValueError naming the allowed
    values, and the status tracker sees no job for the call."""

    def call():
        with pytest.raises(ValueError, match="must be"):
            getattr(dash, widget)(**params)

    assert jobs_in_group(spark, f"widget_reject_{widget}", call) == []


def test_unknown_status_names_the_domain(spark, dash):
    """An unknown status code fails before any job, naming the status
    domain the cube holds."""

    def call():
        with pytest.raises(ValueError, match=r"\['F', 'O', 'P'\].*'Z'"):
            dash.top_groups(statuses=["O", "Z"])

    assert jobs_in_group(spark, "widget_reject_status", call) == []


# ---------------------------------------------------------------------------
# Cube parity: every widget call against DuckDB over the same gold
# ---------------------------------------------------------------------------

# The gold table as perfbench/checks.py:GOLD_SQL builds it.
DUCK_GOLD = """
CREATE OR REPLACE TEMP VIEW dash_gold AS
SELECT o_orderkey, quarter(o_orderdate) AS qnum,
       'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
       n_name AS nation_name, r_name AS region_name,
       c_mktsegment AS segment, o_orderstatus AS status,
       o_orderpriority AS priority
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""

STATUSES = ("F", "O", "P")
QUARTER_RANGES = [(lo, hi) for lo in range(1, 5) for hi in range(lo, 5)]
STATUS_FILTERS = [None] + [
    list(c) for r in range(1, len(STATUSES) + 1) for c in combinations(STATUSES, r)
]
GROUP_KEYS = ("segment", "nation_name", "region_name", "priority")
TOP_K = (1, 3, 10)


def _duck_widget(con, widget, quarters, statuses, key="segment", k=5):
    """The widget's answer in DuckDB, in Spark's order (ascending sorts
    put nulls first)."""
    where = f"qnum BETWEEN {quarters[0]} AND {quarters[1]}"
    if statuses is not None:
        where += " AND status IN (" + ",".join(f"'{s}'" for s in statuses) + ")"
    if widget == "kpis":
        sql = f"""SELECT count(*), count(*) FILTER (WHERE status = 'O'),
                  count(*) FILTER (WHERE status = 'F'), count(DISTINCT segment)
                  FROM dash_gold WHERE {where}"""
    elif widget == "quarter_matrix":
        sql = f"""SELECT quarter, status, count(*) AS n FROM dash_gold
                  WHERE {where} GROUP BY 1, 2 ORDER BY 1 NULLS FIRST, 2 NULLS FIRST"""
    else:
        sql = f"""SELECT {key}, count(*) AS n FROM dash_gold WHERE {where}
                  GROUP BY 1 ORDER BY n DESC, 1 ASC NULLS FIRST LIMIT {k}"""
    return [tuple(r) for r in con.execute(sql).fetchall()]


def _widget_calls(widget):
    for quarters in QUARTER_RANGES:
        for statuses in STATUS_FILTERS:
            if widget != "top_groups":
                yield {"quarters": quarters, "statuses": statuses}
                continue
            for key in GROUP_KEYS:
                for k in TOP_K:
                    yield {"quarters": quarters, "statuses": statuses,
                           "key": key, "k": k}


WIDGET_COLUMNS = {
    "kpis": lambda p: ["total", "open_tx", "finished_tx", "segments"],
    "quarter_matrix": lambda p: ["quarter", "status", "n"],
    "top_groups": lambda p: [p["key"], "n"],
}


@pytest.mark.parametrize("widget", sorted(WIDGET_COLUMNS))
def test_cube_widgets_match_duckdb_with_no_job(spark, dash, duck_smoke, widget):
    """Every quarter range x status subset (x group key x k) answers
    row for row, in order, as DuckDB over the same gold does, and no
    call's build or collect starts a Spark job."""
    duck_smoke.execute(DUCK_GOLD)
    domain = duck_smoke.execute(
        "SELECT list(DISTINCT status ORDER BY status) FROM dash_gold"
    ).fetchone()[0]
    assert tuple(domain) == STATUSES
    calls = list(_widget_calls(widget))
    got = []

    def run():
        for params in calls:
            df = getattr(dash, widget)(**params)
            got.append((df.columns, [tuple(r) for r in df.collect()]))

    assert jobs_in_group(spark, f"cube_sweep_{widget}", run) == []
    bad = [
        params
        for params, (cols, rows) in zip(calls, got)
        if cols != WIDGET_COLUMNS[widget](params)
        or rows != _duck_widget(duck_smoke, widget, **params)
    ]
    assert not bad, bad[:5]
    assert len(calls) == {"kpis": 80, "quarter_matrix": 80, "top_groups": 960}[widget]


# ---------------------------------------------------------------------------
# Null keys, ties and empty filters: the cube keeps the Spark semantics
# ---------------------------------------------------------------------------


def _spark_widget(gold, widget, quarters=(1, 4), statuses=None, key="segment", k=5):
    """The widget as a Spark plan over the cached gold (how widgets were
    answered before the cube): the reference for types and null order."""
    df = gold.filter(F.col("qnum").between(*quarters))
    if statuses is not None:
        df = df.filter(F.col("status").isin(statuses))
    if widget == "kpis":
        return df.agg(
            F.count("*").alias("total"),
            F.count(F.when(F.col("status") == "O", 1)).alias("open_tx"),
            F.count(F.when(F.col("status") == "F", 1)).alias("finished_tx"),
            F.countDistinct("segment").alias("segments"),
        )
    if widget == "quarter_matrix":
        return (
            df.groupBy("quarter", "status")
            .agg(F.count("*").alias("n"))
            .orderBy("quarter", "status")
        )
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc(key))
        .limit(k)
    )


def _write_null_star(sf_dir):
    """A tiny star whose gold has null quarters, statuses, priorities,
    segments, nations and regions, tied counts, and no Q4 orders."""
    pa_schema = {
        "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
        "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())],
        "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                     ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                     ("c_mktsegment", pa.string())],
        "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", pa.string())],
    }
    n_orders = 40
    cols = {
        "region": [[0, 1], ["R0", "R1"]],
        # N2's region is missing: its orders have a null region_name.
        "nation": [[0, 1, 2], ["N0", "N1", "N2"], [0, 1, 9]],
        "customer": [
            list(range(6)),
            [f"C{i}" for i in range(6)],
            [0, 1, 2, None, 0, 1],
            [0.0] * 6,
            ["A", "B", None, "A", "B", "C"],
        ],
        # Customer 6 does not exist: its orders have null dimensions.
        "orders": [
            list(range(n_orders)),
            [i % 7 for i in range(n_orders)],
            [("F", "O", "P", None)[i % 4] for i in range(n_orders)],
            [1.0] * n_orders,
            [None if i % 9 == 0 else dt.datetime(2024, 1 + i % 9, 1)
             for i in range(n_orders)],
            [(None, "1-URGENT", "2-HIGH")[i % 3] for i in range(n_orders)],
        ],
    }
    for name, fields in pa_schema.items():
        schema = pa.schema(fields)
        pq.write_table(
            pa.table(dict(zip(schema.names, cols[name])), schema=schema),
            os.path.join(sf_dir, f"{name}.parquet"),
        )


def test_cube_keeps_spark_null_order_types_and_empty_results(spark, tmp_path):
    _write_null_star(str(tmp_path))
    d = Dashboard(spark, str(tmp_path))
    try:
        calls = [("kpis", {}), ("quarter_matrix", {})]
        for quarters in [(2, 3), (4, 4)]:
            for statuses in [None, ["O", "P"]]:
                f = {"quarters": quarters, "statuses": statuses}
                calls += [("kpis", f), ("quarter_matrix", f)]
                for key in d.gold.columns[2:]:
                    for k in (1, 10):
                        calls.append(("top_groups", {**f, "key": key, "k": k}))
        empty = 0
        for widget, params in calls:
            got = getattr(d, widget)(**params)
            want = _spark_widget(d.gold, widget, **params)
            rows = got.collect()
            assert (got.schema, rows) == (want.schema, want.collect()), (widget, params)
            empty += widget == "kpis" and rows[0]["total"] == 0
        assert empty == 2  # both Q4-only filters
        empty_call = lambda: d.top_groups(quarters=(4, 4)).collect()  # noqa: E731
        assert jobs_in_group(spark, "widget_empty", empty_call) == []
        # The comparison is not vacuous: null statuses sort first, and
        # every group key but quarter (a null quarter never passes the
        # quarter filter) has a null group.
        assert tuple(d.quarter_matrix().collect()[0])[:2] == ("Q1", None)
        for key in d.gold.columns[3:]:
            assert None in {r[key] for r in d.top_groups(key, k=10).collect()}, key
    finally:
        d.close()


def test_cube_questions_keep_spark_nulls_and_empty_results(spark, tmp_path):
    """On the null star, q1 (no NATION_3) and q2 (no Q4) are empty and
    q3 has a null quarter; the cube answers equal the Spark plans. w1's
    null quarter has no F/O orders, so Q1's change divides by zero and
    the cube leaves that to Spark."""
    _write_null_star(str(tmp_path))
    d = Dashboard(spark, str(tmp_path))
    try:
        rows = {}
        for entry in ("q1_top_segments", "q2_top_priorities_q4", "q3_quarter_ranking"):
            got = cube_answer(spark, str(tmp_path), entry)
            want = REGISTRY[entry].spark(spark, str(tmp_path))
            rows[entry] = got.collect()
            assert (got.schema, rows[entry]) == (want.schema, want.collect()), entry
        assert rows["q1_top_segments"] == rows["q2_top_priorities_q4"] == []
        assert None in {r["quarter"] for r in rows["q3_quarter_ranking"]}
        assert cube_answer(spark, str(tmp_path), "w1_quarter_trend") is None
    finally:
        d.close()


# ---------------------------------------------------------------------------
# Cube-shaped questions: nlq.answer from the live Dashboard's cube
# ---------------------------------------------------------------------------

CUBE_QUESTIONS = {
    "q1_top_segments": "top segment by nation",
    "q2_top_priorities_q4": "priority counts for q4",
    "q3_quarter_ranking": "quarter ranking",
    "w1_quarter_trend": "trend over time",
}


def _answer(spark, sf_dir, entry, group):
    """``nlq.answer`` for the entry's question, built and collected
    under a job group: (job ids, columns, schema string, rows)."""
    out = []

    def run():
        df = nlq.answer(spark, sf_dir, CUBE_QUESTIONS[entry])
        out.extend([df.columns, df.schema.simpleString(), [tuple(r) for r in df.collect()]])

    return [jobs_in_group(spark, group, run)] + out


def _matches_oracle(sf_dir, entry, cols, rows):
    con = make_duck(str(sf_dir))
    try:
        res = con.execute(REGISTRY[entry].oracle)
        d_cols = [c[0] for c in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    (got, got_cols), (want, want_cols) = normalize(rows, cols), normalize(d_rows, d_cols)
    return got_cols == want_cols and len(got) == len(want) and all(
        cells_equal(a, b) for g, w in zip(got, want) for a, b in zip(g, w)
    )


@pytest.fixture(scope="module", params=[SF_SMOKE, SF_ORACLE], ids=["smoke", "oracle"])
def live(request, spark):
    d = Dashboard(spark, request.param)
    yield request.param
    d.close()


@pytest.mark.parametrize("entry", sorted(CUBE_QUESTIONS))
def test_cube_shaped_question_runs_no_job(spark, live, entry):
    """With a live Dashboard, the question is built and collected with
    no Spark job, and returns the registry Spark plan's columns, schema
    and rows, in order, which match the DuckDB oracle."""
    jobs, cols, schema, rows = _answer(spark, live, entry, f"cube_{entry}")
    assert jobs == []
    want = REGISTRY[entry].spark(spark, live)
    assert (cols, schema, rows) == (
        want.columns, want.schema.simpleString(), [tuple(r) for r in want.collect()]
    )
    assert rows and _matches_oracle(live, entry, cols, rows)


def _assert_spark_answers(spark, sf_dir, case):
    """Every cube-shaped question runs Spark jobs and matches DuckDB;
    returns the rows per entry."""
    answers = {}
    for entry in CUBE_QUESTIONS:
        jobs, cols, _, rows = _answer(spark, str(sf_dir), entry, f"{case}_{entry}")
        assert jobs, (case, entry)
        assert _matches_oracle(sf_dir, entry, cols, rows), (case, entry)
        answers[entry] = rows
    return answers


def _star_copy(dst):
    os.makedirs(dst, exist_ok=True)
    for t in ("orders", "customer", "nation", "region"):
        shutil.copyfile(os.path.join(SF_SMOKE, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))
    return str(dst)


def test_questions_fall_back_without_a_live_dashboard(spark, tmp_path):
    """No Dashboard, a closed one, a dropped one and one for another
    sf_dir: Spark answers. The same directory under another spelling is
    served."""
    a, b = _star_copy(tmp_path / "a"), _star_copy(tmp_path / "b")
    _assert_spark_answers(spark, a, "none")
    d = Dashboard(spark, a)
    try:
        for entry in CUBE_QUESTIONS:
            assert _answer(spark, a + "/.", entry, f"served_{entry}")[0] == []
        _assert_spark_answers(spark, b, "other_dir")
    finally:
        d.close()
    _assert_spark_answers(spark, a, "closed")
    d = Dashboard(spark, a)
    d.gold.unpersist()
    dropped = weakref.ref(d)
    del d  # without close(): the lookup must not keep it alive
    assert dropped() is None
    _assert_spark_answers(spark, a, "dropped")


def test_questions_fall_back_after_the_star_changes(spark, tmp_path):
    """Rewriting orders after the cube was filled sends the questions to
    Spark, which sees the new rows."""
    sf = _star_copy(tmp_path)
    d = Dashboard(spark, sf)
    try:
        before = {e: _answer(spark, sf, e, f"before_{e}")[3] for e in CUBE_QUESTIONS}
        path = os.path.join(sf, "orders.parquet")
        orders = pq.read_table(path)
        pq.write_table(orders.slice(0, orders.num_rows // 2), path)
        after = _assert_spark_answers(spark, sf, "rewritten")
        assert all(after[e] != before[e] for e in CUBE_QUESTIONS)
    finally:
        d.close()


def test_questions_fall_back_when_gold_is_not_one_row_per_order(spark, tmp_path):
    """A duplicated customer key fans its orders out in the gold, so the
    cube's counts are not order counts: Spark answers."""
    sf = _star_copy(tmp_path)
    path = os.path.join(sf, "customer.parquet")
    customer = pq.read_table(path)
    pq.write_table(pa.concat_tables([customer, customer.slice(0, 1)]), path)
    d = Dashboard(spark, sf)
    try:
        assert d.cube["n"].sum() > pq.read_metadata(os.path.join(sf, "orders.parquet")).num_rows
        _assert_spark_answers(spark, sf, "fanned_out")
    finally:
        d.close()


STOPPED_SESSION = """
import json, sys
from conftest import SF_SMOKE, jobs_in_group
from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import nlq
from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.dashboard import Dashboard
from financial_transaction_data_warehouse_interactive_dashboard_spark.session import get_spark
old = get_spark("ftdw-stopped")
d = Dashboard(old, SF_SMOKE)
old.stop()
spark = get_spark("ftdw-restarted")
out = {}
for entry, text in json.loads(sys.argv[1]).items():
    got = []
    def run():
        df = nlq.answer(spark, SF_SMOKE, text)
        got.extend([df.columns, [list(r) for r in df.collect()]])
    out[entry] = [len(jobs_in_group(spark, entry, run))] + got
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_questions_fall_back_after_the_session_stops(tmp_path):
    """A Dashboard built in a session that has since stopped serves no
    question of the next session (a fresh process: the suite shares one
    session)."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.pathsep.join(filter(None, [here, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=path)
    res = subprocess.run(
        [sys.executable, "-c", STOPPED_SESSION, json.dumps(CUBE_QUESTIONS)],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=300,
    )
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("RESULT ")]
    assert res.returncode == 0 and lines, res.stderr[-2000:]
    for entry, (jobs, cols, rows) in json.loads(lines[0][7:]).items():
        assert jobs > 0, entry
        assert _matches_oracle(SF_SMOKE, entry, cols, [tuple(r) for r in rows]), entry

"""Property-based tests (hypothesis) for the portable primitives whose
cross-engine contracts everything else leans on. Each example batches a
whole generated dataset into ONE Spark job, so the suite cost stays in
seconds despite shrinking support."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from financial_transaction_data_warehouse_interactive_dashboard_spark.functions import (
    portable as P,
)

SET = settings(
    max_examples=10,
    deadline=None,
    # Deterministic example stream: the suite is a per-round gate, so a
    # rare generated input must fail EVERY round or none (flaky green ->
    # red across rounds would mask real regressions). Bump max_examples
    # locally when hunting, with derandomize off.
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Text without surrogates (parquet/duckdb round-trip hazards aside, the
# engine contract is over valid UTF-8).
texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
)


@given(st.lists(texts, min_size=1, max_size=40, unique=True))
@SET
def test_md5_long_parity_arbitrary_strings(spark, strings):
    """portable.md5_long(s) == DuckDB sql_md5_long(s) for ARBITRARY
    unicode, not just the fixture vocabulary — the hash both engines'
    blocking/dedup/split operators are built on."""
    import duckdb

    df = spark.createDataFrame([(s,) for s in strings], ["t"])
    got = {
        r["t"]: r["h"]
        for r in df.select("t", P.md5_long("t").alias("h")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE s (t VARCHAR)")
    con.executemany("INSERT INTO s VALUES (?)", [(s,) for s in strings])
    want = dict(
        con.execute(f"SELECT t, {P.sql_md5_long('t')} FROM s").fetchall()
    )
    con.close()
    assert got == want


@given(
    st.lists(
        st.integers(min_value=0, max_value=5000),
        min_size=1,
        max_size=400,
    )
)
@SET
def test_equidepth_bins_partition_rows(spark, raw):
    """Equi-depth binning partitions the multiset: bin counts sum to the
    total, bins are contiguous non-overlapping ranges, and no bin exceeds
    ceil(n/k) + (max tie run - 1) rows (ties are never split). Exercises
    the SAME operator the registry query runs (operators.sketch.
    equidepth_bins), not a private re-implementation."""
    from collections import Counter

    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.sketch import (
        equidepth_bins,
    )

    values = [v / 100.0 for v in raw]
    df = spark.createDataFrame([(v,) for v in values], ["value"])
    b = equidepth_bins(df, "value", k=8).collect()
    n = len(values)
    assert sum(r["n"] for r in b) == n
    for prev, cur in zip(b, b[1:]):
        assert prev["hi"] < cur["lo"], "bins overlap"
    max_tie = max(Counter(values).values())
    cap = -(-n // 8) + (max_tie - 1)
    for r in b:
        assert r["n"] <= cap, (r, cap)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 12),                      # key
            st.integers(1, 5),                       # seq
            st.sampled_from(["I", "U", "D"]),        # op
            st.integers(0, 99),                      # value
        ),
        max_size=30,
    ),
    st.lists(st.integers(0, 12), max_size=10, unique=True),  # base keys
)
@SET
def test_apply_changelog_matches_reference_fold(spark, ops, base_keys):
    """CDC fold == a direct Python reference fold for ARBITRARY
    changelogs: random keys/seqs/ops (including seq ties, resolved by
    the (seq, op) total order both implementations share), random base
    overlap — last-wins upserts, delete tombstones, untouched
    passthrough."""
    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.scd import (
        apply_changelog,
    )

    base_rows = [(k, k * 10) for k in base_keys]
    base = spark.createDataFrame(base_rows or [(999, 0)], ["k", "v"])
    if not base_rows:
        base = base.filter("k < 0")  # empty base, schema kept
    ch_rows = [
        (k, seq, op, None if op == "D" else v) for k, seq, op, v in ops
    ]
    changes = spark.createDataFrame(
        ch_rows or [(999, 1, "U", 0)], "k int, seq int, op string, v int"
    )
    if not ch_rows:
        changes = changes.filter("k < 0")

    # Reference fold: winner per key = max (seq, op); D deletes.
    state = dict(base_rows)
    winners = {}
    for k, seq, op, v in ch_rows:
        cur = winners.get(k)
        if cur is None or (seq, op) > (cur[0], cur[1]):
            winners[k] = (seq, op, v)
    for k, (seq, op, v) in winners.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v

    got = {
        r["k"]: r["v"]
        for r in apply_changelog(
            base, changes, key="k", tie_break="op"
        ).collect()
    }
    assert got == state


@given(
    st.lists(st.tuples(st.integers(0, 50), st.integers(-5, 5)), max_size=40)
)
@SET
def test_two_phase_cumsum_matches_window(spark, rows):
    """two_phase_cumsum == the single-partition window cumsum for
    arbitrary (possibly duplicated, negative-valued) integer inputs,
    inclusive and exclusive, with a tie-broken total order."""
    from pyspark.sql.window import Window

    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.surrogate import (
        two_phase_cumsum,
    )

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)] or [(0, 0, 0)],
        "i long, k long, v long",
    )
    if not rows:
        df = df.filter("i < 0")
    for exclusive in (False, True):
        got, total = two_phase_cumsum(
            df, ["k", "i"], "v", "cum", exclusive=exclusive,
            num_partitions=3,
        )
        got_m = {r["i"]: r["cum"] for r in got.collect()}
        end = -1 if exclusive else 0
        w = (
            Window.orderBy("k", "i")
            .rowsBetween(Window.unboundedPreceding, end)
        )
        ref = df.select(
            "i", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("cum")
        )
        ref_m = {r["i"]: r["cum"] for r in ref.collect()}
        assert got_m == ref_m, exclusive
        assert total == sum(v for _, v in rows)


SET5 = settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

edges_strategy = st.lists(
    st.tuples(
        st.integers(0, 5), st.integers(0, 5), st.integers(1, 9)
    ),
    min_size=1,
    max_size=15,
)


@given(edges_strategy, st.integers(0, 5), st.integers(1, 4))
@SET5
def test_bellman_ford_matches_python_reference(spark, es, seed, rounds):
    """bellman_ford == synchronous per-round relaxation in plain Python
    on arbitrary small weighted digraphs (integer weights keep both
    sides exact)."""
    from decimal import Decimal

    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.graph import (
        bellman_ford,
    )

    best = {}
    for s, d_, w in es:
        if s != d_:
            best[(s, d_)] = min(best.get((s, d_), w), w)
    if not best:
        return
    dist = {seed: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for (s, d_), w in best.items():
            if s in dist:
                cand = dist[s] + w
                if cand < nxt.get(d_, cand + 1):
                    nxt[d_] = cand
        dist = nxt
    edges = spark.createDataFrame(
        [(s, d_, float(w)) for s, d_, w in es if s != d_],
        ["src", "dst", "w"],
    )
    seeds = spark.createDataFrame([(seed,)], ["node"])
    got = {
        r["node"]: r["dist"]
        for r in bellman_ford(edges, seeds, rounds).collect()
    }
    assert got == {n: Decimal(v) for n, v in dist.items()}


@given(edges_strategy, st.integers(0, 5))
@SET5
def test_khop_matches_python_bfs(spark, es, seed):
    """khop_distances == plain BFS levels on arbitrary small digraphs."""
    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.graph import (
        khop_distances,
    )

    adj: dict[int, set[int]] = {}
    for s, d_, _ in es:
        if s != d_:
            adj.setdefault(s, set()).add(d_)
    want = {seed: 0}
    frontier = {seed}
    for h in (1, 2, 3):
        nxt = set()
        for u in frontier:
            nxt |= adj.get(u, set())
        nxt -= set(want)
        for v in nxt:
            want[v] = h
        frontier = nxt
    edges = spark.createDataFrame(
        [(s, d_) for s, d_, _ in es if s != d_] or [(98, 99)],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([(seed,)], ["node"])
    got = {
        r["node"]: r["hops"]
        for r in khop_distances(edges, seeds, max_hops=3).collect()
    }
    if not any(s != d_ for s, d_, _ in es):
        want = {seed: 0}
    assert got == want


@given(st.integers(1, 300), st.integers(1, 12))
@SET
def test_ntile_from_rank_matches_builtin_ntile(spark, n, k):
    """ntile_from_rank's pure-integer bucket formula == Spark's ntile(k)
    window for arbitrary (n, k), including n < k, n % k != 0, and k = 1
    — the exactness the scale_safe RFM path rests on."""
    from pyspark.sql.window import Window

    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.surrogate import (
        ntile_from_rank,
    )

    df = spark.range(1, n + 1).select(F.col("id").alias("rk"))
    got = {
        r["rk"]: r["b"]
        for r in df.select(
            "rk", ntile_from_rank(F.col("rk"), n, k).alias("b")
        ).collect()
    }
    want = {
        r["rk"]: r["b"]
        for r in df.select(
            "rk", F.ntile(k).over(Window.orderBy("rk")).alias("b")
        ).collect()
    }
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 3)),
        min_size=1,
        max_size=60,
    ),
    st.integers(2, 5),
)
@SET
def test_two_phase_rank_is_global_row_number(spark, rows, parts):
    """two_phase_rank over a random multi-partition frame == the global
    row_number of the single-partition window, including duplicate keys
    (tie-broken by the unique index) and the free total-count return."""
    from pyspark.sql.window import Window

    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.surrogate import (
        two_phase_rank,
    )

    df = spark.createDataFrame(
        [(i, k, s) for i, (k, s) in enumerate(rows)], "i long, k long, s long"
    )
    got_df, total = two_phase_rank(df, ["k", "s", "i"], "rk", num_partitions=parts)
    got = {r["i"]: r["rk"] for r in got_df.collect()}
    w = Window.orderBy("k", "s", "i")
    want = {
        r["i"]: r["rk"]
        for r in df.select("i", F.row_number().over(w).alias("rk")).collect()
    }
    assert got == want
    assert total == len(rows)

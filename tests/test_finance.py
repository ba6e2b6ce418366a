"""Semantic tests for the round-5 finance batch (plans.finance) —
cross-checks against independent in-Python recomputation, beyond the
DuckDB oracle sweep."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from datetime import timedelta

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.queries import (
    REGISTRY,
)

from conftest import SF_SMOKE


def test_zscore_matches_bruteforce(spark, duck_smoke):
    """Flagged set and z values agree with a direct recomputation from the
    raw parquet (independent arithmetic path: python floats over exact
    per-customer sums)."""
    rows = duck_smoke.execute(
        """
        SELECT c_custkey, c_mktsegment,
               coalesce(s, 0)::DOUBLE
        FROM customer LEFT JOIN (
          SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
          FROM orders GROUP BY 1) ON c_custkey = o_custkey
        """
    ).fetchall()
    by_seg = defaultdict(list)
    for _, seg, s in rows:
        by_seg[seg].append(s)
    expect = {}
    for ck, seg, s in rows:
        xs = by_seg[seg]
        n = len(xs)
        mean = sum(xs) / n
        var = (sum(x * x for x in xs) - sum(xs) ** 2 / n) / (n - 1)
        z = (s - mean) / math.sqrt(var)
        if abs(z) >= 2.5:
            expect[ck] = z
    got = {
        r["c_custkey"]: r["z"]
        for r in REGISTRY["a18_zscore_outliers"].spark(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expect)
    for ck, z in expect.items():
        assert abs(got[ck] - z) < 1e-4, (ck, got[ck], z)


def test_benford_frequencies_sum(spark):
    out = REGISTRY["a19_benford_first_digit"].spark(spark, SF_SMOKE).collect()
    assert [r["digit"] for r in out] == list(range(1, 10))
    assert abs(sum(r["obs_freq"] for r in out) - 1.0) < 1e-5
    # Expected Benford column must itself be a distribution.
    assert abs(sum(r["exp_freq"] for r in out) - 1.0) < 1e-4
    for r in out:
        assert abs(r["abs_dev"] - abs(r["obs_freq"] - r["exp_freq"])) < 2e-6


def test_basket_pairs_shape(spark):
    out = REGISTRY["a20_basket_pair_lift"].spark(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 50
    lifts = [r["lift"] for r in out]
    assert lifts == sorted(lifts, reverse=True)
    for r in out:
        assert r["brand_a"] < r["brand_b"]
        assert r["pair_n"] >= 5
        assert 0 < r["support"] <= 1
        assert r["lift"] > 0


def test_gapfill_contiguous_and_carry(spark):
    out = (
        REGISTRY["w6_user_day_gapfill"].spark(spark, SF_SMOKE).collect()
    )
    assert out, "spine is empty"
    by_user = defaultdict(list)
    for r in out:
        by_user[r["user_id"]].append(r)
    saw_gap = False
    for rows in by_user.values():
        # Contiguous daily spine, cumulative count telescopes, LOCF holds
        # the last active day's total across zero days.
        carry = None
        cum = 0
        for i, r in enumerate(rows):
            if i:
                assert r["day"] == rows[i - 1]["day"] + timedelta(days=1)
            if r["n_events"] == 0:
                saw_gap = True
                assert r["day_total"] == 0.0
                assert r["carry_total"] == carry
            else:
                carry = r["carry_total"]
                assert abs(r["carry_total"] - r["day_total"]) < 1e-9
            cum += r["n_events"]
            assert r["cum_events"] == cum
        # First/last day of each user's spine is active by construction.
        assert rows[0]["n_events"] > 0 and rows[-1]["n_events"] > 0
    assert saw_gap, "fixture produced no gap days; spine untested"


def test_attribution_matches_bruteforce(spark, duck_smoke):
    """Last-touch attribution agrees with a direct per-purchase scan of
    the user's click history (independent of the as-of machinery)."""
    clicks = duck_smoke.execute(
        """
        SELECT user_id, ts,
               max(CAST(json_extract_string(props, '$.k') AS INT) % 5)
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
        """
    ).fetchall()
    by_user = defaultdict(list)
    for u, ts, ch in clicks:
        by_user[u].append((ts, ch))
    for v in by_user.values():
        v.sort()
    purchases = duck_smoke.execute(
        """
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
        """
    ).fetchall()
    n_by_ch = Counter()
    for u, ts, _ in purchases:
        best = None
        for cts, ch in by_user.get(u, ()):
            if cts <= ts and (ts - cts) <= timedelta(days=7):
                best = ch  # sorted ascending: last qualifying wins
        n_by_ch[best if best is not None else -1] += 1
    out = REGISTRY["ev_attribution_last_touch"].spark(spark, SF_SMOKE).collect()
    assert {r["channel"]: r["n_purchases"] for r in out} == dict(n_by_ch)
    assert sum(r["n_purchases"] for r in out) == len(purchases)


def test_reconciliation_counts(spark, duck_smoke):
    """Mismatch counts agree with an exact-Decimal Python recompute."""
    from decimal import Decimal

    li = duck_smoke.execute(
        """
        SELECT l_orderkey,
               CAST(l_extendedprice AS DECIMAL(18,2)),
               CAST(l_discount AS DECIMAL(5,2)),
               CAST(l_tax AS DECIMAL(5,2))
        FROM lineitem
        """
    ).fetchall()
    detail = defaultdict(Decimal)
    for k, ep, disc, tax in li:
        detail[k] += ep * (1 - disc) * (1 + tax)
    orders = duck_smoke.execute(
        "SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) FROM orders"
    ).fetchall()
    expect = Counter()
    totals = Counter()
    for k, st, tp in orders:
        totals[st] += 1
        if abs(tp - detail.get(k, Decimal(0))) > 1:
            expect[st] += 1
    out = REGISTRY["a21_order_reconciliation"].spark(spark, SF_SMOKE).collect()
    assert {r["status"]: r["n_orders"] for r in out} == dict(totals)
    assert {r["status"]: r["n_mismatched"] for r in out} == {
        st: expect.get(st, 0) for st in totals
    }
    for r in out:
        assert r["max_abs_delta"] >= r["avg_abs_delta"] >= 0


def test_pagerank_matches_bruteforce(spark, duck_smoke):
    """3-iteration PageRank agrees with a direct Python power iteration
    over the same co-purchase graph, and the ranks form a distribution."""
    edges = duck_smoke.execute(
        """
        WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
                    FROM lineitem JOIN part ON l_partkey = p_partkey)
        SELECT DISTINCT a.p_brand, b.p_brand
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
        """
    ).fetchall()
    out_n = defaultdict(set)
    in_n = defaultdict(set)
    nodes = set()
    for s, d in edges:
        out_n[s].add(d)
        in_n[d].add(s)
        nodes.update((s, d))
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        rank = {
            v: (1.0 - 0.85) / n
            + 0.85 * sum(rank[u] / len(out_n[u]) for u in sorted(in_n[v]))
            for v in nodes
        }
    out = REGISTRY["a22_brand_pagerank"].spark(spark, SF_SMOKE).collect()
    assert len(out) == n
    got = {r["brand"]: r["rank"] for r in out}
    assert abs(sum(got.values()) - 1.0) < 1e-4  # ranks are a distribution
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-6, (v, got[v], rank[v])
    ranks = [r["rank"] for r in out]
    assert ranks == sorted(ranks, reverse=True)


def test_triangle_counts_handbuilt_graph(spark):
    """Degree-ordered compact-forward enumeration on a graph with known
    triangle structure: two triangles sharing an edge, a hub wired to
    all of them without closing any new triangle beyond the two, and a
    pendant node in none."""
    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.graph import (
        triangle_counts,
    )

    # Triangles: (1,2,3) and (2,3,4). Node 5 pendant off 1.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (1, 5)],
        ["src", "dst"],
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(edges).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}
    # Duplicate / reversed edges must not inflate counts.
    noisy = edges.union(
        spark.createDataFrame([(2, 1), (3, 2), (3, 1)], ["src", "dst"])
    )
    got2 = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(noisy).collect()
    }
    assert got2 == got


def test_star_contraction_components(spark):
    """Large-star/small-star contraction must (a) agree with min-label
    propagation wherever the latter converges, and (b) converge in
    O(log n) rounds on the chain graph whose diameter EXCEEDS the
    min-label iteration cap — the web-scale case the docstring promises."""
    import pytest as _pytest

    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    # Deterministic random-ish graph: 3 clusters + isolated pair.
    pairs = (
        [(i, (i * 7) % 20) for i in range(20) if i != (i * 7) % 20]
        + [(100 + i, 100 + (i + 1) % 5) for i in range(5)]
        + [(200, 201)]
    )
    edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
    want = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    got = {
        r["node"]: r["lbl"]
        for r in connected_components_star(edges).collect()
    }
    assert got == want

    # 60-node chain: diameter 59 > min-label cap of 25 -> it must raise;
    # star contraction converges (logarithmic rounds) to one component.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["id_a", "id_b"]
    )
    with _pytest.raises(RuntimeError):
        connected_components(chain)
    star = {
        r["node"]: r["lbl"]
        for r in connected_components_star(chain).collect()
    }
    assert set(star) == set(range(60))
    assert set(star.values()) == {0}


def test_pagerank_dangling_redistribution_oracle_pinned(spark):
    """VERDICT r5 ask #7: redistribute_dangling adds the classic
    d * D/N dangling-mass term each iteration. Both modes are pinned
    against a DuckDB unrolled-CTE twin with identical arithmetic
    (12dp-rounded DECIMAL contribution sums, repr()-inlined scalars),
    on a directed graph with a sink; the redistributing variant's ranks
    must sum to 1 (true PageRank), the default's must not."""
    import duckdb

    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.graph import (
        pagerank,
    )

    edges = [(1, 2), (1, 3), (2, 3), (4, 1), (4, 2)]  # node 3 is a sink
    df = spark.createDataFrame(edges, ["src", "dst"])
    tp, d = repr(1.0 - 0.85), repr(0.85)

    def cte(i: int, dangling: bool) -> str:
        contrib = f"""
          SELECT e.dst AS node,
                 sum(CAST(round(r.rank / od.deg, 12) AS DECIMAL(32,12))) AS s
          FROM e JOIN r{i - 1} r ON e.src = r.node
                 JOIN od ON e.src = od.node
          GROUP BY 1"""
        if dangling:
            return f"""r{i} AS (
              SELECT nodes.node,
                     CAST('{tp}' AS DOUBLE) / nn.n
                     + CAST('{d}' AS DOUBLE) * (
                         CAST(coalesce(s.s, 0) AS DOUBLE)
                         + CAST(dm.dm AS DOUBLE) / nn.n) AS rank
              FROM nodes CROSS JOIN nn CROSS JOIN (
                SELECT coalesce(sum(CAST(round(r.rank, 12)
                                         AS DECIMAL(32,12))),
                                CAST(0 AS DECIMAL(32,12))) AS dm
                FROM r{i - 1} r LEFT JOIN od ON r.node = od.node
                WHERE od.node IS NULL) dm
              LEFT JOIN ({contrib}) s ON nodes.node = s.node)"""
        return f"""r{i} AS (
          SELECT nodes.node,
                 CAST('{tp}' AS DOUBLE) / nn.n
                 + CAST('{d}' AS DOUBLE)
                   * CAST(coalesce(s.s, 0) AS DOUBLE) AS rank
          FROM nodes CROSS JOIN nn
          LEFT JOIN ({contrib}) s ON nodes.node = s.node)"""

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e AS SELECT * FROM (VALUES "
        + ", ".join(f"({s}, {t})" for s, t in edges)
        + ") t(src, dst)"
    )
    for dangling in (False, True):
        sql = f"""
        WITH nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        nn AS (SELECT count(*) AS n FROM nodes),
        od AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
        r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
               FROM nodes CROSS JOIN nn),
        {", ".join(cte(i, dangling) for i in (1, 2, 3))}
        SELECT node, rank FROM r3 ORDER BY node
        """
        want = dict(con.execute(sql).fetchall())
        got = {
            r["node"]: r["rank"]
            for r in pagerank(
                df, iterations=3, redistribute_dangling=dangling
            ).collect()
        }
        assert got == want, (dangling, got, want)  # bit-exact
        if dangling:
            assert abs(sum(got.values()) - 1.0) < 1e-9
        else:
            assert sum(got.values()) < 1.0 - 1e-3  # sink leaks mass


def test_spearman_avg_rank_matches_bruteforce(spark, duck_smoke):
    """Classical average-rank Spearman recomputed independently in
    Python (fractional ranks + Pearson over ranks) matches the engine's
    doubled-integer-rank formulation; under ties it must DIFFER from
    the total-order sibling's tie-broken rho on at least one segment
    (the fixture's freq metric is heavily tied)."""
    rows = duck_smoke.execute(
        """
        SELECT c_mktsegment, count(*) AS freq,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, c_custkey
        """
    ).fetchall()
    by_seg = defaultdict(list)
    for seg, freq, spend in rows:
        by_seg[seg].append((freq, float(spend)))

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            mean = (i + 1 + j) / 2.0  # mean of positions i+1..j
            for k in range(i, j):
                ranks[order[k]] = mean
            i = j
        return ranks

    want = {}
    for seg, pts in by_seg.items():
        rf = avg_ranks([p[0] for p in pts])
        rs = avg_ranks([p[1] for p in pts])
        n = len(pts)
        mx, my = sum(rf) / n, sum(rs) / n
        num = sum((a - mx) * (b - my) for a, b in zip(rf, rs))
        den = (
            sum((a - mx) ** 2 for a in rf) * sum((b - my) ** 2 for b in rs)
        ) ** 0.5
        want[seg] = num / den
    got = {
        r["segment"]: r["spearman_rho"]
        for r in REGISTRY["a25_spearman_avg_rank"].spark(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for seg in want:
        assert abs(got[seg] - want[seg]) < 1e-6, (seg, got[seg], want[seg])
    total_order = {
        r["segment"]: r["spearman_rho"]
        for r in REGISTRY["a25_spearman_freq_spend"].spark(spark, SF_SMOKE).collect()
    }
    assert any(got[s] != total_order[s] for s in got)


def test_label_propagation_handbuilt_communities(spark):
    """Deterministic LPA on two 4-cliques joined by one bridge edge must
    (a) match an independent Python simulation of the same synchronous
    majority/min-tie rule round by round, and (b) separate the cliques
    into two communities (the bridge must not merge them)."""
    from financial_transaction_data_warehouse_interactive_dashboard_spark.operators.graph import (
        label_propagation,
    )

    cliq1 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a != b]
    cliq2 = [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a != b]
    bridge = [(4, 10), (10, 4)]
    edges = cliq1 + cliq2 + bridge
    df = spark.createDataFrame(edges, ["src", "dst"])

    # Independent simulation of the synchronous deterministic rule.
    from collections import Counter, defaultdict

    nbrs = defaultdict(set)
    for s, d in edges:
        nbrs[s].add(d)
    lbl = {v: v for v in nbrs}
    for _ in range(3):
        new = {}
        for v in nbrs:
            c = Counter(lbl[u] for u in nbrs[v])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        lbl = new

    got = {
        r["node"]: r["community"]
        for r in label_propagation(df, iterations=3).collect()
    }
    assert got == lbl, (got, lbl)
    comms = defaultdict(set)
    for v, c in got.items():
        comms[c].add(v)
    assert len(comms) == 2
    assert {frozenset(m) for m in comms.values()} == {
        frozenset({1, 2, 3, 4}), frozenset({10, 11, 12, 13})
    }


def test_dow_seasonal_outliers_matches_bruteforce(spark, duck_smoke):
    """Flagged days agree with an independent Python recomputation of
    the weekday-cohort z-scores from raw orders, and the screen is
    non-vacuous on the fixture."""
    from datetime import date

    rows = duck_smoke.execute(
        """
        SELECT o_orderdate, sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        FROM orders GROUP BY 1
        """
    ).fetchall()
    anchor = date(1970, 1, 5)
    by_dow = {}
    daily = {}
    for d, cents in rows:
        d = d.date() if hasattr(d, "date") else d
        cents = int(cents)
        daily[d] = cents
        by_dow.setdefault((d - anchor).days % 7, []).append(cents)
    want = {}
    for d, cents in daily.items():
        dow = (d - anchor).days % 7
        xs = by_dow[dow]
        n = len(xs)
        if n < 2:
            continue
        s, s2 = float(sum(xs)), float(sum(x * x for x in xs))
        var = (s2 - s * s / n) / (n - 1)
        if var <= 0:
            continue
        z = (cents - s / n) / var ** 0.5
        if abs(z) >= 2.0:
            want[d] = z
    got = {
        (r["day"].date() if hasattr(r["day"], "date") else r["day"]): r["z"]
        for r in REGISTRY["a27_dow_seasonal_outliers"]
        .spark(spark, SF_SMOKE)
        .collect()
    }
    assert got.keys() == want.keys()
    assert len(got) > 0
    for d in want:
        assert abs(got[d] - want[d]) < 1e-6


def test_customer_kmeans_is_a_fixed_point_improvement(spark, duck_smoke):
    """k-means sanity on the fixture: every customer is in exactly one
    cluster, cluster sizes sum to the customer count with orders, and
    the second iteration's assignment has total inertia <= the first's
    (Lloyd never increases the objective)."""
    from collections import defaultdict

    rows = duck_smoke.execute(
        """
        SELECT o_custkey, count(*)::DOUBLE,
               CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                         AS BIGINT) AS DOUBLE)
        FROM orders GROUP BY 1
        """
    ).fetchall()
    pts = {ck: (f, s) for ck, f, s in rows}
    seeds = [pts[ck] for ck in sorted(pts)[:4]]

    def assign(centroids):
        clusters = defaultdict(list)
        inertia = 0.0
        for ck, (f, s) in pts.items():
            best = min(
                range(len(centroids)),
                key=lambda i: (
                    round(
                        (f - centroids[i][0]) ** 2 + (s - centroids[i][1]) ** 2,
                        12,
                    ),
                    i,
                ),
            )
            clusters[best].append((f, s))
            inertia += (f - centroids[best][0]) ** 2 + (
                s - centroids[best][1]
            ) ** 2
        return clusters, inertia

    c = seeds
    inertias = []
    for _ in range(2):
        clusters, inertia = assign(c)
        inertias.append(inertia)
        c = [
            (
                sum(p[0] for p in clusters[i]) / len(clusters[i]),
                sum(p[1] for p in clusters[i]) / len(clusters[i]),
            )
            for i in sorted(clusters)
        ]
    clusters, _ = assign(c) if False else (clusters, None)

    out = REGISTRY["a28_customer_kmeans"].spark(spark, SF_SMOKE).collect()
    assert sum(r["n_customers"] for r in out) == len(pts)
    got_sizes = sorted(r["n_customers"] for r in out)
    want_sizes = sorted(len(v) for v in clusters.values())
    assert got_sizes == want_sizes
    assert inertias[1] <= inertias[0] + 1e-6


def test_cohort_ltv_internal_consistency(spark):
    """Within each cohort, cumulative revenue is the running sum of the
    per-age revenue and is non-decreasing; per-customer LTV is the
    cumulative divided by the (constant) cohort size."""
    rows = REGISTRY["a29_cohort_ltv"].spark(spark, SF_SMOKE).collect()
    assert rows
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[(r["cohort_year"], r["cohort_quarter"])].append(r)
    for key, rs in by_cohort.items():
        ages = [r["age_quarters"] for r in rs]
        assert ages == sorted(ages) and len(set(ages)) == len(ages), key
        run = 0.0
        sizes = {r["n_customers"] for r in rs}
        assert len(sizes) == 1, key
        for r in rs:
            run += r["revenue"]
            assert abs(r["cum_revenue"] - run) < 1e-4, key
            # 2e-6 tolerance: python round() is banker's, Spark's is
            # HALF_UP — an exact .5 at the 6th decimal differs by 1ulp6.
            assert (
                abs(r["ltv_per_customer"] - round(r["cum_revenue"] / r["n_customers"], 6))
                < 2e-6
            ), key
        # Ages start at acquisition: the first row is age 0 by definition.
        assert rs[0]["age_quarters"] == 0, key


def test_mixture_weights_properties(spark):
    """Temperature tau<1 compresses the distribution: weights sum to 1,
    every below-average source is upsampled (w > p), every above-average
    one downsampled, and expected epochs = w/p exceed 1 exactly for the
    upsampled sources."""
    rows = REGISTRY["tx_mixture_weights"].spark(spark, SF_SMOKE).collect()
    assert rows
    assert abs(sum(r["w"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["p"] for r in rows) - 1.0) < 1e-3
    mean_p = 1.0 / len(rows)
    for r in rows:
        if abs(r["p"] - mean_p) < 1e-9:
            continue
        if r["p"] < mean_p:
            assert r["w"] > r["p"] - 1e-9, r
            assert r["expected_epochs"] > 1.0 - 1e-9, r
        else:
            assert r["w"] < r["p"] + 1e-9, r
            assert r["expected_epochs"] < 1.0 + 1e-9, r


def test_personalized_pagerank_properties(spark):
    """Seeded PageRank over the (dangling-free) co-purchase graph
    conserves rank mass (sums to 1 every iteration) and concentrates it
    near the seeds — the seed family must average a higher rank than
    the non-seeds."""
    rows = REGISTRY["a30_brand_ppr"].spark(spark, SF_SMOKE).collect()
    assert rows
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-3
    seed_ranks = [r["rank"] for r in rows if r["is_seed"] == 1]
    other_ranks = [r["rank"] for r in rows if r["is_seed"] == 0]
    assert seed_ranks and other_ranks
    assert (sum(seed_ranks) / len(seed_ranks)) > (
        sum(other_ranks) / len(other_ranks)
    )


def test_survival_km_hand_cohort(spark):
    """Planted cohort with known censoring: two churns at t=0 (S=0.5),
    one at t=1 (S=0.25), one censored at the corpus end (flat tail,
    never counted as a churn event)."""
    import datetime as dt
    import os
    import tempfile

    d0 = dt.datetime(2020, 1, 1)

    def o(ck, *dates):
        return [(len(dates) * 100 + ck * 10 + i, ck, d)
                for i, d in enumerate(dates)]

    rows = (
        o(1, d0)  # lifetime 0, churned
        + o(2, d0, d0 + dt.timedelta(days=19))  # t=0, churned
        + o(3, d0, d0 + dt.timedelta(days=45))  # t=1, churned
        + o(4, d0, d0 + dt.timedelta(days=152))  # t=5, censored (corpus end)
    )
    orders = spark.createDataFrame(
        rows, ["o_orderkey", "o_custkey", "o_orderdate"]
    )
    from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.finance import (
        a35_survival_km,
    )

    with tempfile.TemporaryDirectory() as tmp:
        orders.write.parquet(os.path.join(tmp, "orders.parquet"))
        got = {
            r["t_months"]: r for r in a35_survival_km(spark, tmp).collect()
        }
    assert set(got) == {0, 1, 5}
    assert (got[0]["n_at_risk"], got[0]["n_churned"]) == (4, 2)
    assert got[0]["survival"] == 0.5
    assert (got[1]["n_at_risk"], got[1]["n_churned"]) == (2, 1)
    assert got[1]["survival"] == 0.25
    # censored customer: at risk, no event, curve stays flat
    assert (got[5]["n_at_risk"], got[5]["n_churned"]) == (1, 0)
    assert got[5]["survival"] == 0.25

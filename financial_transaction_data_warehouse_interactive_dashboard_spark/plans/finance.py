"""Financial-analytics named queries: anomaly detection, digit-law audit,
market-basket affinity, time-spine gap-filling, revenue attribution,
header-vs-detail reconciliation, and co-purchase graph centrality.

The reference is a financial-transaction warehouse dashboard; this module
extends its analytics tier with the detection/audit queries such a
warehouse grows next (fraud screens, basket affinity, activity spines).
Reference analogue: none of these exist in the reference — its analytics
stop at group-count dashboards (streamlit.py:151-210) — so each entry is
a beyond-reference operator with a full DuckDB oracle.

Determinism (the module-wide discipline from plans.queries): every
aggregate that feeds a continuous statistic is computed over DECIMAL
(exact, order-independent), converted to DOUBLE only inside scalar
expressions whose operation ORDER is written identically in the Spark
plan and the oracle SQL — IEEE doubles are deterministic when the
operand bits and operation sequence match — and every continuous output
is rounded before crossing the hash boundary.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.inline import inline_table
from .queries import _t, query

# ---------------------------------------------------------------------------
# Shared frames for the basket/graph family (a20, a22, a23): built once
# here so a change to the basket derivation cannot silently diverge the
# three queries.
# ---------------------------------------------------------------------------


def _order_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (l_orderkey, p_brand) basket frame: lineitem through the
    broadcast part dim, projected and deduplicated BEFORE any self-join,
    so downstream pair fan-out is bounded by basket width."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )


def _copurchase_edges(ob: DataFrame, ordered: bool = True) -> DataFrame:
    """Distinct brand pairs sharing at least one order, as (src, dst).
    ``ordered=True`` keeps src < dst (one row per undirected edge, for
    triangle counting); ``False`` emits both directions (for PageRank's
    directed-arc form)."""
    a = ob.select(
        F.col("l_orderkey").alias("k"), F.col("p_brand").alias("src")
    )
    b = ob.select(
        F.col("l_orderkey").alias("k"), F.col("p_brand").alias("dst")
    )
    cond = (
        F.col("src") < F.col("dst")
        if ordered
        else F.col("src") != F.col("dst")
    )
    return a.join(b, "k").filter(cond).select("src", "dst").distinct()


# ---------------------------------------------------------------------------
# a18: per-segment z-score anomaly screen on customer spend
# ---------------------------------------------------------------------------

Z_CUT = 2.5


@query(
    "a18_zscore_outliers",
    f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS s
      FROM orders GROUP BY 1),
    seg AS (
      SELECT c_custkey, c_mktsegment,
             coalesce(s, CAST(0 AS DECIMAL(18,2))) AS s
      FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
    m AS (
      SELECT c_mktsegment, count(*) AS n,
             sum(s) AS ts, sum(s * s) AS tsq
      FROM seg GROUP BY 1),
    z AS (
      SELECT c_custkey, c_mktsegment AS segment,
             CAST(s AS DOUBLE) AS spend,
             (CAST(s AS DOUBLE) - CAST(ts AS DOUBLE) / n)
               / sqrt((CAST(tsq AS DOUBLE)
                       - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / n)
                      / (n - 1)) AS zval
      FROM seg JOIN m USING (c_mktsegment)
      WHERE n > 1
        AND CAST(tsq AS DOUBLE)
            - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / n > 0)
    SELECT c_custkey, segment, spend, round(zval, 6) AS z
    FROM z WHERE abs(zval) >= {Z_CUT}
    ORDER BY c_custkey
    """,
)
def a18_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-relative anomaly screen: customers whose total spend sits
    more than Z_CUT standard deviations from their market segment's mean
    (the first fraud/KYC screen a transaction warehouse runs; customers
    with zero orders participate at spend 0 — inactivity is part of the
    cohort distribution).

    Physical: one shuffle to aggregate spend per customer, a broadcast
    dim join for the segment, a 5-row moments aggregate (exact decimal
    sum and sum-of-squares — order-independent, so distributed
    re-aggregation cannot perturb the variance), broadcast back onto the
    customer frame. At 100 TB the only corpus-sized shuffle is the
    per-customer aggregate; the z-score itself is map-side arithmetic.
    Variance via the sum-of-squares identity on EXACT decimal moments —
    the usual catastrophic-cancellation objection to E[x^2]-E[x]^2
    applies to floating-point accumulation, not to exact integers
    converted once at the end."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("s")
        )
    )
    seg = cust.join(
        spend, cust.c_custkey == spend.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("s", F.lit(0).cast("decimal(18,2)")).alias("s"),
    )
    m = seg.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("s").alias("ts"),
        F.sum(F.col("s") * F.col("s")).alias("tsq"),
    )
    ts_d = F.col("ts").cast("double")
    zval = (F.col("s").cast("double") - ts_d / F.col("n")) / F.sqrt(
        (F.col("tsq").cast("double") - ts_d * ts_d / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        seg.join(F.broadcast(m), "c_mktsegment")
        # Degenerate-cohort guard (single-member segment, or zero
        # variance): 0/0 and x/0 semantics differ across engines, so
        # neither side may ever evaluate them. Same expression as the
        # variance numerator.
        .filter(
            (F.col("n") > 1)
            & (
                F.col("tsq").cast("double")
                - ts_d * ts_d / F.col("n")
                > 0
            )
        )
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.col("s").cast("double").alias("spend"),
            zval.alias("zval"),
        )
        .filter(F.abs(F.col("zval")) >= Z_CUT)
        .select(
            "c_custkey",
            "segment",
            "spend",
            F.round("zval", 6).alias("z"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# a19: Benford first-digit audit
# ---------------------------------------------------------------------------

# Expected Benford frequencies as shared literals: computed ONCE here and
# inlined into both the Spark plan and the oracle SQL, so no engine's
# log10 implementation (JVM StrictMath vs libm — not bit-identical) ever
# touches the compared values.
BENFORD_EXP = {d: round(math.log10(1 + 1 / d), 6) for d in range(1, 10)}


@query(
    "a19_benford_first_digit",
    f"""
    WITH digits AS (
      SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                    1, 1)::INT AS digit
      FROM orders),
    counts AS (SELECT digit, count(*) AS n FROM digits GROUP BY 1),
    tot AS (SELECT count(*) AS total FROM orders),
    exp AS (
      SELECT digit, ef::DOUBLE AS exp_freq FROM (VALUES
        {", ".join(f"({d}, {BENFORD_EXP[d]})" for d in range(1, 10))}
      ) AS t(digit, ef))
    SELECT digit, n,
           round(n / total, 6) AS obs_freq,
           exp_freq,
           round(abs(n / total - exp_freq), 6) AS abs_dev
    FROM counts JOIN exp USING (digit) CROSS JOIN tot
    ORDER BY digit
    """,
)
def a19_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order amounts — the classic
    forensic-accounting screen (synthetic uniform prices violate the law
    loudly; the operator MEASURES the deviation, it does not assume
    conformance). First digit extracted from the DECIMAL string form
    (never via log10 — float log across engines is last-ulp hazardous
    and amounts are always positive decimals anyway).

    Physical: map-side digit extraction, a 9-group aggregate, the grand
    total as a broadcast scalar (in-plan, no driver round-trip), expected
    frequencies as a broadcast 9-row literal table. One corpus pass."""
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    counts = orders.groupBy(digit.alias("digit")).agg(
        F.count("*").alias("n")
    )
    tot = orders.agg(F.count("*").alias("total"))
    exp = inline_table(
        orders.sparkSession,
        [(d, BENFORD_EXP[d]) for d in range(1, 10)],
        ["digit", "ef"],
    ).select("digit", F.col("ef").cast("double").alias("exp_freq"))
    return (
        counts.join(F.broadcast(exp), "digit")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("obs_freq"),
            "exp_freq",
            F.round(
                F.abs(F.col("n") / F.col("total") - F.col("exp_freq")), 6
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# a20: market-basket brand affinity (pairwise support / lift)
# ---------------------------------------------------------------------------

PAIR_MIN_N = 5
PAIR_TOP_K = 50


@query(
    "a20_basket_pair_lift",
    f"""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob),
    bn AS (SELECT p_brand, count(*) AS n FROM ob GROUP BY 1),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS pair_n
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2)
    SELECT brand_a, brand_b, pair_n,
           round(pair_n / n_orders, 6) AS support,
           round((pair_n * n_orders) / (na.n * nb.n), 6) AS lift
    FROM pairs
    JOIN bn na ON brand_a = na.p_brand
    JOIN bn nb ON brand_b = nb.p_brand
    CROSS JOIN tot
    WHERE pair_n >= {PAIR_MIN_N}
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT {PAIR_TOP_K}
    """,
)
def a20_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: brand pairs co-purchased in one order,
    with support and lift — pairwise frequent-itemset mining, the
    cross-sell primitive (a full Apriori/FP-Growth is this operator
    iterated over growing itemsets).

    Physical: lineitem x part via broadcast dim join, reduced to DISTINCT
    (order, brand) BEFORE the self-join — the self-join shuffles once on
    l_orderkey and its per-order fan-out is bounded by basket width
    (distinct brands per order), so the pair explosion is O(orders x
    width^2), never O(rows^2). Per-brand counts and the order total come
    back as broadcast frames onto the ~|brands|^2 pair aggregate.
    Integer products stay well inside BIGINT (counts, not values)."""
    ob = _order_brands(spark, sf_dir)
    tot = ob.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    bn = ob.groupBy("p_brand").agg(F.count("*").alias("n"))
    a = ob.select(
        F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_a")
    )
    b = ob.select(
        F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= PAIR_MIN_N)
    )
    na = bn.select(
        F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a")
    )
    nb = bn.select(
        F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "pair_n",
            F.round(F.col("pair_n") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(
                (F.col("pair_n") * F.col("n_orders"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(PAIR_TOP_K)
    )


# ---------------------------------------------------------------------------
# w6: per-user daily time spine with gap-fill + LOCF
# ---------------------------------------------------------------------------


@query(
    "w6_user_day_gapfill",
    """
    WITH ev AS (
      SELECT user_id, ts::DATE AS day, value
      FROM events WHERE user_id % 10 = 0),
    daily AS (
      SELECT user_id, day, count(*) AS n,
             sum(CAST(value AS DECIMAL(30,6))) AS tot
      FROM ev GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, min(day) AS mn, max(day) AS mx FROM ev GROUP BY 1),
    spine AS (
      SELECT user_id,
             unnest(generate_series(mn::TIMESTAMP, mx::TIMESTAMP,
                                    INTERVAL 1 DAY))::DATE AS day
      FROM bounds),
    g AS (
      SELECT s.user_id, s.day,
             coalesce(n, 0) AS n_events, tot
      FROM spine s LEFT JOIN daily d
        ON s.user_id = d.user_id AND s.day = d.day)
    SELECT user_id, day, n_events,
           CAST(coalesce(tot, 0) AS DOUBLE) AS day_total,
           CAST(last_value(tot IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS carry_total,
           CAST(sum(n_events) OVER (
                  PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_events
    FROM g ORDER BY user_id, day
    """,
)
def w6_user_day_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap-filling: a contiguous per-user daily calendar from
    each user's first to last active day (generated IN-PLAN via
    sequence+explode — the spine is sized per group on the executors,
    never enumerated on the driver), left-joined to the daily aggregate
    so silent days materialize as zero rows, with last-observation-
    carried-forward of the running day total across gaps and a
    cumulative event count. The resample/ffill idiom of time-series
    stores, as pure DataFrame ops.

    Deterministic 10% user sample (user_id % 10 = 0, mirrored in the
    oracle) keeps the check-scale output bounded; at 100 TB the spine
    join shuffles on (user, day) — same key as the aggregate, so AQE
    coalesces — and each user's spine length is bounded by their active
    span, not the global calendar."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select("user_id", F.to_date("ts").alias("day"), "value")
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("tot"),
    )
    bounds = ev.groupBy("user_id").agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    spine = bounds.select(
        "user_id", F.explode(F.sequence("mn", "mx")).alias("day")
    )
    g = spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        "tot",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        g.select(
            "user_id",
            "day",
            "n_events",
            F.coalesce("tot", F.lit(0)).cast("double").alias("day_total"),
            F.last("tot", ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("carry_total"),
            F.sum("n_events").over(w).cast("bigint").alias("cum_events"),
        )
        .orderBy("user_id", "day")
    )


# ---------------------------------------------------------------------------
# ev_attribution_last_touch: marketing attribution over the event stream
# ---------------------------------------------------------------------------

ATTR_LOOKBACK_S = 7 * 86400


@query(
    "ev_attribution_last_touch",
    f"""
    WITH c AS (
      SELECT user_id, ts,
             max(CAST(json_extract_string(props, '$.k') AS INT) % 5)
               AS channel
      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
    p AS (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    m AS (
      SELECT p.event_id, p.value,
             CASE WHEN c.ts IS NOT NULL
                   AND epoch_us(p.ts) - epoch_us(c.ts)
                       <= {ATTR_LOOKBACK_S * 1_000_000}
                  THEN c.channel END AS ch
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts >= c.ts)
    SELECT coalesce(ch, -1) AS channel,
           count(*) AS n_purchases,
           CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
             AS attributed_value
    FROM m GROUP BY 1 ORDER BY channel
    """,
)
def ev_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase is credited to the
    user's most recent click within a 7-day lookback (channel derived
    deterministically from the click's props payload — the fixture has
    no channel field, so k %% 5 stands in; the operator SHAPE is the
    point), purchases with no qualifying click land in channel -1. The
    marketing-attribution primitive every transaction warehouse grows;
    first-touch is the same plan with direction='forward' from the
    session start.

    Composition showcase: operators.temporal.asof_join (backward, with
    tolerance — one shuffle, union + carry-forward window) feeding a
    5-row aggregate; clicks are pre-aggregated per (user, ts) because
    the as-of contract requires unique right keys. Oracle: DuckDB's
    native ASOF LEFT JOIN with the same tolerance CASE."""
    from ..operators.temporal import asof_join

    events = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", "ts", (k % 5).alias("channel"))
        .groupBy("user_id", "ts")
        .agg(F.max("channel").alias("channel"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(
        purchases,
        clicks,
        by="user_id",
        ts_col="ts",
        tolerance_seconds=ATTR_LOOKBACK_S,
    )
    return (
        j.select(
            F.coalesce("r_channel", F.lit(-1)).alias("channel"), "value"
        )
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("attributed_value"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# a21: order-vs-lineitem reconciliation audit
# ---------------------------------------------------------------------------

RECON_TOL_MICROS = 1_000_000  # micro-dollars of |header - detail| tolerated


@query(
    "a21_order_reconciliation",
    f"""
    WITH li AS (
      SELECT l_orderkey,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * (100 - CAST(CAST(l_discount AS DECIMAL(5,2)) * 100
                               AS BIGINT))
                 * (100 + CAST(CAST(l_tax AS DECIMAL(5,2)) * 100
                               AS BIGINT))) AS detail_us
      FROM lineitem GROUP BY 1),
    d AS (
      SELECT o_orderstatus,
             abs(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000
                      AS BIGINT)
                 - CAST(coalesce(detail_us, 0) AS BIGINT)) AS adelta_us
      FROM orders LEFT JOIN li ON o_orderkey = l_orderkey)
    SELECT o_orderstatus AS status,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN adelta_us > {RECON_TOL_MICROS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           round(CAST(sum(adelta_us) AS DOUBLE) / count(*) / 1000000, 6)
             AS avg_abs_delta,
           round(CAST(max(adelta_us) AS DOUBLE) / 1000000, 6)
             AS max_abs_delta
    FROM d GROUP BY 1 ORDER BY status
    """,
)
def a21_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: recompute each order's total from
    its line items (extendedprice x (1-discount) x (1+tax)) and report,
    per order status, how many orders disagree with the header total by
    more than $1 plus the average/max absolute discrepancy. The
    month-end close audit of a financial warehouse; the synthetic
    fixture's headers are independent of its line items, so the
    discrepancies are large — the operator measures, it does not assume.

    Arithmetic: the per-row hot path runs in integer MICRO-DOLLARS
    (cents x percent x percent = 1e-6 dollars) — exact like the decimal
    formulation it replaced, but all-LONG, keeping the multiply chain in
    primitive whole-stage codegen instead of boxed BigDecimal ops. At
    check scale the o_orderkey join dominates, so wall-clock is parity
    (measured ~2.5s -> ~2.2s at sf0.1); the formulation is chosen for
    the row-count regime where per-row arithmetic IS the bottleneck.
    Per-order sums are bounded (~1e13 micros for the largest plausible
    order), safely inside BIGINT; the 3-row final rollup sums through
    DECIMAL (Spark) / HUGEINT (DuckDB), where corpus-scale totals could
    overflow a long — exact in both. Dollars reappear only in the final
    double division, written identically in the oracle.

    Physical: one shuffle to aggregate lineitem per order, a left join
    back to orders (orders with NO lines reconcile against 0 — they
    surface as mismatches, the audit's job), and a 3-row status rollup.
    At 100 TB both the aggregate and the join key on o_orderkey, so AQE
    plans them into one exchange reuse."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cents = (
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
    )
    disc_pct = (F.col("l_discount").cast("decimal(5,2)") * 100).cast("bigint")
    tax_pct = (F.col("l_tax").cast("decimal(5,2)") * 100).cast("bigint")
    detail = li.groupBy("l_orderkey").agg(
        F.sum(cents * (100 - disc_pct) * (100 + tax_pct)).alias("detail_us")
    )
    d = orders.join(
        detail, orders.o_orderkey == detail.l_orderkey, "left"
    ).select(
        "o_orderstatus",
        F.abs(
            (F.col("o_totalprice").cast("decimal(18,2)") * 1000000)
            .cast("bigint")
            - F.coalesce("detail_us", F.lit(0)).cast("bigint")
        ).alias("adelta_us"),
    )
    return (
        d.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.when(F.col("adelta_us") > RECON_TOL_MICROS, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_mismatched"),
            F.round(
                F.sum(F.col("adelta_us").cast("decimal(38,0)"))
                .cast("double")
                / F.count("*")
                / 1000000,
                6,
            ).alias("avg_abs_delta"),
            F.round(
                F.max("adelta_us").cast("double") / 1000000, 6
            ).alias("max_abs_delta"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# a22: brand co-purchase PageRank (fixed-iteration iterative centrality)
# ---------------------------------------------------------------------------

PR_DAMPING = 0.85
PR_ITER = 3

# The float scalars are formatted through repr() and re-parsed by BOTH
# engines (F.lit on the Spark side, CAST('<repr>' AS DOUBLE) in the
# oracle): python repr round-trips doubles exactly and decimal-string ->
# double parsing is correctly rounded in both, so 1-0.85's last-ulp
# residue cannot diverge.
_PR_TP = repr(1.0 - PR_DAMPING)
_PR_D = repr(PR_DAMPING)


def _pr_iter_cte(i: int) -> str:
    return f"""r{i} AS (
      SELECT nodes.node,
             CAST('{_PR_TP}' AS DOUBLE) / nn.n
             + CAST('{_PR_D}' AS DOUBLE)
               * CAST(coalesce(s.s, 0) AS DOUBLE) AS rank
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node,
               sum(CAST(round(r.rank / od.deg, 12) AS DECIMAL(32,12))) AS s
        FROM e JOIN r{i - 1} r ON e.src = r.node
               JOIN od ON e.src = od.node
        GROUP BY 1) s ON nodes.node = s.node)"""


@query(
    "a22_brand_pagerank",
    f"""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    e AS (
      SELECT DISTINCT a.p_brand AS src, b.p_brand AS dst
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    od AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
           FROM nodes CROSS JOIN nn),
    {", ".join(_pr_iter_cte(i) for i in range(1, PR_ITER + 1))}
    SELECT node AS brand, round(rank, 6) AS rank
    FROM r{PR_ITER} ORDER BY rank DESC, brand
    """,
)
def a22_brand_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the brand co-purchase graph (edge = two
    brands sharing at least one order), 3 power iterations at
    damping 0.85 — the influence/centrality primitive behind
    product-importance ranking and graph-based recommendation, and the
    second ITERATIVE algorithm in the engine (operators.graph.pagerank,
    same Pregel-lite one-shuffle-per-round skeleton as the dedup
    connected components).

    The symmetric co-purchase edge list has no dangling nodes, so no
    teleport-mass correction is needed. The oracle UNROLLS the same
    3 iterations as SQL CTEs — contributions rounded to 12
    decimals and summed as exact DECIMAL in both engines, so the only
    order-sensitive float reduction is pinned. Graph shape at scale:
    nodes = catalog entities (bounded), edges = co-occurrence pairs from
    the distinct-first self-join (same bounded fan-out as
    a20_basket_pair_lift)."""
    from ..operators.graph import pagerank

    edges = _copurchase_edges(_order_brands(spark, sf_dir), ordered=False)
    ranks = pagerank(edges, iterations=PR_ITER, damping=PR_DAMPING)
    return ranks.select(
        F.col("node").alias("brand"), F.round("rank", 6).alias("rank")
    ).orderBy(F.desc("rank"), "brand")


@query(
    "ev_attribution_first_touch",
    f"""
    WITH c AS (
      SELECT user_id, ts,
             max(CAST(json_extract_string(props, '$.k') AS INT) % 5)
               AS channel
      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
    p AS (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    m AS (
      SELECT p.event_id, arg_min(c.channel, c.ts) AS ch
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.ts >= p.ts - INTERVAL {ATTR_LOOKBACK_S} SECOND
       AND c.ts < p.ts
      GROUP BY 1),
    a AS (
      SELECT coalesce(ch, -1) AS channel, value
      FROM p LEFT JOIN m USING (event_id))
    SELECT channel, count(*) AS n_purchases,
           CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
             AS attributed_value
    FROM a GROUP BY 1 ORDER BY channel
    """,
)
def ev_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-touch attribution: each purchase is credited to the EARLIEST
    click in its trailing 7-day window (exclusive of the purchase
    instant; the last-touch sibling is inclusive — both boundary
    conventions stated, both pinned). Not an as-of join: earliest-in-
    window needs the windowed candidate set, so this composes
    operators.temporal.range_join_trailing (bucketed equi-join
    decomposition, no per-key nested loop) with a min_by/arg_min
    aggregate — the ordered-argmin aggregate family's first appearance
    in the registry, oracled against DuckDB's native arg_min.
    Unattributed purchases land in channel -1 via the left-join
    restore."""
    from ..operators.temporal import range_join_trailing

    events = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", "ts", (k % 5).alias("channel"))
        .groupBy("user_id", "ts")
        .agg(F.max("channel").alias("channel"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    first = (
        range_join_trailing(
            purchases, clicks, by="user_id", window_seconds=ATTR_LOOKBACK_S
        )
        .groupBy("event_id")
        .agg(F.min_by("r_channel", "r_ts").alias("ch"))
    )
    return (
        purchases.join(first, "event_id", "left")
        .select(F.coalesce("ch", F.lit(-1)).alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("attributed_value"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# ev_mad_outliers: robust (median/MAD) anomaly screen
# ---------------------------------------------------------------------------

MAD_CUT = 2.0
# Shared literal through repr (same discipline as the PageRank scalars).
_MAD_K = "0.6745"


@query(
    "ev_mad_outliers",
    f"""
    WITH s AS (
      SELECT user_id,
             CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS t
      FROM events GROUP BY 1),
    m AS (SELECT quantile_cont(t, 0.5) AS med FROM s),
    a AS (SELECT user_id, t, abs(t - med) AS ad, med FROM s CROSS JOIN m),
    md AS (SELECT quantile_cont(ad, 0.5) AS mad FROM a),
    rz AS (
      SELECT user_id, t,
             CAST('{_MAD_K}' AS DOUBLE) * (t - med) / mad AS rzv
      FROM a CROSS JOIN md WHERE mad > 0)
    SELECT user_id, round(t, 6) AS total_value, round(rzv, 6) AS robust_z
    FROM rz WHERE abs(rzv) >= {MAD_CUT}
    ORDER BY user_id
    """,
)
def ev_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST anomaly screen — the median/MAD sibling of the z-score
    screen (a18): users whose total event value sits more than MAD_CUT
    modified z-scores (0.6745 x deviation / median-absolute-deviation,
    Iglewicz-Hoaglin) from the median. Unlike mean/stddev, the estimator
    itself cannot be dragged by the outliers it hunts — the screen of
    choice when contamination is expected.

    Determinism: both engines compute EXACT interpolated medians
    (Spark `percentile`, DuckDB `quantile_cont` — verified bit-identical
    order-statistic interpolation), the per-user totals come from exact
    decimal sums, and the 0.6745 consistency constant is parsed from the
    same literal on both sides. Degenerate guard: mad > 0 on both
    engines (a majority-constant measure would zero the MAD and 0/0
    semantics diverge).

    Physical: one corpus shuffle (per-user totals), then two tiny
    percentile aggregates over the user frame, each broadcast back.
    Exact percentile over the USER frame is bounded by the user count,
    not the event count; at extreme user cardinality the documented
    switch is approx_percentile with the rank-envelope oracle pattern
    (a13)."""
    events = _t(spark, sf_dir, "events")
    s = events.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("t")
    )
    med = s.agg(F.expr("percentile(t, 0.5)").alias("med"))
    a = s.crossJoin(F.broadcast(med)).select(
        "user_id", "t", "med", F.abs(F.col("t") - F.col("med")).alias("ad")
    )
    mad = a.agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    rzv = (
        F.lit(float(_MAD_K))
        * (F.col("t") - F.col("med"))
        / F.col("mad")
    )
    return (
        a.crossJoin(F.broadcast(mad))
        .filter(F.col("mad") > 0)
        .select("user_id", "t", rzv.alias("rzv"))
        .filter(F.abs(F.col("rzv")) >= MAD_CUT)
        .select(
            "user_id",
            F.round("t", 6).alias("total_value"),
            F.round("rzv", 6).alias("robust_z"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# j8: currency conversion via as-of FX rates
# ---------------------------------------------------------------------------

FX_BASE_YEAR = 1995
FX_MONTHS = 80  # 1995-01 .. 2001-08 covers the orders fixture


@query(
    "j8_fx_convert",
    f"""
    WITH rates AS (
      SELECT c AS ccy,
             make_timestamp({FX_BASE_YEAR} + i // 12, i % 12 + 1, 1, 0, 0, 0)
               AS ts,
             1000000 + ((i + c * 3) % 7 + c) * 10000 AS rate_micros
      FROM range(0, {FX_MONTHS}) r(i), range(0, 3) cc(c)),
    o AS (
      SELECT o_orderkey, o_custkey % 3 AS ccy, o_orderdate AS ts,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders),
    j AS (
      SELECT o.ccy, o.cents * r.rate_micros AS conv
      FROM o ASOF JOIN rates r ON o.ccy = r.ccy AND o.ts >= r.ts)
    SELECT ccy, count(*) AS n_orders,
           round(CAST(sum(conv) AS DOUBLE) / 100000000, 6)
             AS converted_total
    FROM j GROUP BY 1 ORDER BY ccy
    """,
)
def j8_fx_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Currency conversion through an AS-OF rate lookup — the canonical
    financial-warehouse temporal join, exercised on the ORDERS fact
    (the other as-of entries ride the events stream): each order takes
    the latest monthly FX rate at or before its order date for its
    currency (derived deterministically from the customer key; rates in
    integer MICRO-units so the whole conversion is exact integer math),
    then rolls up converted revenue per currency. The inner as-of
    semantics make every unmatched-rate order vanish — the rate series
    deliberately starts at the fixture's first order month, so a
    full-count result also pins series coverage.

    Composition: operators.temporal.asof_join (union + carry-forward
    window, one shuffle keyed by currency) against a rate dimension
    GENERATED in-plan (spark.range arithmetic — no driver-side list);
    conversion sums flow through DECIMAL(38,0) / HUGEINT where
    corpus-scale totals exceed a long. Oracle: DuckDB's native ASOF
    JOIN over the identically-generated series."""
    from ..operators.temporal import asof_join

    spark_ = spark
    rates = (
        spark_.range(FX_MONTHS * 3)
        .select(
            (F.col("id") % 3).cast("int").alias("ccy"),
            (F.col("id") / 3).cast("long").alias("i"),
        )
        .select(
            "ccy",
            F.expr(
                f"make_timestamp({FX_BASE_YEAR} + CAST(i / 12 AS INT),"
                " CAST(i % 12 AS INT) + 1, 1, 0, 0, 0)"
            ).alias("ts"),
            (
                1000000
                + ((F.col("i") + F.col("ccy") * 3) % 7 + F.col("ccy"))
                * 10000
            ).alias("rate_micros"),
        )
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 3).cast("int").alias("ccy"),
        F.col("o_orderdate").alias("ts"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    j = asof_join(o, rates, by="ccy", ts_col="ts").filter(
        F.col("r_rate_micros").isNotNull()  # inner as-of semantics
    )
    return (
        j.select(
            "ccy",
            (F.col("cents") * F.col("r_rate_micros")).alias("conv"),
        )
        .groupBy("ccy")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("conv").cast("decimal(38,0)")).cast("double")
                / 100000000,
                6,
            ).alias("converted_total"),
        )
        .orderBy("ccy")
    )


# ---------------------------------------------------------------------------
# a23: triangle counting on the brand co-purchase graph
# ---------------------------------------------------------------------------


@query(
    "a23_brand_triangles",
    """
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    e AS (
      SELECT DISTINCT a.p_brand AS a, b.p_brand AS b
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand),
    t AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    m AS (
      SELECT x AS node FROM t
      UNION ALL SELECT y FROM t
      UNION ALL SELECT z FROM t)
    SELECT node AS brand, count(*) AS n_triangles
    FROM m GROUP BY 1 ORDER BY brand
    """,
)
def a23_brand_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand triangle participation in the co-purchase graph — the
    clustering/community-density primitive (triangle counts drive local
    clustering coefficients and cohesion metrics), and the third graph
    algorithm in the engine. operators.graph.triangle_counts implements
    degree-ordered compact-forward enumeration: edges orient from the
    (degree, id)-smaller endpoint, so each triangle is found exactly
    once from its unique minimal wedge center and a hub of degree d
    never fans out d^2 wedges — THE trick that makes triangle counting
    survive power-law graphs at scale. The oracle counts the same
    triangles by brute-force ordered 3-way self-join (a<b<c), a
    completely independent enumeration order."""
    from ..operators.graph import triangle_counts

    edges = _copurchase_edges(_order_brands(spark, sf_dir), ordered=True)
    return (
        triangle_counts(edges)
        .select(F.col("node").alias("brand"), "n_triangles")
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# a24: Gini coefficient of revenue concentration
# ---------------------------------------------------------------------------


@query(
    "a24_revenue_gini",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS s
      FROM orders GROUP BY 1),
    r AS (
      SELECT s,
             row_number() OVER (ORDER BY s, o_custkey) AS rk,
             count(*) OVER () AS n
      FROM spend),
    t AS (
      SELECT CAST(sum(rk * CAST(s * 100 AS BIGINT)) AS DOUBLE) AS wsum,
             CAST(sum(CAST(s * 100 AS BIGINT)) AS DOUBLE) AS tot,
             CAST(min(n) AS DOUBLE) AS nd
      FROM r)
    SELECT CAST(nd AS BIGINT) AS n_customers,
           round(tot / 100, 6) AS total_revenue,
           round(2 * wsum / (nd * tot) - (nd + 1) / nd, 6) AS gini
    FROM t
    """,
)
def a24_revenue_gini(
    spark: SparkSession, sf_dir: str, *, scale_safe: bool = False
) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    single-number inequality metric beside the Pareto/ABC curve (a17):
    G = 2*sum(rank_i * x_i)/(n * sum(x)) - (n+1)/n over spend sorted
    ascending with a deterministic (spend, custkey) tie-break. All mass
    terms are integer CENTS (rank x cents products summed exactly —
    DECIMAL/HUGEINT at the top), so the only doubles are the final
    ratio, written identically in the oracle.

    Scale shape: per-customer aggregate (the corpus shuffle), then a
    rank window over the CUSTOMER frame — bounded by customer count by
    default; ``scale_safe=True`` swaps the global window for the
    two-phase partition-offset rank (operators.surrogate.two_phase_rank)
    and inlines n from its offset histogram, so no row ever funnels
    through a single sort task. Ranks are identical integers either way
    (equivalence-tested), default stays on the oracle plan."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("s")
    )
    from ..operators.surrogate import resolve_scale_safe

    if resolve_scale_safe(spend, scale_safe):
        from ..operators.surrogate import two_phase_rank

        ranked, n_total = two_phase_rank(spend, ["s", "o_custkey"], "rk")
        r = ranked.select(
            "s", F.col("rk").cast("int").alias("rk"),
            F.lit(n_total).cast("bigint").alias("n"),
        )
    else:
        w = Window.orderBy("s", "o_custkey")
        r = spend.select(
            "s",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(Window.partitionBy()).alias("n"),
        )
    cents = (F.col("s") * 100).cast("bigint")
    t = r.agg(
        F.sum((F.col("rk") * cents).cast("decimal(38,0)"))
        .cast("double")
        .alias("wsum"),
        F.sum(cents.cast("decimal(38,0)")).cast("double").alias("tot"),
        F.min("n").cast("double").alias("nd"),
    )
    return t.select(
        F.col("nd").cast("bigint").alias("n_customers"),
        F.round(F.col("tot") / 100, 6).alias("total_revenue"),
        F.round(
            F.lit(2) * F.col("wsum") / (F.col("nd") * F.col("tot"))
            - (F.col("nd") + 1) / F.col("nd"),
            6,
        ).alias("gini"),
    )


@query(
    "a24_revenue_gini_scale_safe",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS s
      FROM orders GROUP BY 1),
    r AS (
      SELECT s,
             row_number() OVER (ORDER BY s, o_custkey) AS rk,
             count(*) OVER () AS n
      FROM spend),
    t AS (
      SELECT CAST(sum(rk * CAST(s * 100 AS BIGINT)) AS DOUBLE) AS wsum,
             CAST(sum(CAST(s * 100 AS BIGINT)) AS DOUBLE) AS tot,
             CAST(min(n) AS DOUBLE) AS nd
      FROM r)
    SELECT CAST(nd AS BIGINT) AS n_customers,
           round(tot / 100, 6) AS total_revenue,
           round(2 * wsum / (nd * tot) - (nd + 1) / nd, 6) AS gini,
           0 AS n_global_windows, 1 AS used_two_phase_rank
    FROM t
    """,
)
def a24_revenue_gini_scale_safe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The a24 Gini through the two-phase partition-offset rank
    (operators.surrogate.two_phase_rank) as a DRIVER-GATED claim, not
    just a local equivalence test: the values must hash-match the
    single-window oracle AND the audit columns pin the scale shape the
    way wh_bucketed_join pins zero Exchange. ``n_global_windows`` counts
    unpartitioned windowspecdefinition nodes in the executed physical
    plan — via operators.surrogate.classify_windows, the shared
    classifier that also recognizes ORDER-LESS global windows like
    ``count(*) OVER ()`` (the oracle hard-codes 0 — a regression that
    reintroduces any single-partition funnel fails the value-hash gate);
    ``used_two_phase_rank`` asserts at least one partitioned window
    survived (the rank actually ran distributed, the column was not
    optimized away). At 100 TB this is the only Gini plan that works:
    every window here is partitioned, the one global pass is a parallel
    range shuffle. Reference analogue: none (see a24_revenue_gini)."""
    from ..operators.surrogate import classify_windows

    df = a24_revenue_gini(spark, sf_dir, scale_safe=True)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    n_global, n_partitioned = classify_windows(plan)
    return df.select(
        "*",
        F.lit(n_global).cast("int").alias("n_global_windows"),
        F.lit(1 if n_partitioned >= 1 else 0)
        .cast("int")
        .alias("used_two_phase_rank"),
    )


# ---------------------------------------------------------------------------
# a25: Spearman rank correlation (frequency vs monetary, per segment)
# ---------------------------------------------------------------------------


@query(
    "a25_spearman_freq_spend",
    """
    WITH cust AS (
      SELECT c_custkey, c_mktsegment,
             count(*) AS freq,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    r AS (
      SELECT c_mktsegment,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY freq, c_custkey) AS rf,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY spend, c_custkey) AS rs
      FROM cust),
    t AS (
      SELECT c_mktsegment AS segment, count(*) AS n,
             CAST(sum(CAST(rf - rs AS BIGINT) * CAST(rf - rs AS BIGINT))
                  AS DOUBLE) AS d2
      FROM r GROUP BY 1)
    SELECT segment, n,
           round(1 - 6 * d2 / (CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) * n - 1)), 6)
             AS spearman_rho
    FROM t WHERE n > 1 ORDER BY segment
    """,
)
def a25_spearman_freq_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order frequency and total spend
    per market segment — the monotone-association screen (does buying
    often imply spending much?) robust to the heavy tails that break
    Pearson on monetary data. Ranks are taken over a TOTAL order
    ((metric, custkey) tie-break — deterministic in both engines and
    hash-stable; the classical average-rank treatment lives in the
    a25_spearman_avg_rank sibling, the statistical default when ties
    are heavy), squared rank gaps sum as
    exact integers, and rho = 1 - 6*sum(d^2)/(n(n^2-1)) goes double
    only in the final ratio, written identically in the oracle. n > 1
    guards the degenerate single-customer segment.

    Scale: per-customer aggregate (the corpus shuffle), rank windows
    over the CUSTOMER frame partitioned by segment (bounded; two-phase
    surrogate machinery is the documented huge-dimension path), 5-row
    reduction."""
    orders = _t(spark, sf_dir, "orders")
    cust_dim = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cust = (
        orders.join(
            F.broadcast(cust_dim),
            orders.o_custkey == cust_dim.c_custkey,
        )
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("spend"),
        )
    )
    wf = Window.partitionBy("c_mktsegment").orderBy("freq", "c_custkey")
    ws = Window.partitionBy("c_mktsegment").orderBy("spend", "c_custkey")
    r = cust.select(
        "c_mktsegment",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(ws).alias("rs"),
    )
    # Rank gap in BIGINT before squaring: row_number is 32-bit and an
    # int*int product overflows at segment sizes past ~46k customers.
    d = (F.col("rf") - F.col("rs")).cast("bigint")
    t = r.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n"),
        F.sum(d * d).cast("double").alias("d2"),
    )
    nd = F.col("n").cast("double")
    return (
        t.filter(F.col("n") > 1)
        .select(
            "segment",
            "n",
            F.round(
                F.lit(1) - F.lit(6) * F.col("d2") / (nd * (nd * F.col("n") - 1)),
                6,
            ).alias("spearman_rho"),
        )
        .orderBy("segment")
    )


@query(
    "a25_spearman_avg_rank",
    """
    WITH cust AS (
      SELECT c_custkey, c_mktsegment,
             count(*) AS freq,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    rn AS (
      SELECT c_mktsegment, freq, spend,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY freq, c_custkey) AS rnf,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY spend, c_custkey) AS rns
      FROM cust),
    dr AS (
      SELECT c_mktsegment,
             CAST(min(rnf) OVER (PARTITION BY c_mktsegment, freq)
                  + max(rnf) OVER (PARTITION BY c_mktsegment, freq)
                  AS BIGINT) AS x,
             CAST(min(rns) OVER (PARTITION BY c_mktsegment, spend)
                  + max(rns) OVER (PARTITION BY c_mktsegment, spend)
                  AS BIGINT) AS y
      FROM rn),
    t AS (
      SELECT c_mktsegment AS segment, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM dr GROUP BY 1)
    SELECT segment, n,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx)
                     * (CAST(n AS DOUBLE) * syy - sy * sy) > 0
                THEN round((CAST(n AS DOUBLE) * sxy - sx * sy)
                           / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                                  * (CAST(n AS DOUBLE) * syy - sy * sy)),
                           6)
           END AS spearman_rho
    FROM t WHERE n > 1 ORDER BY segment
    """,
)
def a25_spearman_avg_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman with CLASSICAL average-rank tie handling (the statistical
    default; the a25_spearman_freq_spend sibling keeps the total-order
    ranks for hash stability): tied metric values share the mean of
    their row_number block, and rho is Pearson over the ranks — the
    correct treatment when ties are heavy, where the d^2 shortcut
    formula is only exact for tie-free data.

    Exactness: the mean of a consecutive row_number block is
    (min+max)/2, so DOUBLED ranks x = min+max are integers; Pearson is
    invariant under the 2x scaling, so every sum (x, y, x^2, y^2, xy)
    accumulates as exact DECIMAL(38,0) and the computation goes double
    only in the final covariance ratio + sqrt (both correctly-rounded
    IEEE ops, expression parenthesized identically in the oracle).
    Zero-variance segments (all tied) yield NULL via the CASE guard —
    0/0 is the engines' one divergence point.

    Scale: same shape as a25 — per-customer aggregate, rank windows
    partitioned by segment, plus two tie-block windows (same partition
    keys, no extra shuffle class), 5-row reduction."""
    orders = _t(spark, sf_dir, "orders")
    cust_dim = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cust = (
        orders.join(
            F.broadcast(cust_dim),
            orders.o_custkey == cust_dim.c_custkey,
        )
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("spend"),
        )
    )
    wf = Window.partitionBy("c_mktsegment").orderBy("freq", "c_custkey")
    ws = Window.partitionBy("c_mktsegment").orderBy("spend", "c_custkey")
    rn = cust.select(
        "c_mktsegment",
        "freq",
        "spend",
        F.row_number().over(wf).alias("rnf"),
        F.row_number().over(ws).alias("rns"),
    )
    tf = Window.partitionBy("c_mktsegment", "freq")
    ts = Window.partitionBy("c_mktsegment", "spend")
    dr = rn.select(
        "c_mktsegment",
        (F.min("rnf").over(tf) + F.max("rnf").over(tf))
        .cast("bigint")
        .alias("x"),
        (F.min("rns").over(ts) + F.max("rns").over(ts))
        .cast("bigint")
        .alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    t = dr.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n"),
        F.sum(x.cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,0)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(38,0)")).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    den = (nd * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        nd * F.col("syy") - F.col("sy") * F.col("sy")
    )
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        t.filter(F.col("n") > 1)
        .select(
            "segment",
            "n",
            F.when(den > 0, F.round(num / F.sqrt(den), 6)).alias(
                "spearman_rho"
            ),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# ev_attribution_linear: multi-touch linear attribution
# ---------------------------------------------------------------------------


@query(
    "ev_attribution_linear",
    f"""
    WITH c AS (
      SELECT user_id, ts,
             max(CAST(json_extract_string(props, '$.k') AS INT) % 5)
               AS channel
      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
    p AS (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    t AS (
      SELECT p.event_id, p.value, c.channel
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.ts >= p.ts - INTERVAL {ATTR_LOOKBACK_S} SECOND
       AND c.ts < p.ts),
    n AS (SELECT event_id, count(*) AS nt FROM t GROUP BY 1),
    cr AS (
      SELECT t.channel,
             CAST(round(t.value / n.nt, 12) AS DECIMAL(32,12)) AS credit
      FROM t JOIN n USING (event_id)),
    att AS (
      SELECT channel, count(*) AS n_credits,
             CAST(sum(credit) AS DOUBLE) AS v
      FROM cr GROUP BY 1),
    un AS (
      SELECT -1 AS channel, count(*) AS n_credits,
             CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
      FROM p LEFT JOIN n USING (event_id) WHERE n.event_id IS NULL)
    SELECT channel, n_credits, round(v, 6) AS attributed_value FROM att
    UNION ALL
    SELECT channel, n_credits, round(v, 6) AS attributed_value
    FROM un WHERE n_credits > 0
    ORDER BY channel
    """,
)
def ev_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the third member of the
    attribution family (first/last touch siblings): each purchase splits
    its value EQUALLY across every click in its trailing 7-day window
    ([t-7d, t), same boundary convention as first-touch), so channels
    that participate mid-journey get credit the single-touch models
    erase. Total attributed value (including the -1 unattributed
    bucket) conserves total purchase value up to the per-credit 12dp
    round.

    Exactness: the per-credit share value/n_touches is ONE double
    division rounded to 12dp and cast DECIMAL(32,12) before the channel
    sum (the per-edge-contribution pattern from PageRank), so the only
    order-sensitive reduction is exact in both engines.

    Scale: same bucketed range-join decomposition as the siblings (one
    shuffle, candidates ~2x matches), one count aggregate keyed by
    purchase, one channel-cardinality reduction. Reference analogue:
    none."""
    from ..operators.temporal import range_join_trailing

    events = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", "ts", (k % 5).alias("channel"))
        .groupBy("user_id", "ts")
        .agg(F.max("channel").alias("channel"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = range_join_trailing(
        purchases, clicks, by="user_id", window_seconds=ATTR_LOOKBACK_S
    )
    per_p = touches.groupBy("event_id").agg(F.count("*").alias("nt"))
    credits = touches.join(per_p, "event_id").select(
        "r_channel",
        F.round(F.col("value") / F.col("nt"), 12)
        .cast("decimal(32,12)")
        .alias("credit"),
    )
    att = credits.groupBy(F.col("r_channel").alias("channel")).agg(
        F.count("*").alias("n_credits"),
        F.round(F.sum("credit").cast("double"), 6).alias("attributed_value"),
    )
    un = (
        purchases.join(per_p, "event_id", "left_anti")
        .agg(
            F.lit(-1).alias("channel"),
            F.count("*").alias("n_credits"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,6)")).cast("double"), 6
            ).alias("attributed_value"),
        )
        .filter(F.col("n_credits") > 0)
    )
    return att.unionAll(un).orderBy("channel")


# ---------------------------------------------------------------------------
# ev_winsorized_stats: robust clipped moments per event type
# ---------------------------------------------------------------------------


@query(
    "ev_winsorized_stats",
    """
    WITH st AS (
      SELECT event_type, count(*) AS n,
             quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY 1),
    w AS (
      SELECT e.event_type, st.n, st.p01, st.p99,
             CAST(CAST(round(least(greatest(e.value, st.p01), st.p99), 6)
                       AS DECIMAL(30,6)) * 1000000 AS BIGINT) AS wi
      FROM events e JOIN st USING (event_type)),
    a AS (
      SELECT event_type, min(n) AS n, min(p01) AS p01, min(p99) AS p99,
             CAST(sum(CAST(wi AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(sum(CAST(wi * wi AS DECIMAL(38,0))) AS DOUBLE) AS s2
      FROM w GROUP BY 1)
    SELECT event_type, n, round(p01, 6) AS p01, round(p99, 6) AS p99,
           round(s / 1000000 / n, 6) AS w_mean,
           CASE WHEN n > 1 AND s2 - s * s / n > 0
                THEN round(sqrt((s2 - s * s / n) / (n - 1)) / 1000000, 6)
           END AS w_std
    FROM a ORDER BY event_type
    """,
)
def ev_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized moments per event type: clip the value at its exact
    interpolated p01/p99 (Spark `percentile` and DuckDB `quantile_cont`
    are bit-identical — the robust-stats bridge ev_mad_outliers
    established), then mean/std of the CLIPPED distribution — the
    heavy-tail-safe summary a metrics panel shows when raw means are
    dragged by outliers, and the winsorization preprocessing step of
    robust training pipelines.

    Exactness: clipped values are rounded to 6dp and scaled to integer
    MICRO-UNITS (bigint; |value| <= ~500 so wi <= 5e8 and wi^2 <= 2.5e17
    — inside bigint), summed as exact DECIMAL(38,0); mean/variance go
    double only in the final identically-parenthesized expressions.
    Zero-variance groups yield NULL std via the shared CASE guard.

    Scale: one groupBy computes n/p01/p99 per type (exact percentile —
    for unbounded groups swap in approx_percentile; the a13 sketch entry
    covers that contract), broadcast back, one map-side clip, one exact
    reduction. Reference analogue: none."""
    events = _t(spark, sf_dir, "events")
    st = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.percentile("value", 0.01).alias("p01"),
        F.percentile("value", 0.99).alias("p99"),
    )
    wi = (
        F.round(
            F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")), 6
        )
        .cast("decimal(30,6)")
        * 1000000
    ).cast("bigint")
    w = events.join(F.broadcast(st), "event_type").select(
        "event_type", "n", "p01", "p99", wi.alias("wi")
    )
    a = w.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min("p01").alias("p01"),
        F.min("p99").alias("p99"),
        F.sum(F.col("wi").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum((F.col("wi") * F.col("wi")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    s, s2, n = F.col("s"), F.col("s2"), F.col("n")
    return a.select(
        "event_type",
        "n",
        F.round("p01", 6).alias("p01"),
        F.round("p99", 6).alias("p99"),
        F.round(s / 1000000 / n, 6).alias("w_mean"),
        F.when(
            (n > 1) & (s2 - s * s / n > 0),
            F.round(F.sqrt((s2 - s * s / n) / (n - 1)) / 1000000, 6),
        ).alias("w_std"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# a26: brand communities via deterministic label propagation
# ---------------------------------------------------------------------------

LPA_ITER = 3


def _lpa_iter_cte(i: int) -> str:
    return f"""l{i} AS (
      SELECT e.dst AS node, l.lbl
      FROM e JOIN l{i - 1} l ON e.src = l.node
      GROUP BY e.dst, l.lbl
      QUALIFY row_number() OVER (
        PARTITION BY e.dst
        ORDER BY count(*) DESC, l.lbl ASC) = 1)"""


@query(
    "a26_brand_communities",
    f"""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    e AS (
      SELECT DISTINCT a.p_brand AS src, b.p_brand AS dst
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand),
    l0 AS (
      SELECT node, node AS lbl FROM (
        SELECT src AS node FROM e UNION SELECT dst FROM e)),
    {", ".join(_lpa_iter_cte(i) for i in range(1, LPA_ITER + 1))}
    SELECT node AS brand, lbl AS community
    FROM l{LPA_ITER} ORDER BY brand
    """,
)
def a26_brand_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the brand co-purchase graph — the FOURTH
    graph algorithm in the iterative tier (components, PageRank,
    triangles, now label propagation): {LPA_ITER} synchronous LPA rounds
    (operators.graph.label_propagation) where each brand adopts its
    neighbors' majority label, ties to the smallest label — the
    deterministic variant of Raghavan et al.'s near-linear community
    algorithm (classic LPA's random tie-break would be neither
    reproducible nor oracle-able, the same determinism trade a25
    documents for Spearman).

    The oracle unrolls the same {LPA_ITER} rounds as SQL CTEs; every
    operation is integer counts + string ordering, so the match is
    exact by construction — no float anywhere. Scale shape: one
    neighbor-label count shuffle per round over the bounded
    entity-graph frame, labels checkpointed per round (the Pregel-lite
    skeleton). Reference analogue: none."""
    from ..operators.graph import label_propagation

    edges = _copurchase_edges(_order_brands(spark, sf_dir), ordered=False)
    return (
        label_propagation(edges, iterations=LPA_ITER)
        .select(F.col("node").alias("brand"), F.col("community"))
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# a27: day-of-week seasonal baseline + residual outliers
# ---------------------------------------------------------------------------

DOW_Z_CUT = 2.0


@query(
    "a27_dow_seasonal_outliers",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             datediff('day', DATE '1970-01-05', o_orderdate) % 7 AS dow,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      ) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT dow, count(*) AS n,
             CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(sum(CAST(cents * cents AS DECIMAL(38,0))) AS DOUBLE) AS s2
      FROM daily GROUP BY 1),
    z AS (
      SELECT d, daily.dow, cents,
             (cents - s / n) / sqrt((s2 - s * s / n) / (n - 1)) AS zval
      FROM daily JOIN m ON daily.dow = m.dow
      WHERE n > 1 AND s2 - s * s / n > 0)
    SELECT d AS day, CAST(dow AS INT) AS dow,
           round(CAST(cents AS DOUBLE) / 100, 6) AS revenue,
           round(zval, 6) AS z
    FROM z WHERE abs(zval) >= {DOW_Z_CUT}
    ORDER BY day
    """,
)
def a27_dow_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL anomaly screen: daily revenue compared against its own
    DAY-OF-WEEK cohort (Mondays vs other Mondays), flagging days more
    than {DOW_Z_CUT} standard deviations from their weekday baseline —
    the first-order seasonal decomposition a revenue dashboard needs,
    where the raw-daily z-screen (a18's shape) would flag every weekend
    of a weekday-heavy business.

    Day-of-week is PURE integer arithmetic (days-since-a-known-Monday
    mod 7) rather than each engine's dayofweek() — Spark counts
    1=Sunday, DuckDB 0=Sunday, so the shared-arithmetic rule from the
    PageRank scalars applies to calendars too. Moments accumulate as
    exact integer CENTS (the a18 sum/sumsq discipline); the z goes
    double only in the final identically-parenthesized expression.

    Scale: one date-grain aggregate (the corpus shuffle), a 7-row
    moments frame broadcast back, map-side z. Reference analogue:
    streamlit.py's quarter trend panel, at day grain with a seasonal
    baseline."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.sum(
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        cents.alias("cents")
    ).withColumn(
        "dow",
        F.datediff(F.col("d"), F.lit("1970-01-05").cast("date")) % 7,
    )
    m = daily.groupBy("dow").agg(
        F.count("*").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    s, s2, n = F.col("s"), F.col("s2"), F.col("n")
    zval = (F.col("cents") - s / n) / F.sqrt((s2 - s * s / n) / (n - 1))
    return (
        daily.join(F.broadcast(m), "dow")
        .filter((n > 1) & (s2 - s * s / n > 0))
        # Boundary discipline: the cut applies to the RAW z (same as the
        # oracle's WHERE abs(zval)), rounding only the emitted value.
        .filter(F.abs(zval) >= DOW_Z_CUT)
        .select(
            F.col("d").alias("day"),
            F.col("dow").cast("int").alias("dow"),
            F.round(F.col("cents").cast("double") / 100, 6).alias("revenue"),
            F.round(zval, 6).alias("z"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# a28: k-means customer segmentation on (frequency, spend)
# ---------------------------------------------------------------------------

KM_K = 4
KM_ITER = 2

_KM_DIST = "(f - cf) * (f - cf) + (s - cs) * (s - cs)"


def _km_assign_cte(i: int) -> str:
    return f"""a{i} AS (
      SELECT ck, f, s, cl FROM cust CROSS JOIN c{i}
      QUALIFY row_number() OVER (
        PARTITION BY ck
        ORDER BY round({_KM_DIST}, 12), cl) = 1)"""


def _km_centroid_cte(i: int) -> str:
    return f"""c{i + 1} AS (
      SELECT cl,
             CAST(sum(CAST(f AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS cf,
             CAST(sum(CAST(s AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS cs
      FROM a{i} GROUP BY 1)"""


@query(
    "a28_customer_kmeans",
    f"""
    WITH cust AS (
      SELECT o_custkey AS ck, CAST(count(*) AS DOUBLE) AS f,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT) AS DOUBLE) AS s
      FROM orders GROUP BY 1),
    c0 AS (
      SELECT row_number() OVER (ORDER BY ck) - 1 AS cl, f AS cf, s AS cs
      FROM cust ORDER BY ck LIMIT {KM_K}),
    {", ".join(
        _km_assign_cte(i) + ", " + _km_centroid_cte(i)
        for i in range(KM_ITER - 1)
    )},
    {_km_assign_cte(KM_ITER - 1)}
    SELECT CAST(cl AS INT) AS cluster, count(*) AS n_customers,
           round(CAST(sum(CAST(f AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 6) AS c_freq,
           round(CAST(sum(CAST(s AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*) / 100, 6) AS c_spend
    FROM a{KM_ITER - 1} GROUP BY 1 ORDER BY 1
    """,
)
def a28_customer_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABULAR k-means — customer segmentation by (order frequency,
    total spend) into {KM_K} clusters, {KM_ITER} Lloyd iterations from
    deterministic seeds (the {KM_K} smallest custkeys' feature points):
    the classic warehouse clustering panel, on scalar features. Raw
    features, deliberately unnormalized (spend dominates
    the metric; a27/a16 cover scaled views) — what's under test is the
    ITERATION machinery on tabular data.

    Determinism: centroid means are exact decimal sums cast double
    (order-independent); distances are identical double expressions
    with a rounded-distance + cluster-id total order on the argmin; the
    oracle unrolls assignment/recompute rounds as CTEs, one block per
    Lloyd round. Spend stays in
    integer CENTS until the final display division.

    Scale: per-customer aggregate (the corpus shuffle), then per round
    one broadcast of the {KM_K}-row centroid frame + a {KM_K}-way
    per-customer argmin window — no corpus-sized shuffle inside the
    loop. Reference analogue: none."""
    orders = _t(spark, sf_dir, "orders")
    cust = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count("*").cast("double").alias("f"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .cast("double")
        .alias("s"),
    )
    w_seed = Window.orderBy("ck")
    c = (
        cust.orderBy("ck")
        .limit(KM_K)
        .select(
            (F.row_number().over(w_seed) - 1).alias("cl"),
            F.col("f").alias("cf"),
            F.col("s").alias("cs"),
        )
    )
    dist = (F.col("f") - F.col("cf")) * (F.col("f") - F.col("cf")) + (
        F.col("s") - F.col("cs")
    ) * (F.col("s") - F.col("cs"))
    a = None
    for _ in range(KM_ITER):
        wa = Window.partitionBy("ck").orderBy(F.round(dist, 12), F.col("cl"))
        a = (
            cust.crossJoin(F.broadcast(c))
            .withColumn("_rn", F.row_number().over(wa))
            .filter(F.col("_rn") == 1)
            .select("ck", "f", "s", "cl")
        )
        c = a.groupBy("cl").agg(
            (
                F.sum(F.col("f").cast("decimal(38,6)")).cast("double")
                / F.count("*")
            ).alias("cf"),
            (
                F.sum(F.col("s").cast("decimal(38,6)")).cast("double")
                / F.count("*")
            ).alias("cs"),
        )
    return (
        a.groupBy(F.col("cl").cast("int").alias("cluster"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.sum(F.col("f").cast("decimal(38,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("c_freq"),
            F.round(
                F.sum(F.col("s").cast("decimal(38,6)")).cast("double")
                / F.count("*")
                / 100,
                6,
            ).alias("c_spend"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# a29: cohort lifetime value (cumulative revenue per acquisition cohort)
# ---------------------------------------------------------------------------


@query(
    "a29_cohort_ltv",
    """
    WITH fo AS (
      SELECT o_custkey, min(o_orderdate) AS first_dt
      FROM orders GROUP BY 1),
    co AS (
      SELECT o_custkey,
             CAST(year(first_dt) * 4 + quarter(first_dt) - 1 AS BIGINT)
               AS cq
      FROM fo),
    sz AS (SELECT cq, count(*) AS n_customers FROM co GROUP BY 1),
    fx AS (
      SELECT co.cq,
             CAST(year(o_orderdate) * 4 + quarter(o_orderdate) - 1
                  AS BIGINT) - co.cq AS age,
             CAST(o_totalprice AS DECIMAL(30,2)) AS p
      FROM orders o JOIN co ON o.o_custkey = co.o_custkey),
    ra AS (
      SELECT cq, age, CAST(sum(p) AS DECIMAL(38,2)) AS rev
      FROM fx GROUP BY 1, 2),
    cum AS (
      SELECT cq, age, rev,
             CAST(sum(rev) OVER (PARTITION BY cq ORDER BY age)
                  AS DECIMAL(38,2)) AS cum_rev
      FROM ra)
    SELECT CAST(cq // 4 AS INTEGER) AS cohort_year,
           CAST(cq % 4 + 1 AS INTEGER) AS cohort_quarter,
           CAST(age AS INTEGER) AS age_quarters,
           sz.n_customers,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(cum_rev AS DOUBLE) AS cum_revenue,
           round(CAST(cum_rev AS DOUBLE) / sz.n_customers, 6)
             AS ltv_per_customer
    FROM cum JOIN sz USING (cq)
    ORDER BY cohort_year, cohort_quarter, age_quarters
    """,
)
def a29_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: customers are grouped by acquisition
    quarter (their first order), and each cohort's revenue accumulates
    over cohort age in quarters — the LTV curve a finance dashboard
    plots next to the retention triangle (ev_cohort_retention counts
    active users; this one compounds the money).

    Exactness: revenue sums and the running total are exact DECIMAL
    (the cumulative window sums DECIMAL(38,2), order-independent);
    per-customer LTV is one final double division, round-6.

    Scale: the window partitions by cohort (parallel across cohorts,
    bounded by the quarter count within each) — never a global sort.
    First-order derivation is one groupBy(custkey); the cohort join
    broadcasts the customer->cohort map at dashboard scale and
    shuffle-joins at 100 TB. Reference analogue: none (the reference's
    dashboard stops at per-quarter totals, streamlit.py:221-259)."""
    orders = _t(spark, sf_dir, "orders")
    yq = (
        F.year("o_orderdate") * 4 + F.quarter("o_orderdate") - 1
    ).cast("bigint")
    co = (
        orders.groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("first_dt"))
        .select(
            "o_custkey",
            (F.year("first_dt") * 4 + F.quarter("first_dt") - 1)
            .cast("bigint")
            .alias("cq"),
        )
    )
    sz = co.groupBy("cq").agg(F.count("*").alias("n_customers"))
    fx = orders.join(co, "o_custkey").select(
        "cq",
        (yq - F.col("cq")).alias("age"),
        F.col("o_totalprice").cast("decimal(30,2)").alias("p"),
    )
    ra = fx.groupBy("cq", "age").agg(
        F.sum("p").cast("decimal(38,2)").alias("rev")
    )
    w = Window.partitionBy("cq").orderBy("age")
    cum = ra.withColumn(
        "cum_rev", F.sum("rev").over(w).cast("decimal(38,2)")
    )
    return (
        cum.join(F.broadcast(sz), "cq")
        .select(
            F.floor(F.col("cq") / 4).cast("int").alias("cohort_year"),
            (F.col("cq") % 4 + 1).cast("int").alias("cohort_quarter"),
            F.col("age").cast("int").alias("age_quarters"),
            "n_customers",
            F.col("rev").cast("double").alias("revenue"),
            F.col("cum_rev").cast("double").alias("cum_revenue"),
            F.round(
                F.col("cum_rev").cast("double") / F.col("n_customers"), 6
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort_year", "cohort_quarter", "age_quarters")
    )


# ---------------------------------------------------------------------------
# a30: personalized (seeded) PageRank — related-brand discovery
# ---------------------------------------------------------------------------

PPR_SEED_PATTERN = "Brand#1%"  # Brand#1 and Brand#10..19: stable at all SFs


def _ppr_iter_cte(i: int) -> str:
    return f"""p{i} AS (
      SELECT sv.node,
             CAST('{_PR_TP}' AS DOUBLE) * sv.s
             + CAST('{_PR_D}' AS DOUBLE)
               * CAST(coalesce(f.s_flow, 0) AS DOUBLE) AS rank
      FROM sv
      LEFT JOIN (
        SELECT e.dst AS node,
               sum(CAST(round(r.rank / od.deg, 12) AS DECIMAL(32,12)))
                 AS s_flow
        FROM e JOIN p{i - 1} r ON e.src = r.node
               JOIN od ON e.src = od.node
        GROUP BY 1) f ON sv.node = f.node)"""


@query(
    "a30_brand_ppr",
    f"""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    e AS (
      SELECT DISTINCT a.p_brand AS src, b.p_brand AS dst
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    seeds AS (SELECT node FROM nodes WHERE node LIKE '{PPR_SEED_PATTERN}'),
    ns AS (SELECT count(*) AS n FROM seeds),
    sv AS (
      SELECT nodes.node,
             CASE WHEN seeds.node IS NOT NULL
                  THEN CAST(1 AS DOUBLE) / ns.n ELSE CAST(0 AS DOUBLE)
             END AS s
      FROM nodes CROSS JOIN ns LEFT JOIN seeds ON nodes.node = seeds.node),
    od AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
    p0 AS (SELECT node, s AS rank FROM sv),
    {", ".join(_ppr_iter_cte(i) for i in range(1, PR_ITER + 1))}
    SELECT node AS brand, round(rank, 6) AS rank,
           CASE WHEN node LIKE '{PPR_SEED_PATTERN}' THEN 1 ELSE 0
           END AS is_seed
    FROM p{PR_ITER} ORDER BY rank DESC, brand
    """,
)
def a30_brand_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the Brand#1x seed family over the
    brand co-purchase graph (operators.graph.personalized_pagerank) —
    "brands related to THESE brands", the related-entities primitive a
    recommender runs per anchor set, and the third iterative graph
    algorithm family under the oracle (after global PageRank and label
    propagation). The oracle unrolls the same 3 seeded power
    iterations; seeds are a deterministic name-pattern subset so the
    query is reproducible at every SF."""
    from ..operators.graph import personalized_pagerank

    # Checkpoint the co-purchase edge list HERE, not only inside the
    # operator: seeds derive from the same frame, and without truncation
    # the seed branch re-executes the whole lineitem self-join lineage a
    # second time (measured 4.0s -> 2.8s median-of-3 at sf0.1).
    edges = (
        _copurchase_edges(_order_brands(spark, sf_dir), ordered=False)
        .localCheckpoint(eager=True)
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .filter(F.col("node").like(PPR_SEED_PATTERN))
    )
    ranks = personalized_pagerank(
        edges, seeds, iterations=PR_ITER, damping=PR_DAMPING
    )
    return ranks.select(
        F.col("node").alias("brand"),
        F.round("rank", 6).alias("rank"),
        F.when(F.col("node").like(PPR_SEED_PATTERN), 1)
        .otherwise(0)
        .alias("is_seed"),
    ).orderBy(F.desc("rank"), "brand")


# ---------------------------------------------------------------------------
# a31: bounded-depth BFS over the kNN-sparsified co-purchase graph
# ---------------------------------------------------------------------------

KHOP_K = 3  # strongest co-purchase neighbors kept per brand
KHOP_MAX = 3  # BFS depth bound


def _khop_cte(i: int) -> str:
    return f"""f{i} AS (
      SELECT DISTINCT e.dst AS node
      FROM e JOIN d{i - 1} d ON e.src = d.node
      WHERE e.dst NOT IN (SELECT node FROM d{i - 1})),
    d{i} AS (SELECT * FROM d{i - 1} UNION ALL SELECT node, {i} FROM f{i})"""


@query(
    "a31_brand_khop",
    f"""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    ec AS (
      SELECT a.p_brand AS src, b.p_brand AS dst, count(*) AS w
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
      GROUP BY 1, 2),
    e AS (SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM ec)
          WHERE rn <= {KHOP_K}),
    seed AS (SELECT min(p_brand) AS node FROM part),
    d0 AS (SELECT node, 0 AS hops FROM seed),
    {", ".join(_khop_cte(i) for i in range(1, KHOP_MAX + 1))}
    SELECT node AS brand, hops FROM d3 ORDER BY hops, brand
    """,
)
def a31_brand_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS distances from the lexicographically-first brand over
    the kNN-SPARSIFIED co-purchase graph: each brand keeps only its
    3 strongest co-purchase arcs (by shared-order count, dst
    tie-break — a per-src row_number window, never a global sort), then
    operators.graph.khop_distances runs 3 level-synchronous
    BFS rounds. The FIFTH iterative graph algorithm in the engine, and
    the one with frontier semantics (settled nodes never re-expanded).

    The kNN sparsification is the standard trick that makes hop
    distance meaningful on co-occurrence graphs (the raw basket graph
    is near-complete: everything is 1 hop from everything); it is also
    exactly the similar-items graph a recommender materializes. The
    oracle unrolls the same 3 BFS levels as anti-joined CTEs.
    Scale: arcs bounded at nodes x 3; each round shuffles
    frontier x out-degree rows."""
    from ..operators.graph import khop_distances

    ec = (
        _copurchase_edges_weighted(_order_brands(spark, sf_dir))
    )
    wn = Window.partitionBy("src").orderBy(F.desc("w"), "dst")
    e = (
        ec.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= KHOP_K)
        .select("src", "dst")
    )
    part = _t(spark, sf_dir, "part")
    seeds = part.agg(F.min("p_brand").alias("node"))
    return (
        khop_distances(e, seeds, KHOP_MAX)
        .select(F.col("node").alias("brand"), "hops")
        .orderBy("hops", "brand")
    )


def _copurchase_edges_weighted(ob: DataFrame) -> DataFrame:
    """Directed co-purchase arcs with shared-order counts — the weighted
    sibling of _copurchase_edges (same distinct-first basket frame, same
    bounded fan-out), feeding the kNN sparsification in a31."""
    a = ob.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("src"))
    b = ob.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("dst"))
    return (
        a.join(b, "k")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )


# ---------------------------------------------------------------------------
# a32: weighted cheapest paths over the co-purchase graph (Bellman-Ford)
# ---------------------------------------------------------------------------

BF_ROUNDS = 4


def _bf_iter_cte(i: int) -> str:
    return f"""b{i} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM b{i - 1}
        UNION ALL
        SELECT e.dst AS node, CAST(d.dist + e.w AS DECIMAL(18,6)) AS dist
        FROM b{i - 1} d JOIN e ON e.src = d.node)
      GROUP BY node)"""


@query(
    "a32_brand_cheapest_path",
    f"""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    ec AS (
      SELECT a.p_brand AS src, b.p_brand AS dst, count(*) AS n
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
      GROUP BY 1, 2),
    e AS (SELECT src, dst,
                 CAST(round(1.0 / n, 6) AS DECIMAL(18,6)) AS w
          FROM ec),
    seed AS (SELECT min(p_brand) AS node FROM part),
    b0 AS (SELECT node, CAST(0 AS DECIMAL(18,6)) AS dist FROM seed),
    {", ".join(_bf_iter_cte(i) for i in range(1, BF_ROUNDS + 1))}
    SELECT node AS brand, CAST(dist AS DOUBLE) AS cost
    FROM b4 ORDER BY cost, brand
    """,
)
def a32_brand_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-path costs from the lexicographically-first brand over
    the WEIGHTED co-purchase graph — arc cost = round(1/shared_orders,
    6), so strongly co-purchased brands are "close" — via 4
    Bellman-Ford relaxation rounds (operators.graph.bellman_ford, the
    SIXTH iterative algorithm; exact for all shortest paths of <=
    4 arcs, the same bounded-round contract as the capped
    min-label components). Unlike a31's hop counts on the sparsified
    graph, the dense graph's geometry lives in the WEIGHTS: multi-hop
    routes through popular brands can undercut a direct weak arc — the
    related-products distance a recommender actually ranks by. Costs
    are DECIMAL(18,6) so path sums are exact in both engines; the
    oracle unrolls the same 4 relaxations as min-over-union
    CTEs."""
    from ..operators.graph import bellman_ford

    ec = _copurchase_edges_weighted(_order_brands(spark, sf_dir))
    e = ec.select(
        "src",
        "dst",
        F.round(F.lit(1.0) / F.col("w"), 6)
        .cast("decimal(18,6)")
        .alias("cost"),
    )
    part = _t(spark, sf_dir, "part")
    seeds = part.agg(F.min("p_brand").alias("node"))
    return (
        bellman_ford(e, seeds, BF_ROUNDS, weight_col="cost")
        .select(
            F.col("node").alias("brand"),
            F.col("dist").cast("double").alias("cost"),
        )
        .orderBy("cost", "brand")
    )


# ---------------------------------------------------------------------------
# a33: per-segment Pareto frontier (2-D skyline) of customers
# ---------------------------------------------------------------------------


@query(
    "a33_segment_skyline",
    """
    WITH sp AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
               AS spend
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY 1, 2, 3)
    SELECT a.c_mktsegment AS segment, a.c_custkey AS custkey,
           a.spend AS spend, a.c_acctbal AS acctbal
    FROM sp a
    WHERE NOT EXISTS (
      SELECT 1 FROM sp b
      WHERE b.c_mktsegment = a.c_mktsegment
        AND b.spend >= a.spend AND b.c_acctbal >= a.c_acctbal
        AND (b.spend > a.spend OR b.c_acctbal > a.c_acctbal))
    ORDER BY segment, custkey
    """,
)
def a33_segment_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Pareto frontier (2-D SKYLINE): customers no other
    same-segment customer dominates on (total spend, account balance) —
    the multi-objective "best tradeoffs" operator behind top-customer
    shortlists and any price/quality frontier. Dominance is the
    standard one (>= on both dims, > on at least one); coincident
    points survive together.

    The Spark side is the SORT-BASED skyline, not the quadratic
    definition: one partial aggregate per (segment, spend) level, a
    running-max-balance window over strictly-higher spend levels
    (ROWS ... -1 on the level frame, partitioned BY SEGMENT — bounded
    partitions, no global sort), and a point survives iff it tops its
    own level and beats every higher level's max. O(n log n) per
    segment vs the oracle's O(n^2) NOT EXISTS — two INDEPENDENT
    formulations of dominance agreeing bit-for-bit, the strongest
    oracle shape in the registry family. Spend is the decimal-exact
    money sum; all comparisons are on identical doubles in both
    engines."""
    customer = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    sp = (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .groupBy("c_custkey", "c_mktsegment", "c_acctbal")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double")
            .alias("spend")
        )
    )
    levels = sp.groupBy("c_mktsegment", "spend").agg(
        F.max("c_acctbal").alias("gmax")
    )
    wl = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("spend"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lv = levels.withColumn("prev_max", F.max("gmax").over(wl))
    return (
        sp.join(lv, ["c_mktsegment", "spend"])
        .filter(
            (F.col("c_acctbal") == F.col("gmax"))
            & (
                F.col("prev_max").isNull()
                | (F.col("c_acctbal") > F.col("prev_max"))
            )
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_custkey").alias("custkey"),
            "spend",
            F.col("c_acctbal").alias("acctbal"),
        )
        .orderBy("segment", "custkey")
    )


# ---------------------------------------------------------------------------
# a34: harmonic closeness centrality via all-pairs bounded-hop BFS
# ---------------------------------------------------------------------------


def _cc_round_cte(i: int) -> str:
    return f"""g{i} AS (
      SELECT DISTINCT m.root AS root, e.dst AS node
      FROM f{i - 1} m JOIN e ON e.src = m.node),
    f{i} AS (
      SELECT g.root AS root, g.node AS node
      FROM g{i} g LEFT JOIN m{i - 1} p
        ON p.root = g.root AND p.node = g.node
      WHERE p.node IS NULL),
    m{i} AS (SELECT * FROM m{i - 1}
             UNION ALL SELECT root, node, {i} FROM f{i})"""


@query(
    "a34_brand_closeness",
    f"""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    ec AS (
      SELECT a.p_brand AS src, b.p_brand AS dst, count(*) AS w
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
      GROUP BY 1, 2),
    e AS (SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM ec)
          WHERE rn <= {KHOP_K}),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    m0 AS (SELECT node AS root, node, 0 AS hops FROM nodes),
    f0 AS (SELECT root, node FROM m0),
    {", ".join(_cc_round_cte(i) for i in range(1, KHOP_MAX + 1))},
    cnt AS (
      SELECT root,
             {", ".join(f"sum(CASE WHEN hops = {h} THEN 1 ELSE 0 END)"
                        f"::BIGINT AS n{h}"
                        for h in range(1, KHOP_MAX + 1))}
      FROM m{KHOP_MAX} GROUP BY 1)
    SELECT root AS brand,
           {", ".join(f"n{h}" for h in range(1, KHOP_MAX + 1))},
           round({" + ".join(f"n{h} / {h}.0" if h > 1 else f"n{h}"
                             for h in range(1, KHOP_MAX + 1))}, 6)
             AS harmonic
    FROM cnt ORDER BY harmonic DESC, brand
    """,
)
def a34_brand_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARMONIC closeness centrality of every brand in the
    kNN-sparsified co-purchase graph: sum of 1/d over nodes within
    3 hops, computed from ALL-PAIRS bounded-hop distances in
    ONE batched job (operators.graph.multi_source_khop — the SEVENTH
    iterative algorithm; BFS state keyed by the composite (root, node)
    pair, so every root's search shares each round's single shuffle
    instead of looping the driver per source). Harmonic, not classic
    closeness: it is well-defined on disconnected graphs and
    hop-bounded frames. The score is assembled from INTEGER per-hop
    counts (n1 + n2/2 + n3/3 as one identically-written double
    expression), so no order-dependent float sum exists anywhere; the
    oracle unrolls the same 3 anti-joined rounds CARRYING the
    root key."""
    from ..operators.graph import multi_source_khop

    ec = _copurchase_edges_weighted(_order_brands(spark, sf_dir))
    wn = Window.partitionBy("src").orderBy(F.desc("w"), "dst")
    e = (
        ec.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= KHOP_K)
        .select("src", "dst")
    )
    dist = multi_source_khop(e, KHOP_MAX)
    hops = range(1, KHOP_MAX + 1)
    cnt = dist.groupBy(F.col("root").alias("brand")).agg(
        *[
            F.sum((F.col("hops") == h).cast("int")).alias(f"n{h}")
            for h in hops
        ]
    )
    # Both the column list and the harmonic sum derive from KHOP_MAX
    # (mirroring the oracle's generated CTEs), so raising the depth is
    # a one-knob change that cannot silently drop a hop term.
    harmonic = F.col("n1")
    for h in hops:
        if h > 1:
            harmonic = harmonic + F.col(f"n{h}") / float(h)
    return cnt.select(
        "brand",
        *[f"n{h}" for h in hops],
        F.round(harmonic, 6).alias("harmonic"),
    ).orderBy(F.desc("harmonic"), "brand")


# ---------------------------------------------------------------------------
# a35: Kaplan-Meier customer survival (churn) curve
# ---------------------------------------------------------------------------

KM_CHURN_GAP_DAYS = 90  # last order this close to corpus end => censored
KM_BUCKET_DAYS = 30  # lifetime granularity (months)


@query(
    "a35_survival_km",
    f"""
    WITH c AS (SELECT o_custkey, min(o_orderdate) AS f,
                      max(o_orderdate) AS l
               FROM orders GROUP BY 1),
    x AS (SELECT max(o_orderdate) AS mx FROM orders),
    s AS (SELECT CAST(floor(date_diff('day', f, l) / 30.0)
                      AS BIGINT) AS t,
                 CASE WHEN l < mx - INTERVAL {KM_CHURN_GAP_DAYS} DAY
                      THEN 1 ELSE 0 END AS churned
          FROM c CROSS JOIN x),
    tot AS (SELECT count(*) AS total FROM s),
    g AS (SELECT t, count(*) AS cnt, sum(churned)::BIGINT AS d
          FROM s GROUP BY 1),
    o AS (SELECT t, d,
                 CAST(total - coalesce(sum(cnt) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n
          FROM g CROSS JOIN tot),
    f AS (SELECT t, d, n,
                 CAST(round(1 - d::DOUBLE / n, 6) AS DECIMAL(10,6))
                   AS factor
          FROM o),
    arr AS (SELECT list(factor ORDER BY t) AS fl,
                   list(t ORDER BY t) AS tl,
                   list(d ORDER BY t) AS dl,
                   list(n ORDER BY t) AS nl
            FROM f)
    SELECT tl[i] AS t_months, nl[i] AS n_at_risk, dl[i] AS n_churned,
           CAST(list_reduce(
                  list_prepend(CAST(1.0 AS DECIMAL(10,6)), fl[1:i]),
                  (a, b) -> CAST(round(a * b, 6) AS DECIMAL(10,6)))
                AS DOUBLE) AS survival
    FROM arr, unnest(range(1, len(fl) + 1)) AS r(i)
    ORDER BY t_months
    """,
)
def a35_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER customer survival curve: S(t) = prod over lifetime
    buckets t' <= t of (1 - churned_t'/at_risk_t'), with customers whose
    last order falls within KM_CHURN_GAP_DAYS (90) days of the corpus end
    treated as CENSORED (still alive — they leave the at-risk set
    without a churn event, the estimator's whole point and what a naive
    churn-rate cumsum gets wrong). Lifetime = days between first and
    last order in 30-day buckets. The churn/retention
    curve every subscription dashboard leads with.

    Cross-engine exactness for a CUMULATIVE PRODUCT (no product
    window exists, and exp(sum(log)) is out — libm exp/log are not
    correctly rounded and differ between JVM and DuckDB): each factor
    is rounded to 6dp as DECIMAL(10,6), and the running product is a
    per-step-rounded decimal FOLD — Spark aggregate() over the ordered
    factor array slice vs DuckDB list_reduce over the same prepended-1
    list, step = CAST(round(a*b, 6) AS DECIMAL(10,6)) in both. One
    documented quantization per step, zero float drift. The fold is
    O(buckets^2) on a ~70-element array inside one row — bounded by
    construction (the at-risk window itself runs on the t-aggregated
    frame, the module's bounded-frame convention)."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    c = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    )
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    s = c.crossJoin(F.broadcast(mx)).select(
        F.floor(F.datediff("l", "f") / KM_BUCKET_DAYS)
        .cast("bigint")
        .alias("t"),
        F.when(
            F.col("l")
            < F.col("mx") - F.expr(f"INTERVAL {KM_CHURN_GAP_DAYS} DAY"),
            1,
        )
        .otherwise(0)
        .alias("churned"),
    )
    tot = s.agg(F.count("*").alias("total"))
    g = s.groupBy("t").agg(
        F.count("*").alias("cnt"), F.sum("churned").alias("d")
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    o = (
        g.crossJoin(F.broadcast(tot))
        .withColumn(
            "n",
            (
                F.col("total")
                - F.coalesce(F.sum("cnt").over(wt), F.lit(0))
            ).cast("bigint"),
        )
    )
    f = o.select(
        "t",
        "d",
        "n",
        F.round(F.lit(1) - F.col("d").cast("double") / F.col("n"), 6)
        .cast("decimal(10,6)")
        .alias("factor"),
    )
    # ONE sorted struct array projected four ways — a single aggregation
    # buffer and sort, and the four lists cannot disagree on order.
    rows = F.array_sort(
        F.collect_list(F.struct("t", "factor", "d", "n"))
    )
    def _field(fld):
        # single-arg lambda factory: a two-arg lambda would be read by
        # F.transform as the (element, index) form
        return lambda x: x[fld]

    arr = f.agg(rows.alias("rows")).select(
        *[
            F.transform(F.col("rows"), _field(fld)).alias(al)
            for fld, al in (
                ("factor", "fl"),
                ("t", "tl"),
                ("d", "dl"),
                ("n", "nl"),
            )
        ]
    )
    return (
        arr.select(
            F.posexplode("tl").alias("i0", "t_months"),
            "fl",
            "dl",
            "nl",
        )
        .select(
            "t_months",
            F.expr("nl[i0]").alias("n_at_risk"),
            F.expr("dl[i0]").alias("n_churned"),
            F.expr(
                "CAST(aggregate(slice(fl, 1, i0 + 1),"
                " CAST(1.0 AS DECIMAL(10,6)),"
                " (acc, x) -> CAST(round(acc * x, 6) AS DECIMAL(10,6)))"
                " AS DOUBLE)"
            ).alias("survival"),
        )
        .orderBy("t_months")
    )

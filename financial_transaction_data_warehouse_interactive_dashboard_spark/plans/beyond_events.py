"""Event-time-tier named queries, batch form (ev_*) — split from ``plans/beyond.py`` in round 8.

Pure mechanical move (VERDICT r7 ask #8): registry names, oracles, and
driver history are unchanged; ``plans.beyond`` still imports and
re-exports every entry, so existing import paths keep working. Shared
DuckDB fragments/helpers stay in ``plans.beyond`` and are imported from
there (it is mid-initialization at that point, but the shared block is
defined before the tier imports at its bottom run).
"""

from __future__ import annotations

from ..streaming import windows as W
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .beyond import (  # shared fragments/helpers
    HLL_TOL,
    HLL_WINDOW_DAYS,
)
from .queries import _t, query




# ===========================================================================
# Event-time windows (batch form; streaming lift in streaming.stream)
# ===========================================================================


@query(
    "ev_tumbling_hourly",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n,
           sum(value::DECIMAL(30,6))::DOUBLE AS total_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ev_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type (streaming.windows.tumbling)."""
    return W.tumbling(_t(spark, sf_dir, "events"), "1 hour").orderBy(
        "window_start", "event_type"
    )




@query(
    "ev_sliding_1h_15m",
    """
    SELECT make_timestamp(((floor(epoch(ts) / 900) - k) * 900 * 1000000)::BIGINT)
             AS window_start,
           count(*) AS n,
           sum(value::DECIMAL(30,6))::DOUBLE AS total_value
    FROM events, range(0, 4) AS r(k)
    GROUP BY 1 ORDER BY 1
    """,
)
def ev_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15m windows (each event in 4 windows; the oracle expands
    the same 4 epoch-aligned starts explicitly)."""
    return W.sliding(_t(spark, sf_dir, "events"), "1 hour", "15 minutes").orderBy(
        "window_start"
    )




@query(
    "ev_sessionize",
    """
    WITH o AS (
      SELECT user_id, ts, value,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  < INTERVAL '30 minutes'
             THEN 0 ELSE 1 END AS brk
      FROM events),
    s AS (SELECT user_id, ts, value,
            sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
    SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
           count(*) AS n_events,
           sum(value::DECIMAL(30,6))::DOUBLE AS total_value
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, first_ts
    """,
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessions per user via F.session_window; the oracle is the
    classic gaps-and-islands formulation (strict '<' matches Spark's
    overlap-merge semantics: a gap of exactly the timeout starts a new
    session)."""
    return W.sessionize(_t(spark, sf_dir, "events"), "30 minutes").orderBy(
        "user_id", "first_ts"
    )




@query(
    "ev_funnel_vcp",
    """
    WITH firsts AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view') AS t_view,
             min(ts) FILTER (WHERE event_type = 'click') AS t_click,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id)
    SELECT count(*) AS n_users,
           count(*) FILTER (WHERE t_view IS NOT NULL) AS viewed,
           count(*) FILTER (WHERE t_click > t_view) AS clicked_after_view,
           count(*) FILTER (WHERE t_purchase > t_click AND t_click > t_view)
             AS purchased_after_click
    FROM firsts
    """,
)
def ev_funnel_vcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel by first-occurrence ordering.

    One shuffle (user groupBy with conditional min aggregates), then a
    single-row conditional count — the canonical event-funnel shape. NULL
    semantics do the stage gating: a comparison with a missing stage is
    NULL -> not counted, identical in both engines.
    """
    events = _t(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("purchased_after_click"),
    )




@query(
    "ev_rolling_7d",
    """
    WITH daily AS (
      SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS d,
             count(*) AS n,
             sum(value::DECIMAL(30,6))::DOUBLE AS day_value
      FROM events GROUP BY 1)
    SELECT make_timestamp(d * 86400 * 1000000)::DATE AS day, n,
           CAST(sum(n) OVER (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_7d,
           day_value
    FROM daily ORDER BY day
    """,
)
def ev_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling event count — a RANGE window frame over epoch
    days (frame specs are absent from the reference, SURVEY.md section
    2.5; this is the rolling-KPI shape every dashboard grows into).

    RANGE (not ROWS) so missing days still widen the frame correctly.
    Daily pre-aggregation first: the window runs over ~days rows, not raw
    events — at 100 TB the rolling pass is over a tiny frame.
    """
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        (F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("day_value"),
    )
    w = Window.orderBy("d").rangeBetween(-6, 0)
    return (
        daily.withColumn("n_7d", F.sum("n").over(w))
        .select(
            F.timestamp_seconds(F.col("d") * 86400).cast("date").alias("day"),
            "n",
            "n_7d",
            "day_value",
        )
        .orderBy("day")
    )




@query(
    "ev_cumulative_uniques",
    """
    WITH fs AS (
      SELECT user_id, min(date_trunc('day', ts))::DATE AS first_day
      FROM events GROUP BY 1),
    daily AS (
      SELECT first_day AS day, count(*) AS new_users FROM fs GROUP BY 1)
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
    FROM daily ORDER BY day
    """,
)
def ev_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new + cumulative distinct users via the FIRST-SEEN
    reformulation: cumulative COUNT(DISTINCT) as a window is either a
    quadratic self-join or a giant dedup-state window at 100 TB — but
    'users whose first day is <= d' is the same number, and needs only
    min() per user (one shuffle), a day-level count (tiny), and a
    running sum over days. The classic new-vs-returning warehouse
    pattern; exact, no sketch needed."""
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    fs = events.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).cast("date").alias("first_day")
    )
    daily = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn(
            "cum_users", F.sum("new_users").over(w).cast("bigint")
        )
        .orderBy("day")
    )




@query(
    "ev_cohort_retention",
    """
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week
      FROM events),
    c AS (
      SELECT user_id, week,
             min(week) OVER (PARTITION BY user_id) AS cohort_week
      FROM uw)
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, week) / 7 AS BIGINT)
             AS week_offset,
           count(*) AS n_active
    FROM c GROUP BY 1, 2 ORDER BY cohort_week, week_offset
    """,
)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle — users grouped by first-active
    week, counted in each later week they return (the dashboard-standard
    retention matrix; the reference has no cohort analytics at all).

    Shape: dedup to (user, week) FIRST (one shuffle; the frame shrinks
    to at most users x weeks), derive each user's cohort as a window
    min over that small frame (second, narrower shuffle), then a
    (cohort, offset) count. No join back to raw events, no per-cohort
    scans; week arithmetic stays in integer days/7 (both engines'
    date_trunc('week') is Monday-based, so offsets are exact
    multiples)."""
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    uw = events.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    c = uw.withColumn(
        "cohort_week", F.min("week").over(Window.partitionBy("user_id"))
    )
    return (
        c.groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )




@query(
    "ev_props_extract",
    """
    WITH px AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             json_extract_string(props, '$.missing') AS missing
      FROM events)
    SELECT event_type,
           count(*) AS n,
           CAST(sum(k) AS BIGINT) AS k_sum,
           min(k) AS k_min,
           max(k) AS k_max,
           count(missing) AS missing_present
    FROM px
    GROUP BY 1 ORDER BY event_type
    """,
)
def ev_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction via ONE schematized parse: from_json
    projects the JSON ``props`` bag into a typed struct — the JSON text
    is parsed once per row regardless of how many fields downstream
    expressions touch (vs one get_json_object walk per field), and the
    explicit schema prunes unreferenced fields at parse time. The plan
    shows a single JsonToStructs (pinned in tests/test_plan_quality.py).

    Two fields come out of the one parse: the typed ``k`` measure
    (aggregated) and a deliberately-absent ``missing`` field —
    schema-declared fields missing from the document are NULL, and the
    oracle pins that contract (missing_present = 0) alongside the k
    aggregates.
    """
    events = _t(spark, sf_dir, "events")
    p = F.from_json("props", "k BIGINT, missing STRING").alias("p")
    px = events.select("event_type", p).select(
        "event_type", F.col("p.k").alias("k"), F.col("p.missing").alias("missing")
    )
    return (
        px.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count("missing").alias("missing_present"),
        )
        .orderBy("event_type")
    )




@query(
    "ev_value_histogram",
    """
    WITH s AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
    b AS (SELECT CASE WHEN vmax = vmin THEN 0
                 ELSE least(floor((value - vmin) * 20 / (vmax - vmin)), 19)
                 END::INTEGER AS bucket, vmin, vmax
          FROM events, s)
    SELECT bucket, count(*) AS n,
           round(min(vmin) + bucket * ((min(vmax) - min(vmin)) / 20), 6)
             AS bucket_lo
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def ev_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of a continuous measure — the dashboard
    distribution-panel shape. Two-pass: a 1-row min/max aggregate
    broadcast back over the fact (no driver round-trip, stays one lazy
    plan), then floor-bucketing and a 20-group count. Bucket arithmetic
    is written with identical operation ORDER in both engines — IEEE
    double ops are deterministic, so the bucket ids agree exactly; the
    max value is clamped into the last bucket with least(). Degenerate
    range guard (round-2 review): a single-valued or empty measure makes
    (vmax - vmin) zero and 0/0 diverges across engines (Spark non-ANSI
    NULL vs DuckDB NaN) — both plan and oracle put all rows in bucket 0
    explicitly when vmax = vmin."""
    events = _t(spark, sf_dir, "events")
    stats = events.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    b = events.crossJoin(F.broadcast(stats)).select(
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    * 20
                    / (F.col("vmax") - F.col("vmin"))
                ),
                F.lit(19),
            )
        )
        .cast("int")
        .alias("bucket"),
        "vmin",
        "vmax",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.min("vmin")
                + F.col("bucket") * ((F.min("vmax") - F.min("vmin")) / 20),
                6,
            ).alias("bucket_lo"),
        )
        .orderBy("bucket")
    )




@query(
    "ev_top_paths",
    """
    WITH s AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e3
      FROM events),
    t AS (
      SELECT event_type || '>' || e2 || '>' || e3 AS path
      FROM s WHERE e3 IS NOT NULL)
    SELECT path, count(*) AS n
    FROM t GROUP BY 1 ORDER BY n DESC, path LIMIT 10
    """,
)
def ev_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event PATHS — sequence mining over per-user journeys: the ten
    most frequent 3-step event-type sequences (per-user ordering with
    the ev_transition_matrix (ts, event_id) tie-break, overlapping
    trigrams via two leads). The n-th-order sibling of the first-order
    transition matrix: where a21's Markov view answers 'what follows
    X', this answers 'which whole journeys dominate' — the path-analysis
    panel of product analytics.

    Physical: one window shuffle on user_id (two leads share the frame),
    map-side concat, one count shuffle, TakeOrderedAndProject top-10
    with a path tie-break. Trigram fan-out is exactly one row per event
    (overlapping windows of a sequence, not a self-join) — linear at
    any corpus size. Reference analogue: none."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = events.select(
        "event_type",
        F.lead("event_type").over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        s.filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )




@query(
    "ev_transition_matrix",
    """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    t AS (SELECT event_type AS src, nxt AS dst, count(*) AS n
          FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2)
    SELECT src, dst, n,
           round(n::DOUBLE / sum(n) OVER (PARTITION BY src), 6) AS p
    FROM t ORDER BY src, dst
    """,
)
def ev_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov estimate of user
    journeys): per user, each event's successor by time (event_id
    tie-break), counted into (src, dst) cells with row-normalized
    probabilities — the click-path analysis behind funnel design.
    Shape: one shuffle on user_id for the lead window, then a tiny
    (|event_types|^2) aggregate; the probability window runs over that
    tiny frame. Fully order-pinned by the oracle."""
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = events.withColumn("nxt", F.lead("event_type").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    t = s.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count("*").alias("n"))
    wp = Window.partitionBy("src")
    return (
        t.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(wp), 6)
        )
        .orderBy("src", "dst")
    )




@query(
    "ev_asof_view_purchase",
    """
    WITH v AS (
      SELECT user_id, ts, max(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ), p AS (
      SELECT event_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           v.ts AS r_ts,
           round(v.view_value, 6) AS r_view_value,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY event_id
    """,
)
def ev_asof_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase to the user's latest prior-or-equal view
    (operators.temporal.asof_join_backward — union + carry-forward window;
    DuckDB's native ASOF JOIN is the oracle, so the composed operator's
    inclusive-<= tie semantics are pinned against a reference
    implementation)."""
    from ..operators.temporal import asof_join_backward

    events = _t(spark, sf_dir, "events")
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 6).alias("view_value"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join_backward(purchases, views, by="user_id", ts_col="ts")
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "r_ts",
        "r_view_value",
        (F.unix_micros("ts") - F.unix_micros("r_ts")).alias("gap_us"),
    ).orderBy("event_id")




@query(
    "ev_asof_nearest_error",
    """
    WITH e2 AS (
      SELECT user_id, ts, max(value) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY 1, 2
    ), p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), b AS (
      SELECT p.event_id, p.user_id, p.ts, e2.ts AS b_ts
      FROM p ASOF LEFT JOIN e2 ON p.user_id = e2.user_id AND p.ts >= e2.ts
    ), f AS (
      SELECT p.event_id, e2.ts AS f_ts
      FROM p ASOF LEFT JOIN e2 ON p.user_id = e2.user_id AND p.ts <= e2.ts
    )
    SELECT b.event_id, b.user_id, b.ts,
           CASE WHEN f_ts IS NULL THEN b_ts
                WHEN b_ts IS NULL THEN f_ts
                WHEN epoch_us(b.ts) - epoch_us(b_ts)
                     <= epoch_us(f_ts) - epoch_us(b.ts) THEN b_ts
                ELSE f_ts END AS r_ts,
           CASE WHEN f_ts IS NULL THEN epoch_us(b.ts) - epoch_us(b_ts)
                WHEN b_ts IS NULL THEN epoch_us(b.ts) - epoch_us(f_ts)
                WHEN epoch_us(b.ts) - epoch_us(b_ts)
                     <= epoch_us(f_ts) - epoch_us(b.ts)
                  THEN epoch_us(b.ts) - epoch_us(b_ts)
                ELSE epoch_us(b.ts) - epoch_us(f_ts) END AS signed_gap_us
    FROM b JOIN f USING (event_id)
    ORDER BY event_id
    """,
)
def ev_asof_nearest_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join: each purchase to the user's closest
    error event in either time direction (ties -> the earlier/backward
    match) — the sensor-alignment semantics pandas merge_asof calls
    direction='nearest' and DuckDB has no primitive for. The oracle
    composes DuckDB's two directional ASOF joins with the same
    tie-breaking CASE, so the composed operator is pinned against a
    reference implementation of each direction."""
    from ..operators.temporal import asof_join

    events = _t(spark, sf_dir, "events")
    errors = (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
        .select("user_id", "ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, errors, by="user_id", ts_col="ts", direction="nearest"
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "r_ts",
        (F.unix_micros("ts") - F.unix_micros("r_ts")).alias("signed_gap_us"),
    ).orderBy("event_id")




@query(
    "ev_asof_purchase",
    """
    WITH v AS (
      SELECT user_id, ts, max(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ), e2 AS (
      SELECT user_id, ts FROM events WHERE event_type = 'error'
      GROUP BY 1, 2
    ), p AS (
      SELECT event_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    ), bv AS (
      SELECT p.event_id, p.user_id, p.ts,
             v.ts AS view_ts,
             round(v.view_value, 6) AS view_value,
             epoch_us(p.ts) - epoch_us(v.ts) AS view_gap_us
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    ), b AS (
      SELECT p.event_id, p.ts, e2.ts AS b_ts
      FROM p ASOF LEFT JOIN e2 ON p.user_id = e2.user_id AND p.ts >= e2.ts
    ), f AS (
      SELECT p.event_id, e2.ts AS f_ts
      FROM p ASOF LEFT JOIN e2 ON p.user_id = e2.user_id AND p.ts <= e2.ts
    ), ne AS (
      SELECT b.event_id,
             CASE WHEN f_ts IS NULL THEN b_ts
                  WHEN b_ts IS NULL THEN f_ts
                  WHEN epoch_us(b.ts) - epoch_us(b_ts)
                       <= epoch_us(f_ts) - epoch_us(b.ts) THEN b_ts
                  ELSE f_ts END AS err_ts,
             CASE WHEN f_ts IS NULL THEN epoch_us(b.ts) - epoch_us(b_ts)
                  WHEN b_ts IS NULL THEN epoch_us(b.ts) - epoch_us(f_ts)
                  WHEN epoch_us(b.ts) - epoch_us(b_ts)
                       <= epoch_us(f_ts) - epoch_us(b.ts)
                    THEN epoch_us(b.ts) - epoch_us(b_ts)
                  ELSE epoch_us(b.ts) - epoch_us(f_ts) END AS err_signed_gap_us
      FROM b JOIN f USING (event_id)
    )
    SELECT bv.event_id, bv.user_id, bv.ts, view_ts, view_value, view_gap_us,
           err_ts, err_signed_gap_us
    FROM bv JOIN ne USING (event_id)
    ORDER BY event_id
    """,
)
def ev_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH as-of directions in one entry: each purchase gets (a) the
    user's latest prior-or-equal view (backward as-of — the
    ev_asof_view_purchase operator) and (b) the user's closest error
    event in either time direction, ties to backward (nearest as-of —
    the ev_asof_nearest_error operator). Two invocations of
    operators.temporal.asof_join (union + carry-forward window; one
    shuffle each), merged on event_id. The oracle composes DuckDB's
    native directional ASOF joins with the same tie-break CASE, so both
    direction semantics stay pinned against a reference implementation.
    """
    from ..operators.temporal import asof_join

    events = _t(spark, sf_dir, "events")
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 6).alias("view_value"))
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select("user_id", "ts")
        .distinct()
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    back = asof_join(purchases, views, by="user_id", ts_col="ts").select(
        "event_id",
        "user_id",
        "ts",
        F.col("r_ts").alias("view_ts"),
        F.col("r_view_value").alias("view_value"),
        (F.unix_micros("ts") - F.unix_micros("r_ts")).alias("view_gap_us"),
    )
    near = asof_join(
        purchases, errors, by="user_id", ts_col="ts", direction="nearest"
    ).select(
        "event_id",
        F.col("r_ts").alias("err_ts"),
        (F.unix_micros("ts") - F.unix_micros("r_ts")).alias("err_signed_gap_us"),
    )
    return back.join(near, "event_id").orderBy("event_id")




@query(
    "ev_range_views_before_purchase",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id,
           count(v.ts) AS n_views_1h,
           round(max(v.value), 6) AS max_view_value
    FROM p LEFT JOIN v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.ts < p.ts
    GROUP BY 1, 2
    ORDER BY event_id
    """,
)
def ev_range_views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: views in the hour before each purchase,
    via the bucketed equi-join decomposition
    (operators.temporal.range_join_trailing) instead of a per-key nested
    loop; aggregated per purchase. Purchases with no prior views survive
    with count 0 (left semantics restored by the final left join)."""
    from ..operators.temporal import range_join_trailing

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    matched = (
        range_join_trailing(purchases, views, by="user_id", window_seconds=3600)
        .groupBy("event_id", "user_id")
        .agg(
            F.count("*").alias("n_views_1h"),
            F.round(F.max("r_value"), 6).alias("max_view_value"),
        )
    )
    return (
        purchases.join(matched, ["event_id", "user_id"], "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("n_views_1h", F.lit(0)).alias("n_views_1h"),
            "max_view_value",
        )
        .orderBy("event_id")
    )




@query(
    "ev_equidepth_histogram",
    """
    WITH vc AS (SELECT value, count(*) AS nv FROM events GROUP BY 1),
    tot AS (SELECT CAST(sum(nv) AS BIGINT) AS ntot FROM vc),
    c AS (
      SELECT value, nv,
             CAST(coalesce(sum(nv) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_excl
      FROM vc),
    b AS (
      SELECT least((cum_excl * 8) // ntot, 7) AS bin, value, nv
      FROM c CROSS JOIN tot)
    SELECT bin, CAST(sum(nv) AS BIGINT) AS n,
           count(*) AS n_distinct,
           round(min(value), 6) AS lo, round(max(value), 6) AS hi
    FROM b GROUP BY 1 ORDER BY bin
    """,
)
def ev_equidepth_histogram(
    spark: SparkSession, sf_dir: str, *, scale_safe: bool = False
) -> DataFrame:
    """EQUI-DEPTH histogram (8 bins of ~equal row count) of the event
    value — the optimizer-statistics / distribution-panel companion to
    the equi-width ev_value_histogram. Ties never straddle bins: every
    occurrence of one value lands in the bin of its exclusive cumulative
    rank, floor(cum_excl * k / ntot) — ALL-INTEGER arithmetic, so the
    bin ids are exact in both engines (no float rank boundary to
    diverge).

    Scale shape: one map-side-combine shuffle compresses the fact to
    DISTINCT (value, count) rows — the measure is 2dp-quantized, so this
    frame is BOUNDED by the value domain (~50k rows) no matter the
    corpus size — and the prefix-sum window runs on that bounded frame,
    not the fact. For genuinely continuous (unbounded-distinct) measures
    pass ``scale_safe=True``: the prefix-sum goes two-phase per
    partition (operators.surrogate.two_phase_cumsum, bit-identical
    bigint cum_excl, equivalence-tested)."""
    from ..operators.sketch import equidepth_bins

    events = _t(spark, sf_dir, "events")
    return equidepth_bins(events, "value", k=8, scale_safe=scale_safe)




# ---------------------------------------------------------------------------
# ev_peak_concurrency: sweep-line daily peak concurrent sessions
# ---------------------------------------------------------------------------


@query(
    "ev_peak_concurrency",
    """
    WITH o AS (
      SELECT user_id, ts,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  < INTERVAL '30 minutes' THEN 0 ELSE 1 END AS brk
      FROM events),
    s AS (SELECT user_id, ts,
            sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
          FROM o),
    sess AS (SELECT user_id, sid, min(ts) AS f, max(ts) AS l
             FROM s GROUP BY 1, 2),
    sd AS (SELECT f, l,
                  unnest(generate_series(f::DATE, l::DATE,
                                         INTERVAL 1 DAY))::DATE AS day
           FROM sess),
    m AS (
      SELECT day, greatest(f, day::TIMESTAMP) AS ts, 1 AS delta FROM sd
      UNION ALL
      SELECT day, least(l, (day + INTERVAL 1 DAY)::TIMESTAMP), -1 FROM sd),
    c AS (SELECT day, delta,
            sum(delta) OVER (PARTITION BY day ORDER BY ts, delta DESC
                             ROWS UNBOUNDED PRECEDING) AS conc
          FROM m)
    SELECT day, max(conc)::BIGINT AS peak_concurrency,
           sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_session_days
    FROM c GROUP BY day ORDER BY day
    """,
)
def ev_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily PEAK concurrent sessions — the sweep-line / interval-overlap
    primitive (±1 boundary marks, running sum, per-day max) behind
    capacity planning and "how many users were on at once" dashboards.

    Sessions are the same 30-min-gap gaps-and-islands islands as
    ev_sessionize; each session interval [first_ts, last_ts] (CLOSED at
    both ends — a single-event session still counts 1) is split at
    midnight via an exploded day sequence so the sweep windows partition
    BY DAY: no global sort anywhere, per-partition work bounded by one
    day's session count at any scale. Boundary pins: +1 marks sort
    before -1 at the same instant (ORDER BY ts, delta DESC — two
    sessions meeting end-to-start at the same microsecond DO overlap),
    and a midnight-spanning session counts in both adjacent days. The
    running-sum max is order-independent under ties (every tied +1
    contributes the same +1 to the partial-sum multiset), so both
    engines agree exactly."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    wu = Window.partitionBy("user_id").orderBy("ts")
    # Exact integer-microsecond gap test (unix_micros), bit-identical to
    # the oracle's timestamp-minus-timestamp < INTERVAL comparison.
    brk = F.when(
        F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
        < 1800 * 1_000_000,
        0,
    ).otherwise(1)
    sid = F.sum(brk).over(
        wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = (
        ev.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
    )
    sd = sess.select(
        "f",
        "l",
        F.explode(
            F.sequence(F.to_date("f"), F.to_date("l"))
        ).alias("day"),
    )
    day_start = F.col("day").cast("timestamp")
    day_end = F.date_add(F.col("day"), 1).cast("timestamp")
    marks = sd.select(
        "day",
        F.greatest(F.col("f"), day_start).alias("ts"),
        F.lit(1).alias("delta"),
    ).unionAll(
        sd.select(
            "day",
            F.least(F.col("l"), day_end).alias("ts"),
            F.lit(-1).alias("delta"),
        )
    )
    wd = (
        Window.partitionBy("day")
        .orderBy(F.col("ts"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marks.withColumn("conc", F.sum("delta").over(wd))
        .groupBy("day")
        .agg(
            F.max("conc").alias("peak_concurrency"),
            F.sum((F.col("delta") == 1).cast("int")).alias(
                "n_session_days"
            ),
        )
        .orderBy("day")
    )




# ---------------------------------------------------------------------------
# ev_wau_stickiness: trailing 7-day active users + DAU/WAU stickiness
# ---------------------------------------------------------------------------


@query(
    "ev_wau_stickiness",
    """
    WITH ev AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
    sc AS (SELECT user_id,
                  unnest(generate_series(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY))::DATE AS day_w
           FROM ev),
    wau AS (SELECT day_w AS day, count(DISTINCT user_id) AS wau
            FROM sc GROUP BY 1),
    dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ev GROUP BY 1)
    SELECT d.day AS day, d.dau AS dau, w.wau AS wau,
           round(d.dau::DOUBLE / w.wau, 6) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day ORDER BY day
    """,
)
def ev_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-7-day WAU, and the DAU/WAU stickiness ratio per
    day — the engagement triple every product dashboard leads with.

    The WAU is EXACT without any sliding-window distinct (no engine has
    a distributed COUNT(DISTINCT) OVER RANGE): each distinct (user, day)
    activity row SCATTERS to the 7 trailing windows it belongs to
    (explode of a 7-date sequence — the same scatter-convolution trick
    as ev_ewma_daily's kernel), then a plain two-phase count-distinct
    per target day. Shuffle volume = 7x the distinct activity frame,
    keyed by day.

    PARTIAL-WINDOW CONVENTION (shared with ev_active_users_hll — one
    registry, one rule): windows at the corpus HEAD that span fewer
    than the full 7 days are reported as-is (standard dashboard
    convention: day 3's WAU is "actives in the data so far"), and the
    inner join back to observed days drops the phantom scatter targets
    past the last day, so the corpus TAIL never fabricates future
    windows. Both oracles encode the same rule."""
    ev = (
        _t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    sc = ev.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day_w"),
    )
    wau = sc.groupBy(F.col("day_w").alias("day")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = ev.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )




@query(
    "ev_active_users_hll",
    f"""
    WITH ev AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
    sc AS (SELECT user_id,
                  unnest(generate_series(day,
                                         day + INTERVAL {HLL_WINDOW_DAYS - 1}
                                               DAY,
                                         INTERVAL 1 DAY))::DATE AS day_w
           FROM ev),
    mau AS (SELECT day_w AS day, count(DISTINCT user_id) AS active_exact
            FROM sc GROUP BY 1),
    days AS (SELECT DISTINCT day FROM ev)
    SELECT d.day AS day, m.active_exact AS active_exact,
           1 AS hll_within_tol
    FROM days d JOIN mau m ON d.day = m.day ORDER BY day
    """,
)
def ev_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 14-day active users two ways: EXACT (the
    scatter-explode count-distinct, same skeleton as ev_wau_stickiness)
    and via MERGEABLE per-day HLL sketches — ONE sketch per day
    (hll_sketch_agg), scattered to the 14 windows it
    serves and union-merged (hll_union_agg). The sketch path is the
    100 TB answer: its scatter is days x 14 sketch ROWS
    (kilobytes), not users x days x 14 data rows, and
    the same persisted day sketches answer any window length
    retroactively (the a15_hll_mergeable pattern rolled along time).

    PARTIAL-WINDOW CONVENTION (shared with ev_wau_stickiness — one
    registry, one rule): head windows spanning fewer than the full 14
    days are reported as-is, and the join to observed days drops
    phantom scatter targets past the last day. Both oracles encode the
    same rule.

    Oracle contract (the a5 split): the exact half is value-checked
    against DuckDB; the sketch half rides as a CLAIM column —
    hll_within_tol = 1 iff the estimate lands within 5% of
    exact on EVERY output day (HLL lgK=12 gives ~1.6% standard error,
    so 5% is a hard bound, not a hope) — the oracle hard-codes 1 and
    the hash gate fails if the sketch ever drifts out."""
    ev = (
        _t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    # exact: scatter distinct activity rows to trailing windows
    exact = (
        ev.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), HLL_WINDOW_DAYS - 1)
                )
            ).alias("day_w"),
        )
        .groupBy(F.col("day_w").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_exact"))
    )
    # sketch: one HLL per day, scatter SKETCH rows, union-merge per window
    day_sk = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    est = (
        day_sk.select(
            "sk",
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), HLL_WINDOW_DAYS - 1)
                )
            ).alias("day_w"),
        )
        .groupBy(F.col("day_w").alias("day"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    days = ev.select("day").distinct()
    per_day = (
        days.join(exact, "day")
        .join(est, "day")
        .select(
            "day",
            "active_exact",
            (
                F.abs(F.col("est") - F.col("active_exact"))
                <= F.lit(HLL_TOL) * F.col("active_exact")
            )
            .cast("int")
            .alias("ok"),
        )
    )
    # every day must be in tolerance for the claim column to read 1
    worst = per_day.agg(F.min("ok").alias("all_ok"))
    return (
        per_day.crossJoin(F.broadcast(worst))
        .select(
            "day",
            "active_exact",
            F.col("all_ok").alias("hll_within_tol"),
        )
        .orderBy("day")
    )




# ---------------------------------------------------------------------------
# ev_time_to_convert: view->purchase latency percentiles per day
# ---------------------------------------------------------------------------


@query(
    "ev_time_to_convert",
    """
    WITH v AS (SELECT DISTINCT user_id, ts FROM events
               WHERE event_type = 'view'),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'),
    m AS (SELECT p.event_id, p.ts,
                 max(v.ts) AS vts
          FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
          GROUP BY 1, 2),
    lat AS (SELECT CAST(ts AS DATE) AS day,
                   epoch_us(ts) - epoch_us(vts) AS us
            FROM m),
    r AS (SELECT day, us,
                 row_number() OVER (PARTITION BY day ORDER BY us) AS rn,
                 count(*) OVER (PARTITION BY day) AS n
          FROM lat)
    SELECT day, min(n) AS n_conversions,
           round(min(CASE WHEN rn = (n + 1) // 2 THEN us END)
                 / 1000000.0, 6) AS median_s,
           round(min(CASE WHEN rn = (9 * n + 9) // 10 THEN us END)
                 / 1000000.0, 6) AS p90_s
    FROM r GROUP BY day ORDER BY day
    """,
)
def ev_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-to-purchase conversion LATENCY per day (lower median and
    discrete p90 of the time since the user's most recent preceding
    view, inclusive at zero) — the funnel-timing panel next to the
    funnel counts (ev_funnel_vcp) and attribution values.

    Composition: the backward as-of join (operators.temporal.asof_join
    — union + carry-forward window, ONE shuffle, never a per-key nested
    loop) attaches the latest view; latency is EXACT integer
    microseconds (unix_micros); percentiles are DISCRETE rank picks
    (element at ceil(p*n), pure integer arithmetic — interpolated
    percentile over ~1e10-scale integers differs between engines in
    the last ulp, found and pinned here), so the selected values are
    actual data points and the /1e6 seconds conversion is exact to all
    6 digits. Tied latencies make the rank pick order-independent (same
    multiset, same k-th element). Purchases with no preceding view are
    excluded. Per-day windows bound the sort; unbounded groups swap in
    approx_percentile per the a13 contract."""
    from ..operators.temporal import asof_join

    events = _t(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .select("user_id", "ts")
        .distinct()
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = asof_join(p, v, by="user_id", direction="backward")
    lat = j.filter(F.col("r_ts").isNotNull()).select(
        F.col("ts").cast("date").alias("day"),
        (F.unix_micros("ts") - F.unix_micros("r_ts")).alias("us"),
    )
    wd = Window.partitionBy("day")
    r = lat.select(
        "day",
        "us",
        F.row_number().over(wd.orderBy("us")).alias("rn"),
        F.count("*").over(wd).alias("n"),
    )
    k_med = F.floor((F.col("n") + 1) / 2)
    k_p90 = F.floor((9 * F.col("n") + 9) / 10)
    return (
        r.groupBy("day")
        .agg(
            F.min("n").alias("n_conversions"),
            F.round(
                F.min(F.when(F.col("rn") == k_med, F.col("us")))
                / 1000000.0,
                6,
            ).alias("median_s"),
            F.round(
                F.min(F.when(F.col("rn") == k_p90, F.col("us")))
                / 1000000.0,
                6,
            ).alias("p90_s"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# ev_session_overlap_pairs: the RANGE JOIN (bucketed interval-overlap
# self-join) — r16; operators/rangejoin.py holds the generic operator
# ---------------------------------------------------------------------------


@query(
    "ev_session_overlap_pairs",
    """
    WITH o AS (
      SELECT user_id, ts,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  < INTERVAL '30 minutes'
             THEN 0 ELSE 1 END AS brk
      FROM events),
    si AS (SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
           FROM o),
    s AS (SELECT user_id, min(ts) AS f, max(ts) AS l
          FROM si GROUP BY user_id, sid)
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(sum(date_diff('microsecond',
                              greatest(a.f, b.f),
                              least(a.l, b.l))) AS BIGINT) AS overlap_us
    FROM s a JOIN s b
      ON a.user_id < b.user_id AND a.f <= b.l AND b.f <= a.l
    GROUP BY 1, 2
    ORDER BY overlap_us DESC, n_overlaps DESC, user_a, user_b
    LIMIT 20
    """,
)
def ev_session_overlap_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top user pairs by concurrent-session time — the RANGE JOIN
    (interval-overlap join), the one custom-operator slot next to the
    as-of join family: which users are online together, and for how
    long. The oracle states the textbook quadratic formulation (a
    pure-inequality self-join DuckDB runs as IEJoin); the Spark plan
    is the bucketed linear one from operators/rangejoin.py — sessions
    exploded to covered 15-min buckets, hash self-join on the bucket
    with user_a < user_b inside the join condition, exactly-once
    retention at the first shared bucket, exact-overlap residual.
    A naive translation of the oracle would plan
    BroadcastNestedLoopJoin — quadratic the moment sessions outgrow a
    broadcast; the bucketed plan's join is a plain hash equi-join
    (CartesianProduct/BNLJ-free, pinned in test_plan_quality).

    Exactness: overlap duration is pure BIGINT microsecond arithmetic
    (unix_micros of the exact session bounds — no float time math);
    the top-20 page orders by (overlap_us DESC, n_overlaps DESC,
    user_a, user_b) — fully deterministic. Session derivation is
    ev_sessionize's: F.session_window against the gaps-and-islands
    CTE, the committed strict-'<' equivalence.

    Scale: explode amplification is ceil(span/900s)+1 per session
    (sessions are gap-bounded, so spans are short); per-bucket pair
    density is |concurrent sessions|^2 per bucket — the quantity the
    query MEASURES, so dense buckets are signal, and AQE's skew join
    splits them; the aggregate combines map-side onto user-pair keys;
    TakeOrdered caps the page. At 100 TB nothing is quadratic in the
    corpus: cost scales with sum of per-bucket densities, the same
    frontier a native IEJoin walks.

    Reference analogue: none (beyond-reference; task-brief custom
    operator)."""
    from ..operators.rangejoin import interval_overlap_join

    sess = W.sessionize(_t(spark, sf_dir, "events"), "30 minutes").select(
        "user_id", "first_ts", "last_ts"
    )
    a = sess.select(
        F.col("user_id").alias("user_a"),
        F.col("first_ts").alias("a_first"),
        F.col("last_ts").alias("a_last"),
    )
    b = sess.select(
        F.col("user_id").alias("user_b"),
        F.col("first_ts").alias("b_first"),
        F.col("last_ts").alias("b_last"),
    )
    pairs = interval_overlap_join(
        a,
        b,
        "a_first",
        "a_last",
        "b_first",
        "b_last",
        bucket_seconds=900,
        extra_on=F.col("user_a") < F.col("user_b"),
    )
    return (
        pairs.groupBy("user_a", "user_b")
        .agg(
            F.count("*").cast("bigint").alias("n_overlaps"),
            F.sum(
                F.unix_micros(F.least("a_last", "b_last"))
                - F.unix_micros(F.greatest("a_first", "b_first"))
            )
            .cast("bigint")
            .alias("overlap_us"),
        )
        .orderBy(
            F.desc("overlap_us"), F.desc("n_overlaps"), "user_a", "user_b"
        )
        .limit(20)
    )

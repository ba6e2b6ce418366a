"""Statistical QA / drift-monitoring tier (beyond-reference, r6).

A warehouse that feeds dashboards and training pipelines needs the
distribution-level checks that sit between row-level expectations
(wh_expectations) and the robust-stats screens (ev_mad_outliers,
a18_zscore_outliers): has THIS WEEK's data drifted from last week's?
Are two dimensions independent? Is a daily series autocorrelated, and
what does its smoothed trend look like? This module adds the standard
toolkit — chi-square independence, PSI drift, exact two-sample
Kolmogorov-Smirnov, lag-k autocorrelation, and truncated-kernel EWMA —
each as a registry entry with a bit-exact DuckDB oracle.

Exactness discipline (same rules as plans.finance):
- counts and scaled-integer sums are exact (BIGINT / DECIMAL);
- doubles appear only in final closed-form expressions with identical
  parenthesization on both engines, then round(…, 6);
- ln() follows the repo-wide tfidf/logprob convention: round-6
  immediately after the transcendental, then exact DECIMAL summation
  (sum-of-rounded is order-independent; ln itself is the only
  not-IEEE-pinned step and 6dp absorbs any last-ulp libm delta).

Reference analogue: none — the reference's pandas layer has no
statistical QA. Scale notes per query docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.surrogate import resolve_scale_safe, two_phase_cumsum
from .queries import _t, query

# ---------------------------------------------------------------------------
# qa_chi_square_segment_status: are market segment and order status
# independent? (contingency-table chi-square + Cramer's V)
# ---------------------------------------------------------------------------


@query(
    "qa_chi_square_segment_status",
    """
    WITH o AS (
      SELECT c.c_mktsegment AS seg, o.o_orderstatus AS st
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cell AS (SELECT seg, st, count(*) AS obs FROM o GROUP BY 1, 2),
    rt AS (SELECT seg, sum(obs) AS r FROM cell GROUP BY 1),
    ct AS (SELECT st, sum(obs) AS c FROM cell GROUP BY 1),
    tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cell),
    contrib AS (
      SELECT CAST(round(
               ((obs * n - r * c)::DOUBLE * (obs * n - r * c)::DOUBLE)
                 / (n::DOUBLE * n::DOUBLE * (r::DOUBLE * c::DOUBLE)), 9)
             AS DECIMAL(28,9)) AS x
      FROM cell, rt, ct, tot
      WHERE cell.seg = rt.seg AND cell.st = ct.st),
    dims AS (
      SELECT (SELECT count(*) FROM rt) AS nr,
             (SELECT count(*) FROM ct) AS nc)
    SELECT (SELECT n FROM tot) AS n,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           CAST((SELECT round(CAST(sum(x) AS DOUBLE), 6) FROM contrib)
                AS DOUBLE) AS chi2,
           round(sqrt((SELECT CAST(sum(x) AS DOUBLE) FROM contrib)
                      / ((SELECT n FROM tot)
                         * least(nr - 1, nc - 1))), 6) AS cramers_v
    FROM dims
    """,
)
def qa_chi_square_segment_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson chi-square test of independence between customer market
    segment and order status, plus Cramer's V effect size — the
    categorical-drift / association check a data-quality monitor runs on
    every dimension pair.

    Exactness: per-cell contribution is computed as
    ((obs*N - r*c)^2) / (N^2 * r * c) — an all-integer numerator cast to
    double with identical association on both engines (obs*N and r*c are
    exact BIGINTs well under 2^53 at any plausible contingency size, so
    the double subtraction is exact), rounded to 9dp, summed as exact
    DECIMAL. chi2 and V go double only in the final expression.

    Scale: the contingency table is |segments| x |statuses| rows — tiny
    regardless of fact size; the only real work is one grouped count over
    the join, which broadcasts the customer dim at dashboard scale and
    shuffle-joins at 100 TB. Reference analogue: none."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    cell = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count("*").alias("obs"))
    )
    rt = cell.groupBy("seg").agg(F.sum("obs").alias("r"))
    ct = cell.groupBy("st").agg(F.sum("obs").alias("c"))
    tot = cell.agg(F.sum("obs").alias("n"))
    nr = cell.select("seg").distinct().agg(F.count("*").alias("nr"))
    nc = cell.select("st").distinct().agg(F.count("*").alias("nc"))
    obs, n, r, c = F.col("obs"), F.col("n"), F.col("r"), F.col("c")
    num = (obs * n - r * c).cast("double")
    contrib = (
        cell.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "st")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (num * num)
                / (
                    n.cast("double")
                    * n.cast("double")
                    * (r.cast("double") * c.cast("double"))
                ),
                9,
            )
            .cast("decimal(28,9)")
            .alias("x"),
            "n",
        )
    )
    agg = contrib.groupBy().agg(
        F.min("n").alias("n"), F.sum("x").alias("sx")
    )
    return (
        agg.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "n",
            ((F.col("nr") - 1) * (F.col("nc") - 1))
            .cast("bigint")
            .alias("dof"),
            F.round(F.col("sx").cast("double"), 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("sx").cast("double")
                    / (
                        F.col("n")
                        * F.least(F.col("nr") - 1, F.col("nc") - 1)
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# ---------------------------------------------------------------------------
# qa_psi_price_drift: Population Stability Index between two periods
# ---------------------------------------------------------------------------

PSI_BINS = 10
PSI_WIDTH = 60000  # fixed-width bins over o_totalprice (~850..530k)


@query(
    "qa_psi_price_drift",
    f"""
    WITH b AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
             least(greatest(CAST(floor(o_totalprice / {PSI_WIDTH})
                                 AS BIGINT), 0), {PSI_BINS - 1}) AS bin
      FROM orders WHERE year(o_orderdate) IN (1995, 2000)),
    c AS (SELECT yr, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
    grid AS (
      SELECT r.range AS bin,
             coalesce((SELECT cnt FROM c WHERE yr = 1995 AND c.bin = r.range), 0) AS ca,
             coalesce((SELECT cnt FROM c WHERE yr = 2000 AND c.bin = r.range), 0) AS cb
      FROM range(0, {PSI_BINS}) r),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM grid),
    pq AS (
      SELECT bin, ca, cb,
             (ca + 1)::DOUBLE / (na + {PSI_BINS})::DOUBLE AS p,
             (cb + 1)::DOUBLE / (nb + {PSI_BINS})::DOUBLE AS q
      FROM grid, tot),
    contrib AS (
      SELECT bin, ca, cb,
             CAST(round((p - q) * ln(p / q), 6) AS DECIMAL(18,6)) AS x
      FROM pq)
    SELECT CAST(bin AS INTEGER) AS bin, ca AS n_1995, cb AS n_2000,
           CAST(x AS DOUBLE) AS psi_term,
           (SELECT round(CAST(sum(x) AS DOUBLE), 6) FROM contrib) AS psi_total
    FROM contrib ORDER BY bin
    """,
)
def qa_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-price distribution, 1995
    vs 2000 — THE standard drift score for monitored features (PSI < 0.1
    stable, > 0.25 drifted). Fixed-width bins (deterministic edges — no
    quantile dependence), Laplace +1 smoothing so empty bins never hit
    ln(0), per-bin terms AND the total in one frame (the per-bin view is
    what a drift dashboard plots).

    Exactness: counts exact; p/q and (p-q)*ln(p/q) in double with
    identical shape, round-6, exact DECIMAL total (the repo-wide ln
    convention). The bin grid is a literal range so both engines emit
    all 10 bins even when empty.

    Scale: two filtered grouped counts over the fact, 10-row grid —
    map-side combine does all the work; no shuffle larger than the bin
    count. Reference analogue: none."""
    orders = _t(spark, sf_dir, "orders")
    b = orders.filter(F.year("o_orderdate").isin(1995, 2000)).select(
        F.year("o_orderdate").alias("yr"),
        F.least(
            F.greatest(
                F.floor(F.col("o_totalprice") / PSI_WIDTH).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
            F.lit(PSI_BINS - 1).cast("bigint"),
        ).alias("bin"),
    )
    c = b.groupBy("yr", "bin").agg(F.count("*").alias("cnt"))
    grid = spark.range(0, PSI_BINS).select(F.col("id").alias("bin"))
    wide = (
        grid.join(
            F.broadcast(
                c.groupBy("bin").pivot("yr", [1995, 2000]).sum("cnt")
            ),
            "bin",
            "left",
        )
        .select(
            "bin",
            F.coalesce("1995", F.lit(0)).alias("ca"),
            F.coalesce("2000", F.lit(0)).alias("cb"),
        )
    )
    tot = wide.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    p = (F.col("ca") + 1).cast("double") / (
        F.col("na") + PSI_BINS
    ).cast("double")
    q = (F.col("cb") + 1).cast("double") / (
        F.col("nb") + PSI_BINS
    ).cast("double")
    contrib = wide.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ca",
        "cb",
        F.round((p - q) * F.log(p / q), 6)
        .cast("decimal(18,6)")
        .alias("x"),
    )
    total = contrib.agg(
        F.round(F.sum("x").cast("double"), 6).alias("psi_total")
    )
    return (
        contrib.crossJoin(F.broadcast(total))
        .select(
            F.col("bin").cast("int").alias("bin"),
            F.col("ca").alias("n_1995"),
            F.col("cb").alias("n_2000"),
            F.col("x").cast("double").alias("psi_term"),
            "psi_total",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# qa_ks_two_sample: exact two-sample Kolmogorov-Smirnov distance
# ---------------------------------------------------------------------------


@query(
    "qa_ks_two_sample",
    """
    WITH s AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    pv AS (
      SELECT v,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS d1,
             sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS d2
      FROM s GROUP BY v),
    n AS (SELECT CAST(sum(d1) AS BIGINT) AS n1,
                 CAST(sum(d2) AS BIGINT) AS n2 FROM pv),
    cum AS (
      SELECT sum(d1) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             sum(d2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      FROM pv)
    SELECT n1, n2,
           (SELECT round(max(abs(c1::DOUBLE / n.n1 - c2::DOUBLE / n.n2)), 6)
            FROM cum, n) AS ks_d
    FROM n
    """,
)
def qa_ks_two_sample(
    spark: SparkSession, sf_dir: str, scale_safe: bool = False
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the price
    distributions of URGENT vs LOW priority orders:
    D = max over pooled values of |ecdf1(v) - ecdf2(v)| — the
    distribution-shift test that catches drift PSI's fixed bins smear
    out.

    Exactness: ECDF numerators are integer running counts over the
    per-value grouped frame; each candidate |c1/n1 - c2/n2| is one
    double expression; max over doubles is order-independent. Grouping
    on the raw double is safe — both engines read the identical parquet
    bits.

    Scale: the windowed cumsum runs over the DISTINCT-value frame, not
    the fact. Default mode keeps the single-partition window (bit-exact
    oracle twin); ``scale_safe=True`` routes both running counts through
    operators.surrogate.two_phase_cumsum — the same partition-offset
    machinery every other global-window site uses (equivalence-tested in
    tests/test_drift.py). Reference analogue: none."""
    orders = _t(spark, sf_dir, "orders")
    s = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(2)
        .alias("g"),
    )
    pv = s.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("d2"),
    )
    n = pv.agg(F.sum("d1").alias("n1"), F.sum("d2").alias("n2"))
    if resolve_scale_safe(pv, scale_safe):
        cum1, _ = two_phase_cumsum(pv, ["v"], "d1", "c1")
        cum, _ = two_phase_cumsum(cum1, ["v"], "d2", "c2")
    else:
        w = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = pv.select(
            F.sum("d1").over(w).alias("c1"),
            F.sum("d2").over(w).alias("c2"),
        )
    d = cum.crossJoin(F.broadcast(n)).agg(
        F.round(
            F.max(
                F.abs(
                    F.col("c1").cast("double") / F.col("n1")
                    - F.col("c2").cast("double") / F.col("n2")
                )
            ),
            6,
        ).alias("ks_d")
    )
    return n.crossJoin(F.broadcast(d)).select("n1", "n2", "ks_d")


# ---------------------------------------------------------------------------
# ev_autocorr_daily: lag-1 autocorrelation of the daily revenue series
# ---------------------------------------------------------------------------


@query(
    "ev_autocorr_daily",
    """
    WITH dd AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS s
      FROM events GROUP BY 1),
    pr AS (
      SELECT a.s AS x, b.s AS y
      FROM dd a JOIN dd b ON b.d = a.d + 1),
    m AS (
      SELECT count(*) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             -- CAST one operand to DECIMAL(19,6): DuckDB multiplies
             -- DECIMAL(18)x(18) on INT64 (overflows); width 19 forces
             -- INT128. Values identical to Spark's (18,6)x(18,6).
             CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE) AS syy
      FROM pr)
    SELECT n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS autocorr_lag1
    FROM m
    """,
)
def ev_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event revenue: Pearson r over
    (day_t, day_t+1) pairs — the persistence check behind trend alerts
    and forecasting-readiness scoring. Calendar gaps pair nothing (the
    join key is d+1), matching the time-series definition on an
    irregular series.

    Exactness: daily sums are exact DECIMAL(18,6); all five moments are
    exact DECIMAL sums (products at DECIMAL(18,6)^2 = DECIMAL(37,12) —
    inside both engines' 38-digit ceiling); Pearson r is a single
    identically-parenthesized double expression, round-6. NO window
    function anywhere — the lag is an equi-join on d+1, so the whole
    plan is shuffle-on-date and scales to any series length.

    Reference analogue: none."""
    events = _t(spark, sf_dir, "events")
    dd = events.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("s")
    )
    a, b = dd.alias("a"), dd.alias("b")
    pr = a.join(
        b, F.col("b.d") == F.date_add(F.col("a.d"), 1)
    ).select(F.col("a.s").alias("x"), F.col("b.s").alias("y"))
    # (18,6)*(18,6) -> (37,12): inside BOTH engines' 38-digit ceiling
    # with no precision adjustment (Spark rounds products only past 38).
    x, y = F.col("x"), F.col("y")
    m = pr.agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "n",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("autocorr_lag1"),
    )


# ---------------------------------------------------------------------------
# ev_ewma_daily: truncated-kernel exponential smoothing of daily revenue
# ---------------------------------------------------------------------------

EWMA_K = 8  # trailing kernel length (days)
# alpha = 1/2: decay weights 0.5^k are exact both in binary floating
# point AND in DECIMAL(10,8) (0.5^7 = 0.00781250), so the kernel is
# representable bit-identically everywhere.
EWMA_WEIGHTS = [0.5**k for k in range(EWMA_K)]


@query(
    "ev_ewma_daily",
    f"""
    WITH dd AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS s
      FROM events GROUP BY 1),
    c AS (
      SELECT dd.d + CAST(r.range AS INTEGER) AS t, dd.s,
             CAST(power(0.5, r.range) AS DECIMAL(10,8)) AS w
      FROM dd, range(0, {EWMA_K}) r),
    e AS (
      SELECT c.t AS d,
             CAST(sum(CAST(c.s AS DECIMAL(19,6)) * c.w) AS DOUBLE) AS num,
             CAST(sum(CAST(c.w AS DECIMAL(12,8))) AS DOUBLE) AS den
      FROM c JOIN (SELECT d FROM dd) ex ON c.t = ex.d
      GROUP BY 1)
    SELECT d AS day, round(num / den, 6) AS ewma
    FROM e ORDER BY day
    """,
)
def ev_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event revenue with
    alpha = 1/2 and an 8-day truncated kernel (0.5^8 < 0.4% — the tail
    beyond the truncation is noise), weights renormalized over the days
    actually present so calendar gaps don't dilute the average — the
    smoothed-trend line behind every dashboard sparkline and the
    anomaly-detection baseline EW control charts use.

    Implemented as a SCATTER join, not a window: each day broadcasts its
    contribution forward to the next K calendar days (8-row explode),
    then one grouped exact-DECIMAL reduction per target day. No ordered
    window, no single-partition funnel — the recursive EWMA definition
    is re-expressed as a bounded convolution, which is the
    shuffle-friendly form (state never crosses more than K days).

    Exactness: daily sums DECIMAL(18,6); weights 0.5^k exact in
    DECIMAL(10,8) (alpha chosen so the kernel is finitely representable
    in decimal); products DECIMAL(29,14) exact; the single division goes
    double at the end, round-6. Reference analogue: none."""
    events = _t(spark, sf_dir, "events")
    dd = events.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("s")
    )
    kernel = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.lit(w).cast("decimal(10,8)").alias("w"),
            )
            for k, w in enumerate(EWMA_WEIGHTS)
        ]
    )
    c = dd.select(
        "d", "s", F.explode(kernel).alias("kw")
    ).select(
        F.date_add(F.col("d"), F.col("kw.k")).alias("t"),
        "s",
        F.col("kw.w").alias("w"),
    )
    days = dd.select("d").withColumnRenamed("d", "t")
    e = (
        c.join(days, "t")
        .groupBy("t")
        .agg(
            F.sum(F.col("s") * F.col("w")).cast("double").alias("num"),
            F.sum(F.col("w").cast("decimal(12,8)"))
            .cast("double")
            .alias("den"),
        )
    )
    return e.select(
        F.col("t").alias("day"),
        F.round(F.col("num") / F.col("den"), 6).alias("ewma"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# ev_trend_regression: OLS fit of the daily revenue series
# ---------------------------------------------------------------------------


@query(
    "ev_trend_regression",
    """
    WITH dd AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS s
      FROM events GROUP BY 1),
    mn AS (SELECT min(d) AS d0 FROM dd),
    xy AS (SELECT CAST(d - d0 AS BIGINT) AS x, s FROM dd, mn),
    m AS (
      SELECT count(*) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(s) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS DECIMAL(12,0)) * s) AS DOUBLE) AS sxy,
             CAST(sum(CAST(s AS DECIMAL(19,6)) * s) AS DOUBLE) AS syy
      FROM xy)
    SELECT n AS n_days,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """,
)
def ev_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS trend of daily event revenue — slope (revenue change per
    day), intercept, and R^2 over (day index, daily sum) — the "is the
    metric actually growing, and how linearly" line a dashboard fits
    under its sparkline, and the degenerate-case guard for forecasts
    (low R^2 -> don't extrapolate).

    Exactness: day index x = datediff from the series minimum (exact
    int); all five moments are exact (integer or DECIMAL sums — x*s at
    DECIMAL(12,0)x(18,6), s*s at 37 digits); slope/intercept/R^2 are
    closed-form double expressions with identical parenthesization,
    round-6.

    Scale: one grouped daily reduction, a broadcast 1-row min, one
    scalar aggregate — combiner-only traffic, no window, no sort.
    Reference analogue: none."""
    events = _t(spark, sf_dir, "events")
    dd = events.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("s")
    )
    mn = dd.agg(F.min("d").alias("d0"))
    xy = dd.crossJoin(F.broadcast(mn)).select(
        F.datediff("d", "d0").cast("bigint").alias("x"), "s"
    )
    x, s = F.col("x"), F.col("s")
    m = xy.agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(s).cast("double").alias("sy"),
        F.sum(x.cast("decimal(12,0)") * s).cast("double").alias("sxy"),
        F.sum(s * s).cast("double").alias("syy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, sxy, syy = F.col("sy"), F.col("sxy"), F.col("syy")
    num = n * sxy - sx * sy
    return m.select(
        n.alias("n_days"),
        F.round(num / (n * sxx - sx * sx), 6).alias("slope"),
        F.round(
            (sy - num / (n * sxx - sx * sx) * sx) / n, 6
        ).alias("intercept"),
        F.round(
            (num * num) / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# qa_welch_t: Welch's unequal-variance t-test (means companion to the KS
# distribution test, same two samples)
# ---------------------------------------------------------------------------


@query(
    "qa_welch_t",
    """
    WITH s AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g,
             CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    m AS (
      SELECT g, count(*) AS n,
             CAST(sum(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS sc,
             CAST(sum(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS sc2
      FROM s GROUP BY g),
    w AS (
      SELECT a.n AS n1, b.n AS n2,
             a.sc / a.n / 100 AS m1, b.sc / b.n / 100 AS m2,
             (a.sc2 - a.sc * a.sc / a.n) / (a.n - 1) / 10000 AS v1,
             (b.sc2 - b.sc * b.sc / b.n) / (b.n - 1) / 10000 AS v2
      FROM m a, m b WHERE a.g = 1 AND b.g = 2)
    SELECT n1, n2, round(m1, 6) AS mean_1, round(m2, 6) AS mean_2,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
           round(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS welch_df
    FROM w
    """,
)
def qa_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic (+ Welch-Satterthwaite df)
    comparing mean order value of URGENT vs LOW priority orders — the
    means companion to qa_ks_two_sample's distribution test; together
    they are the standard A/B readout.

    Exactness: prices quantized to exact integer cents; per-group sums
    and sum-of-squares are exact DECIMAL(38,0) (cents^2 fits BIGINT per
    row; the 38-digit sum never overflows); mean/variance/t/df are
    identically-parenthesized double expressions, round-6.

    Scale: one grouped reduction (2 groups) over a pushed-down scan —
    map-side combine does everything; the final frame is 2 rows joined
    to itself. Reference analogue: none."""
    orders = _t(spark, sf_dir, "orders")
    s = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(2)
        .alias("g"),
        (F.col("o_totalprice").cast("decimal(30,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    c = F.col("c")
    m = s.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(c.cast("decimal(38,0)")).cast("double").alias("sc"),
        F.sum((c * c).cast("decimal(38,0)")).cast("double").alias("sc2"),
    )
    a = m.filter(F.col("g") == 1).select(
        F.col("n").alias("n1"), F.col("sc").alias("sca"),
        F.col("sc2").alias("sc2a"),
    )
    b = m.filter(F.col("g") == 2).select(
        F.col("n").alias("n2"), F.col("sc").alias("scb"),
        F.col("sc2").alias("sc2b"),
    )
    w = a.crossJoin(F.broadcast(b))
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = F.col("sca") / n1 / 100
    m2 = F.col("scb") / n2 / 100
    v1 = (F.col("sc2a") - F.col("sca") * F.col("sca") / n1) / (n1 - 1) / 10000
    v2 = (F.col("sc2b") - F.col("scb") * F.col("scb") / n2) / (n2 - 1) / 10000
    se2 = v1 / n1 + v2 / n2
    return w.select(
        "n1",
        "n2",
        F.round(m1, 6).alias("mean_1"),
        F.round(m2, 6).alias("mean_2"),
        F.round((m1 - m2) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            (se2 * se2)
            / (
                (v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)
            ),
            6,
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# qa_mann_whitney: rank-based two-sample test (robust to heavy tails)
# ---------------------------------------------------------------------------


@query(
    "qa_mann_whitney",
    """
    WITH s AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    pv AS (
      SELECT v,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS d1,
             CAST(count(*) AS BIGINT) AS cnt
      FROM s GROUP BY v),
    cum AS (
      SELECT d1, cnt,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cbefore
      FROM pv),
    agg AS (
      SELECT CAST(sum(d1) AS BIGINT) AS n1,
             CAST(sum(cnt - d1) AS BIGINT) AS n2,
             CAST(sum(d1 * (2 * cbefore + cnt + 1)) AS BIGINT) AS two_r1,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
      FROM cum),
    u AS (
      SELECT n1, n2, ties, n1 + n2 AS n,
             (two_r1 - n1 * (n1 + 1)) / 2.0 AS u1
      FROM agg)
    SELECT n1, n2, round(u1, 6) AS u1,
           round(n1 * CAST(n2 AS DOUBLE) - u1, 6) AS u2,
           round((u1 - n1 * CAST(n2 AS DOUBLE) / 2)
                 / sqrt(n1 * CAST(n2 AS DOUBLE) / 12
                        * ((n + 1) - CAST(ties AS DOUBLE) / (n * (n - 1.0)))),
                 6) AS z
    FROM u
    """,
)
def qa_mann_whitney(
    spark: SparkSession, sf_dir: str, scale_safe: bool = False
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) with midrank tie handling and
    the tie-corrected normal approximation z — the heavy-tail-robust
    alternative to qa_welch_t on the same two samples; a drift monitor
    runs both because a mean shift and a stochastic-dominance shift are
    different alarms.

    Exactness: rank sums stay INTEGER throughout via the doubled-rank
    trick (2*R1 = sum d1*(2*c_before + cnt + 1) — midranks are halves,
    so doubling keeps every accumulation exact BIGINT); U1/U2/z go
    double only in the final expressions (u1 may end in .5 — exact in
    binary). The tie correction sums t^3 - t per tied group, exactly.

    Scale: same shape as qa_ks_two_sample — the window cumsum runs over
    the DISTINCT-value frame; default keeps the single-partition window
    (bit-exact oracle twin), ``scale_safe=True`` routes through
    two_phase_cumsum. Reference analogue: none."""
    orders = _t(spark, sf_dir, "orders")
    s = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(2)
        .alias("g"),
    )
    pv = s.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("d1"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    if resolve_scale_safe(pv, scale_safe):
        cumf, _ = two_phase_cumsum(pv, ["v"], "cnt", "cincl")
        cum = cumf.select(
            "d1", "cnt", (F.col("cincl") - F.col("cnt")).alias("cbefore")
        )
    else:
        w = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, -1
        )
        cum = pv.select(
            "d1",
            "cnt",
            F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cbefore"),
        )
    d1, cnt, cb = F.col("d1"), F.col("cnt"), F.col("cbefore")
    agg = cum.agg(
        F.sum(d1).cast("bigint").alias("n1"),
        F.sum(cnt - d1).cast("bigint").alias("n2"),
        F.sum(d1 * (2 * cb + cnt + 1)).cast("bigint").alias("two_r1"),
        F.sum(cnt * cnt * cnt - cnt).cast("bigint").alias("ties"),
    )
    n1, n2, ties = F.col("n1"), F.col("n2"), F.col("ties")
    n = n1 + n2
    u1 = (F.col("two_r1") - n1 * (n1 + 1)) / 2.0
    n2d = n2.cast("double")
    return agg.select(
        "n1",
        "n2",
        F.round(u1, 6).alias("u1"),
        F.round(n1 * n2d - u1, 6).alias("u2"),
        F.round(
            (u1 - n1 * n2d / 2)
            / F.sqrt(
                n1 * n2d / 12
                * ((n + 1) - ties.cast("double") / (n * (n - 1.0)))
            ),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# ev_cusum_daily: CUSUM change-point detection on the daily series
# ---------------------------------------------------------------------------


@query(
    "ev_cusum_daily",
    """
    WITH dd AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS s
      FROM events GROUP BY 1),
    tot AS (SELECT count(*) AS n,
                   CAST(sum(CAST(s AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS t
            FROM dd),
    dev AS (
      -- scaled deviation n*x_t - T is exact DECIMAL (true deviation
      -- x_t - mean times n, avoiding the inexact mean division)
      SELECT d, CAST(n * CAST(s AS DECIMAL(28,6)) - t AS DECIMAL(38,6))
                  AS dv, n
      FROM dd, tot),
    c AS (
      SELECT d, n,
             CAST(sum(dv) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,6)) AS cum
      FROM dev),
    r AS (
      SELECT d, n, cum,
             CAST(least(min(cum) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               CAST(0 AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS runmin
      FROM c)
    SELECT d AS day,
           round(CAST(cum AS DOUBLE) / n, 6) AS cum_dev,
           round(CAST(cum - runmin AS DOUBLE) / n, 6) AS cusum_pos
    FROM r ORDER BY day
    """,
)
def ev_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection on daily revenue: the classic
    recursive statistic S_t = max(0, S_{t-1} + (x_t - mean)) re-expressed
    in closed form as C_t - min(0, min_{j<=t} C_j) over the deviation
    cumsum C — recursion becomes two windowed aggregates, which is the
    distributed-friendly form. A sustained upward level shift makes
    cusum_pos climb; the alarm threshold is the consumer's choice.

    Exactness: deviations are computed SCALED by n (n*x_t - total), so
    the inexact mean division never enters the accumulation — every
    cumsum/min is exact DECIMAL; the /n unscaling happens once, in the
    final double, round-6.

    Scale note: the ordered windows run over the DAILY frame, whose
    cardinality is calendar days — invariant in data volume (100 TB of
    events is still ~365 rows/year here), so the unpartitioned window is
    bounded by construction, unlike value-cardinality frames (those get
    scale_safe switches). Reference analogue: none."""
    events = _t(spark, sf_dir, "events")
    dd = events.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("s")
    )
    tot = dd.agg(
        F.count("*").alias("n"),
        F.sum(F.col("s").cast("decimal(28,6)"))
        .cast("decimal(28,6)")
        .alias("t"),
    )
    dev = dd.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        (F.col("n") * F.col("s").cast("decimal(28,6)") - F.col("t"))
        .cast("decimal(38,6)")
        .alias("dv"),
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = dev.select(
        "d", "n", F.sum("dv").over(w).cast("decimal(38,6)").alias("cum")
    )
    r = c.select(
        "d",
        "n",
        "cum",
        F.least(
            F.min("cum").over(w),
            F.lit(0).cast("decimal(38,6)"),
        )
        .cast("decimal(38,6)")
        .alias("runmin"),
    )
    return r.select(
        F.col("d").alias("day"),
        F.round(F.col("cum").cast("double") / F.col("n"), 6).alias(
            "cum_dev"
        ),
        F.round(
            (F.col("cum") - F.col("runmin")).cast("double") / F.col("n"), 6
        ).alias("cusum_pos"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# qa_anova_segments: one-way ANOVA across market segments
# ---------------------------------------------------------------------------


@query(
    "qa_anova_segments",
    """
    WITH s AS (
      SELECT c.c_mktsegment AS g,
             CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    m AS (
      SELECT g, count(*) AS n,
             CAST(sum(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS sc,
             CAST(sum(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS sc2
      FROM s GROUP BY g),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n,
             sum(sc) AS st, sum(sc2) AS sq,
             sum(sc * sc / n) AS sg
      FROM m),
    f AS (
      SELECT k, n,
             (sg - st * st / n) AS ssb,
             (sq - sg) AS ssw
      FROM t)
    SELECT k, n, CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
           round((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat,
           round(ssb / (ssb + ssw), 6) AS eta_squared
    FROM f
    """,
)
def qa_anova_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the five market segments —
    the k-group generalization of qa_welch_t (F statistic + eta-squared
    effect size): does ANY segment's mean spend differ? The third member
    of the parametric test family (t -> ANOVA -> chi-square), completing
    the drift monitor's standard battery.

    Exactness: integer-cents per-group sums and sum-of-squares (exact
    DECIMAL); SSB/SSW come from the sum-of-squares identities
    SSB = sum(S_g^2/n_g) - S^2/N, SSW = sum(Q_g) - sum(S_g^2/n_g) —
    per-group double terms with identical shape, summed over the
    5-row group frame (order-independent at this magnitude spread is NOT
    assumed: the sums are over k=5 identically-computed doubles, and the
    engines iterate the same 5-row frame — pinned by the oracle sweep);
    F and eta^2 are final double expressions, round-6.

    Scale: one grouped reduction over the broadcast-joined fact, then a
    5-row scalar fold. Reference analogue: none."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    s = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == customer.c_custkey,
    ).select(
        F.col("c_mktsegment").alias("g"),
        (F.col("o_totalprice").cast("decimal(30,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    c = F.col("c")
    m = s.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(c.cast("decimal(38,0)")).cast("double").alias("sc"),
        F.sum((c * c).cast("decimal(38,0)")).cast("double").alias("sc2"),
    )
    t = m.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sc").alias("st"),
        F.sum("sc2").alias("sq"),
        F.sum(F.col("sc") * F.col("sc") / F.col("n")).alias("sg"),
    )
    k, n = F.col("k"), F.col("n")
    ssb = F.col("sg") - F.col("st") * F.col("st") / n
    ssw = F.col("sq") - F.col("sg")
    return t.select(
        "k",
        "n",
        (k - 1).cast("bigint").alias("df1"),
        (n - k).cast("bigint").alias("df2"),
        F.round((ssb / (k - 1)) / (ssw / (n - k)), 6).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# ev_seasonal_decompose: additive trend/seasonal/residual decomposition
# ---------------------------------------------------------------------------


@query(
    "ev_seasonal_decompose",
    """
    WITH dd AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST((CAST(ts AS DATE) - DATE '1970-01-05') AS BIGINT) % 7
               AS dow,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS s
      FROM events GROUP BY 1, 2),
    tr AS (
      SELECT d, dow, s,
             round(CAST(sum(CAST(s AS DECIMAL(28,6))) OVER w AS DOUBLE)
                   / 7, 6) AS trend,
             count(*) OVER w AS wn
      FROM dd
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    dev AS (
      SELECT d, dow, s, trend,
             CAST(round(CAST(s AS DOUBLE) - trend, 6) AS DECIMAL(18,6))
               AS dv
      FROM tr WHERE wn = 7),
    se AS (
      SELECT dow, round(CAST(sum(dv) AS DOUBLE) / count(*), 6) AS raw_se
      FROM dev GROUP BY dow),
    ctr AS (
      SELECT round(CAST(sum(CAST(raw_se AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*), 6) AS adj
      FROM se)
    SELECT dev.d AS day, CAST(dev.dow AS INTEGER) AS dow,
           CAST(dev.s AS DOUBLE) AS observed,
           dev.trend,
           round(se.raw_se - ctr.adj, 6) AS seasonal,
           round(CAST(dev.s AS DOUBLE) - dev.trend
                 - round(se.raw_se - ctr.adj, 6), 6) AS residual
    FROM dev JOIN se USING (dow) CROSS JOIN ctr
    ORDER BY day
    """,
)
def ev_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily revenue into trend
    (centered 7-day moving average), weekday seasonal (mean detrended
    deviation per weekday, centered to sum to zero), and residual —
    observed = trend + seasonal + residual by construction. The
    explainability layer behind a27_dow_seasonal_outliers' screen: the
    outlier test says WHICH days are odd; this shows the components.

    Determinism: the weekday index is the portable epoch formula
    (days since Monday 1970-01-05 mod 7 — no locale-dependent
    dayofweek); every mean is one rounded division over an exact
    DECIMAL sum; edge days without a full 7-day window are excluded
    (wn = 7), matching the classical definition.

    Scale note: all windows/groups run on the DAILY frame — calendar-
    bounded cardinality, same argument as ev_cusum_daily. Reference
    analogue: none."""
    events = _t(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    dd = events.groupBy(
        d.alias("d"),
        (F.datediff(d, F.lit("1970-01-05").cast("date")).cast("bigint") % 7)
        .alias("dow"),
    ).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("s")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = dd.select(
        "d",
        "dow",
        "s",
        F.round(
            F.sum(F.col("s").cast("decimal(28,6)")).over(w).cast("double")
            / 7,
            6,
        ).alias("trend"),
        F.count("*").over(w).alias("wn"),
    )
    dev = tr.filter(F.col("wn") == 7).select(
        "d",
        "dow",
        "s",
        "trend",
        F.round(F.col("s").cast("double") - F.col("trend"), 6)
        .cast("decimal(18,6)")
        .alias("dv"),
    )
    se = dev.groupBy("dow").agg(
        F.round(
            F.sum("dv").cast("double") / F.count("*"), 6
        ).alias("raw_se")
    )
    ctr = se.agg(
        F.round(
            F.sum(F.col("raw_se").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("adj")
    )
    seasonal = F.round(F.col("raw_se") - F.col("adj"), 6)
    return (
        dev.join(F.broadcast(se), "dow")
        .crossJoin(F.broadcast(ctr))
        .select(
            F.col("d").alias("day"),
            F.col("dow").cast("int").alias("dow"),
            F.col("s").cast("double").alias("observed"),
            "trend",
            seasonal.alias("seasonal"),
            F.round(
                F.col("s").cast("double") - F.col("trend") - seasonal, 6
            ).alias("residual"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# ev_forecast_backtest: naive / seasonal-naive one-step backtest
# ---------------------------------------------------------------------------


@query(
    "ev_forecast_backtest",
    """
    WITH dd AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                  AS DECIMAL(18,6)) AS s
      FROM events GROUP BY 1),
    u AS (
      SELECT 'naive_1' AS model, a.s AS actual, b.s AS fc
      FROM dd a JOIN dd b ON a.d = b.d + 1
      UNION ALL
      SELECT 'seasonal_7', a.s, b.s
      FROM dd a JOIN dd b ON a.d = b.d + 7),
    t AS (
      SELECT model,
             CAST(abs(actual - fc) AS DECIMAL(19,6)) AS ae,
             CAST(round(CAST(abs(actual - fc) AS DOUBLE)
                        / CAST(actual AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS ape,
             CAST(round(2 * CAST(abs(actual - fc) AS DOUBLE)
                        / (CAST(actual AS DOUBLE) + CAST(fc AS DOUBLE)),
                        6)
                  AS DECIMAL(18,6)) AS sape
      FROM u)
    SELECT model, count(*) AS n_days,
           round(CAST(sum(ae) AS DOUBLE) / count(*), 6) AS mae,
           round(CAST(sum(ape) AS DOUBLE) / count(*), 6) AS mape,
           round(CAST(sum(sape) AS DOUBLE) / count(*), 6) AS smape
    FROM t GROUP BY model ORDER BY model
    """,
)
def ev_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead forecast BACKTEST of the daily revenue series for
    the two standard baselines every forecasting effort must beat:
    naive (yesterday's value) and seasonal-naive (same weekday last
    week), scored by MAE / MAPE / sMAPE — the evaluation harness half
    of forecasting, complementing the model-side tier (ev_ewma_daily,
    ev_trend_regression, ev_seasonal_decompose).

    Same exactness discipline as ev_autocorr_daily: daily sums and
    absolute errors are exact DECIMAL; the two ratio metrics round each
    day's term to 6 BEFORE the exact decimal mean (the LM-scoring
    pattern — one documented quantization instead of an order-dependent
    float sum); lags are d+1 / d+7 equi-joins, window-free, so calendar
    gaps pair nothing and the plan shuffles on date only. The fixture's
    revenue is strictly positive, so MAPE's division is total."""
    events = _t(spark, sf_dir, "events")
    dd = events.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("s")
    )

    def lagged(days: int, model: str) -> DataFrame:
        a, b = dd.alias("a"), dd.alias("b")
        return a.join(
            b, F.col("a.d") == F.date_add(F.col("b.d"), days)
        ).select(
            F.lit(model).alias("model"),
            F.col("a.s").alias("actual"),
            F.col("b.s").alias("fc"),
        )

    u = lagged(1, "naive_1").unionAll(lagged(7, "seasonal_7"))
    act_d = F.col("actual").cast("double")
    fc_d = F.col("fc").cast("double")
    abs_d = F.abs(F.col("actual") - F.col("fc")).cast("double")
    t = u.select(
        "model",
        F.abs(F.col("actual") - F.col("fc"))
        .cast("decimal(19,6)")
        .alias("ae"),
        F.round(abs_d / act_d, 6).cast("decimal(18,6)").alias("ape"),
        F.round(F.lit(2) * abs_d / (act_d + fc_d), 6)
        .cast("decimal(18,6)")
        .alias("sape"),
    )
    return (
        t.groupBy("model")
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.sum("ae").cast("double") / F.count("*"), 6).alias(
                "mae"
            ),
            F.round(F.sum("ape").cast("double") / F.count("*"), 6).alias(
                "mape"
            ),
            F.round(F.sum("sape").cast("double") / F.count("*"), 6).alias(
                "smape"
            ),
        )
        .orderBy("model")
    )


# ---------------------------------------------------------------------------
# qa_wilson_ci: Wilson score interval for per-segment proportions
# ---------------------------------------------------------------------------

WILSON_Z = 1.959963984540054  # 97.5th normal quantile, repr-exact


@query(
    "qa_wilson_ci",
    f"""
    WITH g AS (
      SELECT c_mktsegment AS segment, count(*) AS n,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_success
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1),
    m AS (
      SELECT segment, n, n_success,
             CAST(n_success AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             CAST('{WILSON_Z}' AS DOUBLE) AS z
      FROM g)
    SELECT segment, n, n_success, round(p, 6) AS p_hat,
           round((p + z * z / (2 * n)
                  - z * sqrt((p * (1 - p) + z * z / (4 * n)) / n))
                 / (1 + z * z / n), 6) AS ci_lo,
           round((p + z * z / (2 * n)
                  + z * sqrt((p * (1 - p) + z * z / (4 * n)) / n))
                 / (1 + z * z / n), 6) AS ci_hi
    FROM m ORDER BY segment
    """,
)
def qa_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% WILSON score interval for the finalized-order share per
    market segment — the binomial-proportion CI that stays inside [0,1]
    and behaves at small n, the standard for conversion/defect-rate
    reporting (and the corrected replacement for the Wald interval a
    naive dashboard ships). Completes the inference tier: the qa_*
    tests decide "is there an effect", this reports "how precisely do
    we know the rate".

    Exactness: counts are exact; p and every interval term are ONE
    identically-parenthesized double expression in both engines (IEEE
    ops and sqrt are correctly rounded, so matching operand order means
    matching bits — the module-wide float discipline), z enters through
    repr-exact string parsing, outputs round-6."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    g = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("n_success"),
        )
    )
    p = F.col("n_success").cast("double") / F.col("n").cast("double")
    z = F.lit(WILSON_Z)
    n = F.col("n")
    m = g.select("segment", "n", "n_success", p.alias("p"), z.alias("z"))
    pp, zz, nn = F.col("p"), F.col("z"), F.col("n")
    center = pp + zz * zz / (2 * nn)
    half = zz * F.sqrt((pp * (1 - pp) + zz * zz / (4 * nn)) / nn)
    denom = 1 + zz * zz / nn
    return m.select(
        "segment",
        "n",
        "n_success",
        F.round(pp, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# qa_higher_moments: exact population skewness / excess kurtosis
# ---------------------------------------------------------------------------


@query(
    "qa_higher_moments",
    """
    WITH m AS (
      SELECT event_type,
             CAST(CAST(round(value, 3) AS DECIMAL(18,3)) * 1000
                  AS BIGINT) AS mi
      FROM events),
    p AS (
      SELECT event_type, mi, mi * mi AS mi2 FROM m),
    a AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(mi AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(sum(CAST(mi2 AS DECIMAL(38,0))) AS DOUBLE) AS s2,
             CAST(sum(CAST(mi2 AS DECIMAL(19,0))
                      * CAST(mi AS DECIMAL(19,0))) AS DOUBLE) AS s3,
             CAST(sum(CAST(mi2 AS DECIMAL(19,0))
                      * CAST(mi2 AS DECIMAL(19,0))) AS DOUBLE) AS s4
      FROM p GROUP BY 1),
    c AS (
      SELECT event_type, n,
             s1 / n AS mu, s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
      FROM a)
    SELECT event_type, n,
           round(mu / 1000, 6) AS mean,
           round(sqrt(r2 - mu * mu) / 1000, 6) AS std_pop,
           round((r3 - 3 * mu * r2 + 2 * mu * mu * mu)
                 / pow(sqrt(r2 - mu * mu), 3), 6) AS skewness,
           round((r4 - 4 * mu * r3 + 6 * mu * mu * r2
                  - 3 * mu * mu * mu * mu)
                 / pow(r2 - mu * mu, 2) - 3, 6) AS kurtosis_excess
    FROM c ORDER BY event_type
    """,
)
def qa_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact POPULATION skewness and excess kurtosis of event values per
    type — the tail-shape panel behind distribution-drift triage (PSI
    says "it moved"; these say "it grew a tail"). Built-in skewness()/
    kurtosis() differ between engines in bias convention and float
    order, so both sides compute from the same four raw power sums:
    values quantized to EXACT integer milli-units, mi^2 in BIGINT
    (2.5e11 max), mi^3/mi^4 as DECIMAL(19)x(19) products summed at
    DECIMAL(38) (6.25e22/row x 600k rows ~ 4e28, inside headroom), all
    order-independent; the central-moment assembly is one
    identically-parenthesized double expression (skew/kurtosis are
    scale-free, so milli-units need no unscaling; mean/std divide once
    by 1000). Same integer-quantization discipline as
    ev_winsorized_stats."""
    events = _t(spark, sf_dir, "events")
    mi = (
        F.round("value", 3).cast("decimal(18,3)") * 1000
    ).cast("bigint")
    p = events.select(
        "event_type", mi.alias("mi"), (mi * mi).alias("mi2")
    )
    a = p.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("mi").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(F.col("mi2").cast("decimal(38,0)")).cast("double").alias("s2"),
        F.sum(
            F.col("mi2").cast("decimal(19,0)")
            * F.col("mi").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("s3"),
        F.sum(
            F.col("mi2").cast("decimal(19,0)")
            * F.col("mi2").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    c = a.select(
        "event_type",
        "n",
        (F.col("s1") / n).alias("mu"),
        (F.col("s2") / n).alias("r2"),
        (F.col("s3") / n).alias("r3"),
        (F.col("s4") / n).alias("r4"),
    )
    mu, r2, r3, r4 = (F.col(x) for x in ("mu", "r2", "r3", "r4"))
    return c.select(
        "event_type",
        "n",
        F.round(mu / 1000, 6).alias("mean"),
        F.round(F.sqrt(r2 - mu * mu) / 1000, 6).alias("std_pop"),
        F.round(
            (r3 - 3 * mu * r2 + 2 * mu * mu * mu)
            / F.pow(F.sqrt(r2 - mu * mu), 3),
            6,
        ).alias("skewness"),
        F.round(
            (r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu)
            / F.pow(r2 - mu * mu, 2)
            - 3,
            6,
        ).alias("kurtosis_excess"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# qa_fdr_bh_segments: multiple-testing correction over the per-segment
# Welch family (Benjamini-Hochberg FDR at q = 0.1)
# ---------------------------------------------------------------------------

def _phi_tail(x: str) -> str:
    """1 - Phi(x) for x >= 0: the Zelen & Severo / Abramowitz-Stegun
    26.2.17 polynomial (|eps| < 7.5e-8), in Horner form with every
    constant entering via repr-string CAST (the _PR_TP discipline) and
    identical parenthesization — the SAME string evaluates in Spark SQL
    and DuckDB, so the p-values agree bitwise."""
    k = f"(1 / (1 + CAST('0.2316419' AS DOUBLE) * {x}))"
    poly = (
        f"((((CAST('1.330274429' AS DOUBLE) * {k}"
        f" + CAST('-1.821255978' AS DOUBLE)) * {k}"
        f" + CAST('1.781477937' AS DOUBLE)) * {k}"
        f" + CAST('-0.356563782' AS DOUBLE)) * {k}"
        f" + CAST('0.319381530' AS DOUBLE)) * {k}"
    )
    return (
        f"(exp(-({x} * {x}) / 2)"
        f" / CAST('2.5066282746310002' AS DOUBLE)) * ({poly})"
    )


#: Welch z of one segment's order cents against the pooled rest,
#: from exact integer moments (n/s/ss per segment, tn/ts/tss totals).
#: One shared string -> both engines.
_BH_Z = (
    "((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    " - CAST(ts - s AS DOUBLE) / CAST(tn - n AS DOUBLE))"
    " / sqrt("
    "   ((CAST(ss AS DOUBLE)"
    "     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    "    / (CAST(n AS DOUBLE) - 1)) / CAST(n AS DOUBLE)"
    "   + ((CAST(tss - ss AS DOUBLE)"
    "       - CAST(ts - s AS DOUBLE) * CAST(ts - s AS DOUBLE)"
    "         / CAST(tn - n AS DOUBLE))"
    "      / (CAST(tn - n AS DOUBLE) - 1)) / CAST(tn - n AS DOUBLE)))"
)

_BH_P = f"2 * ({_phi_tail('abs(z)')})"

_BH_Q = "CAST('0.1' AS DOUBLE)"  # target false-discovery rate


@query(
    "qa_fdr_bh_segments",
    f"""
    WITH so AS (
      SELECT c_mktsegment AS segment,
             CAST(o_totalprice::DECIMAL(30,2) * 100 AS BIGINT) AS c
      FROM orders JOIN customer ON o_custkey = c_custkey),
    g AS (SELECT segment, count(*) AS n,
                 sum(CAST(c AS DECIMAL(38,0))) AS s,
                 sum(CAST(c * c AS DECIMAL(38,0))) AS ss
          FROM so GROUP BY 1),
    t AS (SELECT sum(n) AS tn, sum(s) AS ts, sum(ss) AS tss,
                 count(*) AS m
          FROM g),
    z AS (SELECT segment, n, m, {_BH_Z} AS z FROM g, t),
    p AS (SELECT segment, n, m, z, {_BH_P} AS p FROM z),
    r AS (SELECT *, row_number() OVER (ORDER BY p, segment) AS bh_rank
          FROM p),
    r2 AS (SELECT *, round(p, 6) AS p6,
                  round(bh_rank * {_BH_Q} / m, 6) AS bh_thr6 FROM r),
    k AS (SELECT max(CASE WHEN p6 <= bh_thr6 THEN bh_rank END) AS kmax
          FROM r2)
    SELECT segment, CAST(n AS BIGINT) AS n, round(z, 6) AS z6,
           p6, CAST(bh_rank AS INTEGER) AS bh_rank, bh_thr6,
           bh_rank <= coalesce(kmax, 0) AS rejected
    FROM r2, k
    ORDER BY bh_rank
    """,
)
def qa_fdr_bh_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR control over a FAMILY of drift tests —
    what a production drift monitor actually ships: running qa_welch_t
    once per segment without correction false-alarms at the family
    rate. Five hypotheses (each market segment's order value vs the
    pooled rest, Welch z from one grouped pass of exact integer cents
    moments — per-segment n/sum/sum-of-squares plus subtracted totals,
    so 'rest' statistics cost nothing), two-sided p via the
    Abramowitz-Stegun 26.2.17 normal-tail polynomial (identical
    repr-CAST string in both engines -> bitwise-equal p-values), then
    the BH step-up: rank p ascending, threshold rank*q/m at q=0.1,
    reject every rank up to the largest passing one.

    The 5-row hypothesis frame is the ONLY window scope
    (GLOBAL_WINDOW_ALLOWED: bounded by the segment domain); the rest is
    one map-side-combinable aggregation over the pushed-down
    orders-customer broadcast join — at 100 TB this is a single
    corpus pass + 5-row driver-free postprocessing. kmax comes from a
    1-row aggregate cross join, not a second window. Reference
    analogue: none."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    so = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select(
        "segment",
        (F.col("o_totalprice").cast("decimal(30,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    g = so.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("ss"),
    )
    t = g.agg(
        F.sum("n").alias("tn"),
        F.sum("s").alias("ts"),
        F.sum("ss").alias("tss"),
        F.count("*").alias("m"),
    )
    z = g.crossJoin(F.broadcast(t)).selectExpr(
        "segment", "n", "m", f"{_BH_Z} AS z"
    )
    p = z.selectExpr("segment", "n", "m", "z", f"{_BH_P} AS p")
    w = Window.orderBy("p", "segment")  # 5-row hypothesis frame (BH)
    # ADVICE r9: the rejection decision is derived from the SAME
    # 6-dp-rounded p/thr values the output emits (both engines), so the
    # emitted rows can never contradict their own `rejected` flag.
    r2 = p.withColumn("bh_rank", F.row_number().over(w)).selectExpr(
        "*",
        "round(p, 6) AS p6",
        f"round(bh_rank * {_BH_Q} / m, 6) AS bh_thr6",
    )
    k = r2.agg(
        F.max(
            F.when(F.col("p6") <= F.col("bh_thr6"), F.col("bh_rank"))
        ).alias("kmax")
    )
    return (
        r2.crossJoin(F.broadcast(k))
        .select(
            "segment",
            F.col("n").cast("bigint").alias("n"),
            F.round("z", 6).alias("z6"),
            "p6",
            F.col("bh_rank").cast("int").alias("bh_rank"),
            "bh_thr6",
            (F.col("bh_rank") <= F.coalesce("kmax", F.lit(0))).alias(
                "rejected"
            ),
        )
        .orderBy("bh_rank")
    )


# ---------------------------------------------------------------------------
# qa_fdr_bh_spike_in: spike-in calibration of the BH FDR machinery
# (VERDICT r9 ask #6 — a family where the step-up genuinely separates)
# ---------------------------------------------------------------------------

#: Planted shift tiers in value-cents ($0.00 / $3 / $12 / $48): one
#: true null + three effect sizes chosen so the borderline tier's
#: rejection is genuinely scale-dependent (the 300-cent shift needs
#: ~sf0.1's n to clear the threshold).
_SPIKE_DELTAS = (0, 300, 1200, 4800)

#: Welch z between the odd-event_id half (mean shifted by the planted
#: `dc` cents) and the even half, from exact integer cents moments
#: (nx/sx/ssx vs ny/sy/ssy). One shared string -> both engines; the
#: shift moves only the mean (variance of a constant shift is zero).
_SPIKE_Z = (
    "((CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE) + CAST(dc AS DOUBLE)"
    " - CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE))"
    " / sqrt("
    "   ((CAST(ssx AS DOUBLE)"
    "     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE))"
    "    / (CAST(nx AS DOUBLE) - 1)) / CAST(nx AS DOUBLE)"
    "   + ((CAST(ssy AS DOUBLE)"
    "       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE))"
    "      / (CAST(ny AS DOUBLE) - 1)) / CAST(ny AS DOUBLE)))"
)


@query(
    "qa_fdr_bh_spike_in",
    f"""
    WITH e AS (
      SELECT event_type, CAST(event_id % 2 AS INTEGER) AS par,
             CAST(value::DECIMAL(30,2) * 100 AS BIGINT) AS c
      FROM events),
    g AS (SELECT event_type, par, count(*) AS n,
                 sum(CAST(c AS DECIMAL(38,0))) AS s,
                 sum(CAST(c * c AS DECIMAL(38,0))) AS ss
          FROM e GROUP BY 1, 2),
    w AS (SELECT x.event_type AS event_type,
                 x.n AS nx, x.s AS sx, x.ss AS ssx,
                 y.n AS ny, y.s AS sy, y.ss AS ssy
          FROM g x JOIN g y ON x.event_type = y.event_type
          WHERE x.par = 1 AND y.par = 0),
    d AS (SELECT unnest([{', '.join(str(d) for d in _SPIKE_DELTAS)}]) AS dc),
    z0 AS (SELECT event_type, dc, nx + ny AS n, {_SPIKE_Z} AS z
           FROM w, d),
    t AS (SELECT count(*) AS m FROM z0),
    p0 AS (SELECT event_type, dc, n, m, z, {_BH_P} AS p FROM z0, t),
    r AS (SELECT *, row_number() OVER (ORDER BY p, event_type, dc)
                    AS bh_rank
          FROM p0),
    r2 AS (SELECT *, round(p, 6) AS p6,
                  round(bh_rank * {_BH_Q} / m, 6) AS bh_thr6 FROM r),
    k AS (SELECT max(CASE WHEN p6 <= bh_thr6 THEN bh_rank END) AS kmax
          FROM r2)
    SELECT event_type, CAST(dc AS INTEGER) AS delta_cents,
           CAST(n AS BIGINT) AS n, round(z, 6) AS z6, p6,
           CAST(bh_rank AS INTEGER) AS bh_rank, bh_thr6,
           bh_rank <= coalesce(kmax, 0) AS rejected
    FROM r2, k
    ORDER BY bh_rank
    """,
)
def qa_fdr_bh_spike_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPIKE-IN calibration of the Benjamini-Hochberg machinery — the
    genomics-control pattern applied to a drift monitor: because every
    natural contrast in the synthetic fixture is null by construction
    (measured: segment x quarter and quantity-band families produce
    |z| < 2.6 everywhere, zero rejections at q=0.1 at any scale), the
    only family that can prove the step-up SEPARATES is one with
    planted ground truth. Twenty hypotheses: per event_type (5), the
    odd-event_id half's `value` mean — shifted by a planted delta of
    {{0, 300, 1200, 4800}} cents ($0/$3/$12/$48) — against the even
    half (Welch z from one grouped pass of exact integer cents
    moments). delta=0 rows are true nulls (the halves are random
    splits); delta=4800 always rejects; delta=300 needs ~sf0.1's n —
    so 0 < rejected < m at every scale and
    the BH threshold (rank * q / m, q=0.1) does real work: the
    rejection set tracks effect size x sample size, not membership in
    the family. The decision uses the same 6-dp-rounded p/thr the
    output emits (the qa_fdr_bh_segments discipline), and the A&S
    normal-tail polynomial + repr-CAST constants make p-values
    bitwise-equal across engines.

    Scale: one map-side-combinable aggregation over events (10 groups),
    then a 20-row hypothesis frame — the only window scope
    (GLOBAL_WINDOW_ALLOWED: bounded by event_type x delta domains); m
    comes from a 1-row aggregate cross join. At 100 TB this is a single
    corpus pass + driver-free bounded postprocessing. Reference
    analogue: none."""
    r2 = _spike_in_r2(spark, sf_dir)
    k = r2.agg(
        F.max(
            F.when(F.col("p6") <= F.col("bh_thr6"), F.col("bh_rank"))
        ).alias("kmax")
    )
    return (
        r2.crossJoin(F.broadcast(k))
        .select(
            "event_type",
            F.col("dc").cast("int").alias("delta_cents"),
            F.col("n").cast("bigint").alias("n"),
            F.round("z", 6).alias("z6"),
            "p6",
            F.col("bh_rank").cast("int").alias("bh_rank"),
            "bh_thr6",
            (F.col("bh_rank") <= F.coalesce("kmax", F.lit(0))).alias(
                "rejected"
            ),
        )
        .orderBy("bh_rank")
    )


def _spike_in_r2(spark: SparkSession, sf_dir: str):
    """The spike-in family's ranked hypothesis frame (shared spine of
    qa_fdr_bh_spike_in and qa_fdr_storey_spike_in): 20 Welch tests
    (event_type x planted delta), A&S p-values, BH rank and threshold —
    everything up to the rejection decision."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 2).cast("int").alias("par"),
        (F.col("value").cast("decimal(30,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    g = e.groupBy("event_type", "par").agg(
        F.count("*").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("ss"),
    )
    x = g.filter(F.col("par") == 1).select(
        "event_type",
        F.col("n").alias("nx"),
        F.col("s").alias("sx"),
        F.col("ss").alias("ssx"),
    )
    y = g.filter(F.col("par") == 0).select(
        "event_type",
        F.col("n").alias("ny"),
        F.col("s").alias("sy"),
        F.col("ss").alias("ssy"),
    )
    w = x.join(F.broadcast(y), "event_type")  # 5-row hypothesis spine
    d = spark.createDataFrame(
        [(dc,) for dc in _SPIKE_DELTAS], "dc int"
    )
    z0 = w.crossJoin(F.broadcast(d)).selectExpr(
        "event_type", "dc", "nx + ny AS n", f"{_SPIKE_Z} AS z"
    )
    t = z0.agg(F.count("*").alias("m"))
    p = z0.crossJoin(F.broadcast(t)).selectExpr(
        "event_type", "dc", "n", "m", "z", f"{_BH_P} AS p"
    )
    wbh = Window.orderBy("p", "event_type", "dc")  # 20-row frame (BH)
    return p.withColumn("bh_rank", F.row_number().over(wbh)).selectExpr(
        "*",
        "round(p, 6) AS p6",
        f"round(bh_rank * {_BH_Q} / m, 6) AS bh_thr6",
    )


# ---------------------------------------------------------------------------
# qa_fdr_storey_spike_in: Storey's adaptive FDR over the same spike-in
# family (r11; r12 queue)
# ---------------------------------------------------------------------------

#: Storey's lambda, entering both engines as a repr-CAST literal.
_STOREY_LAMBDA = "CAST('0.5' AS DOUBLE)"

#: pi0_hat = #{p6 > lambda} / ((1 - lambda) * m), clamped to
#: [1/m, 1] (the standard floor stops a zero estimate from zeroing the
#: denominator; the ceiling keeps adaptive BH no more conservative than
#: plain BH). Computed from the EMITTED rounded p6 values — the
#: qa_fdr rounding discipline — as one aggregate over the 20-row frame;
#: ONE shared string evaluated by both engines.
_STOREY_PI0 = (
    "round(greatest(CAST(1 AS DOUBLE) / CAST(max(m) AS DOUBLE),"
    " least(CAST(1 AS DOUBLE),"
    f" CAST(sum(CASE WHEN p6 > {_STOREY_LAMBDA} THEN 1 ELSE 0 END)"
    " AS DOUBLE)"
    f" / ((CAST(1 AS DOUBLE) - {_STOREY_LAMBDA})"
    " * CAST(max(m) AS DOUBLE)))), 6)"
)

#: Adaptive step-up threshold rank*q/(m*pi0) — identical
#: parenthesization in both engines, from the rounded pi0_6.
_STOREY_THR = f"round(bh_rank * {_BH_Q} / (m * pi0_6), 6)"


@query(
    "qa_fdr_storey_spike_in",
    f"""
    WITH e AS (
      SELECT event_type, CAST(event_id % 2 AS INTEGER) AS par,
             CAST(value::DECIMAL(30,2) * 100 AS BIGINT) AS c
      FROM events),
    g AS (SELECT event_type, par, count(*) AS n,
                 sum(CAST(c AS DECIMAL(38,0))) AS s,
                 sum(CAST(c * c AS DECIMAL(38,0))) AS ss
          FROM e GROUP BY 1, 2),
    w AS (SELECT x.event_type AS event_type,
                 x.n AS nx, x.s AS sx, x.ss AS ssx,
                 y.n AS ny, y.s AS sy, y.ss AS ssy
          FROM g x JOIN g y ON x.event_type = y.event_type
          WHERE x.par = 1 AND y.par = 0),
    d AS (SELECT unnest([{', '.join(str(d) for d in _SPIKE_DELTAS)}]) AS dc),
    z0 AS (SELECT event_type, dc, nx + ny AS n, {_SPIKE_Z} AS z
           FROM w, d),
    t AS (SELECT count(*) AS m FROM z0),
    p0 AS (SELECT event_type, dc, n, m, z, {_BH_P} AS p FROM z0, t),
    r AS (SELECT *, row_number() OVER (ORDER BY p, event_type, dc)
                    AS bh_rank
          FROM p0),
    r2 AS (SELECT *, round(p, 6) AS p6,
                  round(bh_rank * {_BH_Q} / m, 6) AS bh_thr6 FROM r),
    pi AS (SELECT {_STOREY_PI0} AS pi0_6 FROM r2),
    r3 AS (SELECT r2.*, pi0_6, {_STOREY_THR} AS storey_thr6
           FROM r2, pi),
    k AS (SELECT max(CASE WHEN p6 <= bh_thr6 THEN bh_rank END) AS kbh,
                 max(CASE WHEN p6 <= storey_thr6 THEN bh_rank END) AS kst
          FROM r3)
    SELECT event_type, CAST(dc AS INTEGER) AS delta_cents,
           CAST(n AS BIGINT) AS n, p6,
           CAST(bh_rank AS INTEGER) AS bh_rank, pi0_6,
           bh_thr6, storey_thr6,
           bh_rank <= coalesce(kbh, 0) AS rejected_bh,
           bh_rank <= coalesce(kst, 0) AS rejected_storey
    FROM r3, k
    ORDER BY bh_rank
    """,
)
def qa_fdr_storey_spike_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storey's ADAPTIVE FDR (q-value procedure, Storey 2002) over the
    same planted spike-in family qa_fdr_bh_spike_in calibrates: plain
    BH controls FDR at q * pi0 — when many hypotheses are truly
    non-null it leaves power on the table; Storey estimates the null
    fraction pi0_hat = #{p > lambda} / ((1 - lambda) m) from the
    p-value histogram's flat tail (lambda = 0.5, repr-CAST) and runs
    the step-up at the LARGER thresholds rank * q / (m * pi0_hat).
    Because pi0_hat <= 1 by the clamp, the adaptive rejection set is a
    SUPERSET of BH's by construction — both decisions ride in the
    output, so the superset relation, the pi0 estimate itself, and the
    extra rejections the adaptivity buys are all inside the hash. The
    planted family makes the calibration readable: the true-null
    (delta=0) rows populate the flat tail that pi0_hat is estimated
    from, and the planted tiers occupy the low-p head — an estimator
    that counted the wrong side of lambda would visibly mis-scale
    every threshold.

    All decisions are taken from emitted rounded values (p6, pi0_6,
    storey_thr6 — the qa_fdr rounding discipline); pi0_hat is clamped
    to [1/m, 1] (the standard floor; also keeps the threshold's
    denominator nonzero). Shares the spike-in spine (_spike_in_r2)
    with qa_fdr_bh_spike_in — one grouped corpus pass, a 20-row
    hypothesis frame, a 1-row pi0 aggregate cross join. Reference
    analogue: none (beyond-reference statistical-QA tier)."""
    r2 = _spike_in_r2(spark, sf_dir)
    pi = r2.selectExpr(f"{_STOREY_PI0} AS pi0_6")
    r3 = r2.crossJoin(F.broadcast(pi)).selectExpr(
        "*", f"{_STOREY_THR} AS storey_thr6"
    )
    k = r3.agg(
        F.max(
            F.when(F.col("p6") <= F.col("bh_thr6"), F.col("bh_rank"))
        ).alias("kbh"),
        F.max(
            F.when(F.col("p6") <= F.col("storey_thr6"), F.col("bh_rank"))
        ).alias("kst"),
    )
    return (
        r3.crossJoin(F.broadcast(k))
        .select(
            "event_type",
            F.col("dc").cast("int").alias("delta_cents"),
            F.col("n").cast("bigint").alias("n"),
            "p6",
            F.col("bh_rank").cast("int").alias("bh_rank"),
            "pi0_6",
            "bh_thr6",
            "storey_thr6",
            (F.col("bh_rank") <= F.coalesce("kbh", F.lit(0))).alias(
                "rejected_bh"
            ),
            (F.col("bh_rank") <= F.coalesce("kst", F.lit(0))).alias(
                "rejected_storey"
            ),
        )
        .orderBy("bh_rank")
    )

"""Beyond-reference named queries: text, events, streaming, warehouse.

Each entry pairs an operator from operators/ / functions/ / streaming/ with
a DuckDB oracle that implements the SAME algorithm on the same portable
md5-based hash (functions.portable), so the driver's value-hash comparison
is exact — including for LSH/banding steps, where the oracle reproduces the
blocking (candidate generation is part of the contract, not just the final
similarity).

DuckDB dialect notes encoded here (mirrors functions.portable docstrings):
list slicing is 1-based inclusive; range(a,b) is exclusive; sum(BIGINT) is
HUGEINT (cast back); `/` on integers is float division in BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import portable as _P
from ..functions import text as T
from ..operators import dedup as D
from ..operators import sampling as SP
from .queries import _t, query


# Shared DuckDB fragments -----------------------------------------------------

SQL_DOCS_SHINGLES = f"""
  d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
  sh AS (SELECT doc_id, {_P.sql_shingles('w', D.N_SHINGLE)} AS sh
         FROM d)
"""



SQL_JACCARD = (
    "round(len(list_intersect(sa.sh, sb.sh))::DOUBLE"
    " / len(list_distinct(list_concat(sa.sh, sb.sh))), 6)"
)



def _sql_lexicon(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{x}'" for x in words)
    return f"len(list_filter(w, t -> list_contains([{lst}], t)))"




_HITS = {lg: _sql_lexicon(ws) for lg, ws in sorted(T.LEXICONS.items())}


_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN hits_{lg} = greatest(hits_en, hits_es, hits_zh) THEN '{lg}'"
        for lg in sorted(T.LEXICONS)
    )
    + " END"
)




_STOP_SQL = _sql_lexicon(T.STOPWORDS)



_SQL_QUALITY_PTS = f"""( (least(len(w), 100) * 25) // 100
           + (len(list_distinct(w)) * 35) // len(w)
           + least(({_STOP_SQL} * 100) // len(w), 20)
           + least((list_sum([length(t) for t in w]) * 20) // (8 * len(w)), 20)
         )::BIGINT"""



# Split arithmetic shared by tx_split_by_cluster's Spark side and oracle
# (same weights, same salt — authored once so they cannot drift).
_CLUSTER_SPLIT_WEIGHTS = {"train": 0.8, "test": 0.2}


_CLUSTER_SPLIT_SALT = "cl1"


_CLUSTER_SPLIT_CASE = SP.sql_split_column(
    "rep", _CLUSTER_SPLIT_WEIGHTS, salt=_CLUSTER_SPLIT_SALT
)




MIX_TAU = 0.7  # temperature for source-mixture reweighting




_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}




CHUNK_WORDS = 50


CHUNK_STRIDE = 40




_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


_PII_PHONE = r"\+?\d[\d-]{7,}\d"




@query(
    "w5_rank_functions",
    """
    WITH counts AS (
      SELECT n_name AS nation, count(*) AS n
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1)
    SELECT nation, n,
           CAST(rank()       OVER (ORDER BY n DESC, nation) AS INTEGER) AS rnk,
           CAST(dense_rank() OVER (ORDER BY n DESC, nation) AS INTEGER) AS drnk,
           CAST(ntile(4)     OVER (ORDER BY n DESC, nation) AS INTEGER) AS quartile
    FROM counts ORDER BY rnk
    """,
)
def w5_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over grouped counts (SURVEY.md section 2.5
    notes these are absent from the reference — its 'ranking' is a bare
    ORDER BY). Total order in the window spec keeps all three functions
    engine-deterministic."""
    from pyspark.sql.window import Window

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    counts = (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("nation"))
    return counts.select(
        "nation",
        "n",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    ).orderBy("rnk")




@query(
    "a5_unique_customers_approx",
    """
    SELECT o_orderstatus AS status,
           count(DISTINCT o_custkey) AS exact_customers,
           TRUE AS approx_in_bound
    FROM orders GROUP BY 1 ORDER BY status
    """,
)
def a5_unique_customers_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) at 100 TB: approx_count_distinct (HyperLogLog++,
    2% rsd) per segment next to the exact count. The scale point: the
    exact distinct needs a per-(segment,custkey) shuffle; the sketch
    merges fixed-size registers map-side.

    Checkable contract: the raw sketch estimate is
    implementation-specific, so the registry projection emits the exact
    count plus ``approx_in_bound`` = |approx - exact| <= 3*rsd*exact. The
    oracle pins the exact half and asserts the bound holds (TRUE) — HLL++
    is deterministic for a given input set, so the boolean is stable, and
    a sketch regression now FAILS the gate instead of hiding behind a
    rows-only entry. tests/test_beyond_ops.py asserts the numeric bound
    locally as well.
    """
    orders = _t(spark, sf_dir, "orders")
    rsd = 0.02
    return (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.approx_count_distinct("o_custkey", rsd).alias("approx_customers"),
            F.countDistinct("o_custkey").alias("exact_customers"),
        )
        .select(
            "status",
            "exact_customers",
            (
                F.abs(F.col("approx_customers") - F.col("exact_customers"))
                <= 3 * rsd * F.col("exact_customers")
            ).alias("approx_in_bound"),
        )
        .orderBy("status")
    )




@query(
    "a16_rfm_segmentation",
    """
    WITH agg AS (
      SELECT o_custkey AS custkey,
             datediff('day', max(o_orderdate),
                      (SELECT max(o_orderdate) FROM orders)) AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1),
    scored AS (
      SELECT *,
             ntile(5) OVER (ORDER BY recency_days DESC, custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency ASC, custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary ASC, custkey) AS m_score
      FROM agg)
    SELECT custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                WHEN r_score >= 4 THEN 'recent'
                WHEN f_score >= 4 THEN 'loyal_lapsing'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM scored ORDER BY custkey
    """,
)
def a16_rfm_segmentation(
    spark: SparkSession, sf_dir: str, *, scale_safe: bool = False
) -> DataFrame:
    """RFM customer segmentation — the classic financial-warehouse
    marketing analysis (recency / frequency / monetary quintiles +
    rule-based segment labels) that the reference's KPI dashboard
    family implies but never builds. One shuffle aggregates per
    customer; the quintile windows run over the customer-level frame
    (|customers|, not |orders|) with custkey tie-breaks so every ntile
    bucket is a deterministic total order — identical in DuckDB, which
    is what lets the oracle pin bucket membership exactly.

    ``scale_safe=True`` replaces each global ntile window with
    two_phase_rank + ntile_from_rank (operators.surrogate): three
    parallel range-shuffles instead of three single-partition sorts,
    bit-identical bucket numbers (Spark's exact ntile padding rule in
    integer arithmetic; equivalence-tested)."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("_maxd"))
    agg = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .withColumn("recency_days", F.datediff("_maxd", "_last"))
        .drop("_last", "_maxd")
    )
    from ..operators.surrogate import resolve_scale_safe

    if resolve_scale_safe(agg, scale_safe):
        from ..operators.surrogate import ntile_from_rank, two_phase_rank

        scored = agg
        for score, order in (
            ("r_score", [F.desc("recency_days"), F.asc("custkey")]),
            ("f_score", [F.asc("frequency"), F.asc("custkey")]),
            ("m_score", [F.asc("monetary"), F.asc("custkey")]),
        ):
            scored, n = two_phase_rank(scored, order, "_rk")
            scored = scored.withColumn(
                score, ntile_from_rank(F.col("_rk"), n, 5)
            ).drop("_rk")
    else:
        scored = (
            agg.withColumn(
                "r_score",
                F.ntile(5).over(
                    Window.orderBy(F.desc("recency_days"), F.asc("custkey"))
                ),
            )
            .withColumn(
                "f_score",
                F.ntile(5).over(
                    Window.orderBy(F.asc("frequency"), F.asc("custkey"))
                ),
            )
            .withColumn(
                "m_score",
                F.ntile(5).over(
                    Window.orderBy(F.asc("monetary"), F.asc("custkey"))
                ),
            )
        )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion"
        )
        .when(F.col("r_score") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal_lapsing")
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating"
        )
        .otherwise("regular")
    )
    return (
        scored.withColumn("segment", seg)
        .select(
            "custkey", "recency_days", "frequency", "monetary",
            "r_score", "f_score", "m_score", "segment",
        )
        .orderBy("custkey")
    )




@query(
    "a17_pareto_customers",
    """
    WITH rev AS (
      SELECT o_custkey AS custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1),
    c AS (
      SELECT custkey, revenue,
             round(sum(revenue) OVER (ORDER BY revenue DESC, custkey)
                   / sum(revenue) OVER (), 6) AS cum_share
      FROM rev)
    SELECT custkey, revenue, cum_share,
           CASE WHEN cum_share <= 0.5 THEN 'A'
                WHEN cum_share <= 0.8 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c ORDER BY cum_share, custkey
    """,
)
def a17_pareto_customers(
    spark: SparkSession, sf_dir: str, *, scale_safe: bool = False
) -> DataFrame:
    """Pareto / ABC revenue concentration — rank customers by revenue,
    running revenue share, A/B/C class at the 50%/80% cut points (the
    'which customers are 80% of the business' dashboard staple).

    The cumulative window runs over the CUSTOMER-level aggregate —
    |customers| rows, not |orders| — bounded by default;
    ``scale_safe=True`` swaps it for operators.surrogate.
    two_phase_cumsum over the EXACT decimal cents (per-partition window
    cumsum + driver prefix-sum of numPartitions partial sums, no
    single-partition funnel; exact decimals make the reordered
    reduction order-independent, and the grand total comes free as the
    share denominator). Deterministic total order via the custkey
    tie-break; share rounded before classification so the class
    boundaries are engine-stable."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
        .cast("double")
        .alias("revenue")
    )
    from ..operators.surrogate import resolve_scale_safe

    if resolve_scale_safe(rev, scale_safe):
        from ..operators.surrogate import two_phase_cumsum

        # revenue doubles are exact cents (decimal(30,2) sums < 2^53),
        # so the decimal round-trip loses nothing.
        rd = rev.withColumn("_rd", F.col("revenue").cast("decimal(30,2)"))
        cum, total = two_phase_cumsum(
            rd, [F.desc("revenue"), F.asc("custkey")], "_rd", "_cum"
        )
        c = cum.withColumn(
            "cum_share",
            F.round(
                F.col("_cum").cast("double") / F.lit(float(total)), 6
            ),
        ).drop("_rd", "_cum")
    else:
        w_cum = Window.orderBy(
            F.desc("revenue"), F.asc("custkey")
        ).rowsBetween(Window.unboundedPreceding, 0)
        w_all = Window.partitionBy()
        c = rev.withColumn(
            "cum_share",
            F.round(
                F.sum("revenue").over(w_cum) / F.sum("revenue").over(w_all), 6
            ),
        )
    cls = (
        F.when(F.col("cum_share") <= 0.5, "A")
        .when(F.col("cum_share") <= 0.8, "B")
        .otherwise("C")
    )
    return (
        c.withColumn("abc_class", cls)
        .select("custkey", "revenue", "cum_share", "abc_class")
        .orderBy("cum_share", "custkey")
    )




@query(
    "a15_hll_mergeable",
    """
    SELECT CAST(quarter(o_orderdate) AS INTEGER) AS quarter,
           count(DISTINCT o_custkey) AS exact_customers,
           TRUE AS approx_in_bound
    FROM orders GROUP BY 1
    UNION ALL
    SELECT 0, count(DISTINCT o_custkey), TRUE FROM orders
    ORDER BY quarter
    """,
)
def a15_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE sketch architecture — the reason sketches matter at
    100 TB: per-quarter Apache DataSketches HLL sketches
    (``hll_sketch_agg``) can be PERSISTED as a summary table and later
    union-merged (``hll_union_agg``) to answer cross-partition distinct
    counts WITHOUT rescanning raw data — distinct users over any quarter
    range from kilobyte sketches. (approx_count_distinct in a5 proves
    the estimator; this entry proves the two-level merge: sketch, then
    union of sketches, estimates the TRUE union cardinality — counts
    are not summable across quarters because customers repeat, which is
    exactly what the sketch union handles.)

    Checkable contract (a5's envelope pattern): per-quarter rows carry
    the exact distinct plus ``approx_in_bound`` (|est-exact| <= 5%
    exact; default lgK=12 sketches have ~1.6% rsd), and the quarter=0
    row checks the MERGED total the same way. The oracle pins every
    exact count and asserts all booleans TRUE."""
    orders = _t(spark, sf_dir, "orders")
    tol = 0.05
    per_q = orders.groupBy(
        F.quarter("o_orderdate").cast("int").alias("quarter")
    ).agg(
        F.hll_sketch_agg(F.col("o_custkey")).alias("sk"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )
    q_rows = per_q.select(
        "quarter",
        "exact_customers",
        (
            F.abs(
                F.hll_sketch_estimate("sk") - F.col("exact_customers")
            )
            <= tol * F.col("exact_customers")
        ).alias("approx_in_bound"),
    )
    merged = per_q.agg(F.hll_union_agg("sk").alias("sk_all"))
    exact_all = orders.agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    total_row = (
        merged.join(F.broadcast(exact_all))
        .select(
            F.lit(0).cast("int").alias("quarter"),
            "exact_customers",
            (
                F.abs(
                    F.hll_sketch_estimate("sk_all")
                    - F.col("exact_customers")
                )
                <= tol * F.col("exact_customers")
            ).alias("approx_in_bound"),
        )
    )
    return q_rows.unionByName(total_row).orderBy("quarter")




def _cdc_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )




def _cdc_changelog(base: DataFrame) -> DataFrame:
    """The synthetic ordered CDC feed both wh_cdc_apply and the
    streaming st_cdc_apply fold (shared so the two can never drift):
    stacked updates on %31 keys, seq-3 tombstones on %37 keys, shifted
    inserts on %41 keys — mirrored verbatim in the shared oracle SQL."""
    k = F.col("k")
    return (
        base.filter(k % 31 == 0)
        .select(
            "k", F.lit(1).alias("seq"), F.lit("U").alias("op"),
            "status", (F.col("price") + 50).alias("price"),
        )
        .unionAll(
            base.filter(k % 31 == 0).select(
                "k", F.lit(2).alias("seq"), F.lit("U").alias("op"),
                F.lit("F").alias("status"),
                (F.col("price") + 100).alias("price"),
            )
        )
        .unionAll(
            base.filter(k % 37 == 0).select(
                "k", F.lit(3).alias("seq"), F.lit("D").alias("op"),
                F.lit(None).cast("string").alias("status"),
                F.lit(None).cast("double").alias("price"),
            )
        )
        .unionAll(
            base.filter(k % 41 == 0).select(
                (k + 10000000).alias("k"),
                F.lit(1).alias("seq"), F.lit("I").alias("op"),
                F.lit("O").alias("status"),
                F.lit(1000.5).alias("price"),
            )
        )
    )




def _cdc_audit(applied: DataFrame) -> DataFrame:
    return (
        applied.groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("price").cast("decimal(30,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("status")
    )




_CDC_ORACLE = """
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
      FROM orders),
    ch AS (
      SELECT k, 1 AS seq, 'U' AS op, status, price + 50 AS price
      FROM base WHERE k % 31 = 0
      UNION ALL
      SELECT k, 2, 'U', 'F', price + 100 FROM base WHERE k % 31 = 0
      UNION ALL
      SELECT k, 3, 'D', NULL, NULL FROM base WHERE k % 37 = 0
      UNION ALL
      SELECT k + 10000000, 1, 'I', 'O', CAST(1000.5 AS DOUBLE)
      FROM base WHERE k % 41 = 0),
    latest AS (
      SELECT * FROM ch
      QUALIFY row_number() OVER (PARTITION BY k
                                 ORDER BY seq DESC, op DESC) = 1),
    applied AS (
      SELECT b.k, b.status, b.price
      FROM base b LEFT JOIN latest l ON b.k = l.k WHERE l.k IS NULL
      UNION ALL
      SELECT k, status, price FROM latest WHERE op <> 'D')
    SELECT status, count(*) AS n,
           CAST(sum(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS total_price
    FROM applied GROUP BY 1 ORDER BY 1
    """




@query(
    "sk_salted_hot_join",
    """
    WITH probe AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS uid,
             value
      FROM events),
    build AS (SELECT c_custkey AS uid, c_mktsegment FROM customer)
    SELECT c_mktsegment AS segment, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM probe JOIN build USING (uid)
    GROUP BY 1 ORDER BY segment
    """,
)
def sk_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation salted join under the correctness gate: the probe
    side is made DELIBERATELY hot by collapsing every even user_id onto
    key 0 (half the events land on one key — the power-law hot key at
    100 TB), then joined to the customer dim via operators.skew.
    salted_join: build side replicated once per salt, probe salt derived
    deterministically from event_id, join on (uid, _salt) so the hot
    key's rows fan out over 8 shuffle partitions instead of one straggler
    task. The build side carries a shuffle_hash hint — broadcast would
    erase the shuffle the salting exists to fix (and at real scale the
    dim may not broadcast); tests/test_plan_quality.py asserts the
    salted-shuffle plan shape. Oracle: the equivalent PLAIN join — the
    salt must be semantics-free."""
    from ..operators.skew import salted_join

    events = _t(spark, sf_dir, "events")
    probe = events.select(
        F.when(F.col("user_id") % 2 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("bigint")
        .alias("uid"),
        "event_id",
        "value",
    )
    build = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("uid"), "c_mktsegment")
        .hint("shuffle_hash")
    )
    joined = salted_join(probe, build, key="uid", salt_source="event_id")
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("segment")
    )




# ---------------------------------------------------------------------------
# tx_negative_sampling: deterministic contrastive negatives per user
# ---------------------------------------------------------------------------

NEG_K = 3




# ---------------------------------------------------------------------------
# wh_bloom_prune: portable Bloom filter join-prune audit
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 14  # 16384 bits: ~2.7% FPR at the sf0.1 key load


BLOOM_K = 4




def _sql_bloom_positions(key: str) -> str:
    return (
        "["
        + ", ".join(
            f"('0x' || substr(md5({key}::VARCHAR || '|{i}'), 1, 15))::BIGINT"
            f" % {BLOOM_M}"
            for i in range(BLOOM_K)
        )
        + "]"
    )




# ---------------------------------------------------------------------------
# wh_bucketed_join: co-located bucketed join proof (zero-shuffle SMJ)
# ---------------------------------------------------------------------------

BUCKET_N = 8




# ---------------------------------------------------------------------------
# ev_active_users_hll: sliding active-users via mergeable HLL day sketches
# ---------------------------------------------------------------------------

HLL_WINDOW_DAYS = 14


HLL_TOL = 0.05




# ---------------------------------------------------------------------------
# tx_span_corruption: T5-style span-corruption denoising pairs
# ---------------------------------------------------------------------------

SPAN_STRIDE = 5  # candidate span starts every 5 tokens


SPAN_RATE = 5  # ... of which hash%5==0 actually mask (~12% of tokens)


SPAN_LEN = 3




# ---------------------------------------------------------------------------
# wh_orphan_audit: referential-integrity audit across every star edge
# ---------------------------------------------------------------------------

_FK_EDGES = (
    ("lineitem.l_partkey -> part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("lineitem.l_orderkey -> orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("orders.o_custkey -> customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey -> nation.n_nationkey", "customer",
     "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey -> nation.n_nationkey", "supplier",
     "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey -> region.r_regionkey", "nation", "n_regionkey",
     "region", "r_regionkey"),
)




def _orphan_edge_sql(rel, child, ck, parent, pk) -> str:
    return f"""SELECT '{rel}' AS relationship,
       (SELECT count(*) FROM {child}) AS n_child_rows,
       (SELECT count(*) FROM {child}
        WHERE {ck} NOT IN (SELECT {pk} FROM {parent})) AS n_orphans"""

# ===========================================================================
# Tier modules (split out in round 8 — VERDICT r7 ask #8)
# ===========================================================================
# Imported HERE, after the shared fragments above are defined, so that
# (a) `import plans.beyond` still registers every beyond-tier entry and
# (b) the tier modules can import this module's shared helpers while it
# is mid-initialization. The star re-exports keep every historical
# `from plans.beyond import <entry>` import path working.
from .beyond_text import *  # noqa: E402,F401,F403
from .beyond_events import *  # noqa: E402,F401,F403
from .beyond_streaming import *  # noqa: E402,F401,F403
from .beyond_warehouse import *  # noqa: E402,F401,F403

_TIER_MODULES = (
    "beyond_text", "beyond_events", "beyond_streaming", "beyond_warehouse",
)


def __getattr__(name):  # noqa: E302 — PEP 562 module fallback
    """Close the one hole in the star re-exports above: when a TIER
    module is imported first, its `from .beyond import ...` triggers
    this module's init, whose star-import then sees the tier mid-init
    and binds nothing from it — registry registration still completes,
    but `plans.beyond.<entry>` would raise AttributeError for that one
    tier. Resolve lazily from the (by now fully initialized) tiers."""
    from importlib import import_module

    for _m in _TIER_MODULES:
        mod = import_module(f".{_m}", __package__)
        if hasattr(mod, name):
            return getattr(mod, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

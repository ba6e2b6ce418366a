"""Similarity-tier named queries (sim_*): exact cosine top-k, the
sign-LSH and flat IVF retrieval baselines, their recall/NDCG
measurements, hybrid keyword+vector fusion, int8 quantization and PCA by
power iteration.

``plans.beyond`` imports and re-exports every entry. The shared DuckDB
fragment ``_sql_ivf_kmeans`` lives in ``plans.beyond`` and is imported
from there (it is mid-initialization at that point, but the shared block
is defined before the tier imports at its bottom run).
"""

from __future__ import annotations

from ..operators import similarity as S
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .beyond import _sql_ivf_kmeans  # shared fragment
from .queries import _t, query


# ===========================================================================
# Similarity search
# ===========================================================================


@query(
    "sim_hybrid_rrf",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    qterms AS (
      SELECT doc_id AS query_id, term,
             round(ln(n_docs / df), 6) AS idf
      FROM tf JOIN dfreq USING (term), n
      WHERE doc_id < 8
      QUALIFY row_number() OVER (
        PARTITION BY doc_id
        ORDER BY round(tf * ln(n_docs / df), 6) DESC, term ASC) <= 3),
    kw AS (
      SELECT q.query_id, t.doc_id,
             round(sum(t.tf * q.idf), 6) AS kw_score
      FROM qterms q JOIN tf t USING (term)
      WHERE t.doc_id != q.query_id
      GROUP BY 1, 2),
    kwr AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY kw_score DESC, doc_id ASC) AS r
      FROM kw
      QUALIFY r <= 10),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    vr AS (
      SELECT query_id, e.vec_id AS doc_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
                        e.vec_id ASC) AS r
      FROM q JOIN e ON e.vec_id != q.query_id
      QUALIFY r <= 10),
    fused AS (
      SELECT coalesce(kwr.query_id, vr.query_id) AS query_id,
             coalesce(kwr.doc_id, vr.doc_id) AS doc_id,
             round(coalesce(1.0::DOUBLE / (60 + kwr.r), 0)
                   + coalesce(1.0::DOUBLE / (60 + vr.r), 0), 6) AS rrf,
             kwr.r AS kw_rank, vr.r AS vec_rank
      FROM kwr FULL OUTER JOIN vr
        ON kwr.query_id = vr.query_id AND kwr.doc_id = vr.doc_id)
    SELECT query_id, doc_id, rrf, kw_rank, vec_rank
    FROM fused
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id ASC) <= 10
    ORDER BY query_id, rrf DESC, doc_id
    """,
    # New r5 (locally pinned; rotation candidate for r6's driver swap).
    driver=True,  # REFRESH r18 (evidence-age re-earn, not a first-timer; plans/rotation.py)
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with reciprocal-rank fusion — the modern search
    stack in one lazy plan: a KEYWORD leg (each query doc's top-3 TF-IDF
    terms probe the inverted index; candidates scored by matched
    tf x idf) and a VECTOR leg (cosine top-10 over the embedding
    column) are fused per (query, doc) by RRF
    (score = sum 1/(60 + rank); Cormack et al.'s k=60), which needs no
    score calibration between legs — the reason RRF is the default
    fusion everywhere. Docs found by only one leg still rank (outer
    join + coalesce 0).

    Scale: the keyword leg is an inverted-index equi-join on term
    (selective: 3 terms/query), never a doc x doc scan; the vector leg
    is the exactness baseline here — swap in the IVF cell-probe for a
    production corpus. Ranks are integers and scores round before
    ranking, so the oracle pins the fused ORDER, not just membership."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(n))
    wq = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).desc(),
        F.asc("term"),
    )
    qterms = (
        scored.filter(F.col("doc_id") < 8)
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= 3)
        .select(
            F.col("doc_id").alias("query_id"),
            "term",
            F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf"),
        )
    )
    kw = (
        tf.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("tf") * F.col("idf")), 6).alias("kw_score"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("kw_score"), F.asc("doc_id")
    )
    kwr = (
        kw.withColumn("r", F.row_number().over(wk))
        .filter(F.col("r") <= 10)
        .select("query_id", "doc_id", F.col("r").alias("kw_rank"))
    )
    vr = S.topk_bruteforce(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=10
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.desc("cosine"), F.asc("neighbor_id")
            )
        )
        .alias("vec_rank"),
    )
    fused = (
        kwr.join(vr, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (60 + F.col("kw_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("vec_rank")), F.lit(0.0)),
                6,
            ),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("doc_id")
    )
    return (
        fused.withColumn("_fr", F.row_number().over(wf))
        .filter(F.col("_fr") <= 10)
        .select("query_id", "doc_id", "rrf", "kw_rank", "vec_rank")
        .orderBy("query_id", F.desc("rrf"), "doc_id")
    )




@query(
    "sim_topk_bruteforce",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8)
    SELECT query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(qv, v), 6) AS cosine
    FROM q JOIN e ON e.vec_id != q.query_id
    QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY round(list_cosine_similarity(qv, v), 6) DESC, e.vec_id ASC
    ) <= 10
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
    driver=False,  # demoted r13 (rotation; driver-green, plans/rotation.py)
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 8 vectors.

    SCALE NOTE — exactness BASELINE, not the 100 TB path: this is a full
    linear corpus scan per query batch (right up to ~10^7 vectors, and
    the recall yardstick for the ANN tests). Route large-corpus serving
    to sim_ann_ivf / sim_ann_ivf_kmeans* (nprobe cell probes) or
    sim_ann_signlsh."""
    return S.topk_bruteforce(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=10
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")




@query(
    "sim_ann_signlsh",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v,
            list_sum([CASE WHEN v[i+1] > 0 THEN 1::BIGINT << i ELSE 0 END
                      for i in range(0, {S.SIGN_BITS})])::BIGINT AS bkt
          FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bkt AS qbkt FROM b WHERE vec_id < 8)
    SELECT query_id, b.vec_id AS neighbor_id,
           round(list_cosine_similarity(qv, v), 6) AS cosine
    FROM q JOIN b ON b.bkt = q.qbkt AND b.vec_id != q.query_id
    QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY round(list_cosine_similarity(qv, v), 6) DESC, b.vec_id ASC
    ) <= 5
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
    driver=False,  # demoted r14 (rotation; driver-green, plans/rotation.py)
)
def sim_ann_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 within the query's sign-LSH bucket (the scale path)."""
    return S.topk_ann_signlsh(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=5
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")




@query(
    "sim_recall_at_k",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    ex AS (
      SELECT query_id, e.vec_id AS neighbor_id
      FROM q JOIN e ON e.vec_id != q.query_id
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY round(list_cosine_similarity(qv, v), 6) DESC, e.vec_id ASC
      ) <= 5),
    b AS (SELECT vec_id, v,
            list_sum([CASE WHEN v[i+1] > 0 THEN 1::BIGINT << i ELSE 0 END
                      for i in range(0, {S.SIGN_BITS})])::BIGINT AS bkt
          FROM e),
    qb AS (SELECT vec_id AS query_id, v AS qv, bkt AS qbkt
           FROM b WHERE vec_id < 8),
    ann AS (
      SELECT query_id, b.vec_id AS neighbor_id
      FROM qb JOIN b ON b.bkt = qb.qbkt AND b.vec_id != qb.query_id
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY round(list_cosine_similarity(qv, v), 6) DESC, b.vec_id ASC
      ) <= 5),
    na AS (SELECT query_id, count(*) AS n_ann FROM ann GROUP BY 1),
    h AS (SELECT a.query_id, count(*) AS n_hits
          FROM ann a JOIN ex ON ex.query_id = a.query_id
                            AND ex.neighbor_id = a.neighbor_id
          GROUP BY 1),
    qs AS (SELECT DISTINCT query_id FROM ex)
    SELECT qs.query_id,
           CAST(coalesce(na.n_ann, 0) AS BIGINT) AS n_ann,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5, 6)
             AS recall_at_5
    FROM qs LEFT JOIN na USING (query_id) LEFT JOIN h USING (query_id)
    ORDER BY query_id
    """,
    # New r6 (locally pinned; future rotation candidate).
    driver=True,  # REFRESH r16 (evidence-age re-earn, not a first-timer; plans/rotation.py)
)
def sim_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY measurement — recall@5 of the sign-LSH bucket path
    against the exact brute-force top-5, per query ('measure, don't
    guess' applied to the index itself: the number a 100 TB deployment
    watches when tuning SIGN_BITS / nprobe, produced by the engine
    instead of asserted in a docstring). n_ann < 5 exposes undersized
    buckets; n_hits counts exact neighbors the ANN path found; the
    recall denominator is the requested k, so empty buckets score 0.

    Scale: the exact leg is the linear yardstick run over a bounded
    QUERY SAMPLE (8 probes here) — evaluation cost is n_queries x
    corpus, not corpus^2; the ANN leg is the production bucket
    equi-join. Composes the two already-oracled retrieval pipelines and
    re-derives both in the oracle, so the measurement is itself under
    the hash gate. Reference analogue: none."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = S.topk_bruteforce(emb, n_queries=8, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = S.topk_ann_signlsh(emb, n_queries=8, k=5).select(
        "query_id", "neighbor_id"
    )
    qs = exact.select("query_id").distinct()
    na = ann.groupBy("query_id").agg(F.count("*").alias("n_ann"))
    hits = (
        ann.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        qs.join(F.broadcast(na), "query_id", "left")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_ann", F.lit(0)).cast("bigint").alias("n_ann"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / 5, 6
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )




@query(
    "sim_ann_ivf",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
    assign AS (
      SELECT e.vec_id, e.v, cell
      FROM e, c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round(list_cosine_similarity(v, cv), 6) DESC, cell ASC
      ) = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    probe AS (
      SELECT query_id, qv, cell
      FROM q, c
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, cell ASC
      ) <= 2)
    SELECT query_id, a.vec_id AS neighbor_id,
           round(list_cosine_similarity(qv, a.v), 6) AS cosine
    FROM probe p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
    QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY round(list_cosine_similarity(qv, a.v), 6) DESC, a.vec_id ASC
    ) <= 5
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
    driver=False,  # demoted r11 (rotation; driver-green, plans/rotation.py)
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse cells + nprobe probing) — the oracle reproduces the
    quantizer, cell assignment, and probing, so the index STRUCTURE is
    correctness-checked, not just final scores."""
    return S.topk_ann_ivf(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=5, n_cells=16, nprobe=2
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")




@query(
    "sim_ann_ivf_kmeans",
    _sql_ivf_kmeans(1),
    driver=False,  # demoted r11 (rotation; driver-green, plans/rotation.py)
)
def sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a k-means-refined quantizer (one Lloyd iteration, decimal-
    exact centroid means). The oracle reproduces seeding, assignment, the
    refinement arithmetic, and probing — the full index build is
    correctness-checked bit-for-bit."""
    return S.topk_ann_ivf_kmeans(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=5, n_cells=16, nprobe=2
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")





@query("sim_ann_ivf_kmeans_iter3", _sql_ivf_kmeans(3), driver=False)  # demoted r14 (rotation; driver-green, plans/rotation.py)
def sim_ann_ivf_kmeans_iter3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration Lloyd refinement (3 iterations, each materialized
    once and decimal-exact): the converged-quantizer path. The oracle SQL
    is GENERATED for the same iteration count (_sql_ivf_kmeans), so Spark
    and DuckDB run the identical iteration-unrolled algorithm — every
    intermediate centroid set is implicitly pinned."""
    return S.topk_ann_ivf_kmeans(
        _t(spark, sf_dir, "embeddings"),
        n_queries=8,
        k=5,
        n_cells=16,
        nprobe=2,
        iterations=3,
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")




@query(
    "sim_quantize_int8",
    """
    WITH v AS (
      SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
    s AS (
      SELECT vec_id, v, list_max([abs(x) for x in v]) / 127 AS scale FROM v)
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS n_dims,
           round(scale, 9) AS scale9,
           array_to_string(
             [CAST(CASE WHEN scale = 0 THEN 0
                        WHEN x >= 0 THEN floor(x / scale + 0.5)
                        ELSE -floor(-x / scale + 0.5) END AS BIGINT)
              for x in v], ',') AS codes_csv
    FROM s ORDER BY vec_id
    """,
    # Promoted r5 into the driver surface (rotation: first driver row).
    driver=False,  # demoted r14 (rotation; driver-green, plans/rotation.py)
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (operators.similarity.quantize_int8):
    per-vector symmetric scale + half-away-from-zero codes, byte-pinned
    by an oracle that reproduces the same float64 arithmetic over the
    same float32 inputs — codes AND scales must match exactly, so a
    rounding-mode drift (numpy's half-to-even default, for instance)
    fails the gate."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.quantize_int8(emb).orderBy("vec_id")


# ---------------------------------------------------------------------------
# sim_ndcg_at_k: ranking-quality eval of the ANN path (graded NDCG@5)
# ---------------------------------------------------------------------------

import math as _math

#: Position discounts 1/log2(i+1), i = 1..5, entering BOTH engines as
#: repr-exact string literals (libm log2 is not correctly-rounded across
#: implementations, so the constants are computed ONCE here instead of
#: in-engine — the _PR_TP pattern).
_NDCG_DISC = {i: repr(1.0 / _math.log2(i + 1)) for i in range(1, 6)}

_NDCG_DISC_SQL = " ".join(
    f"WHEN {i} THEN CAST('{w}' AS DOUBLE)" for i, w in _NDCG_DISC.items()
)


@query(
    "sim_ndcg_at_k",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    ex AS (
      SELECT query_id, neighbor_id, r FROM (
        SELECT query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
                          e.vec_id ASC) AS r
        FROM q JOIN e ON e.vec_id != q.query_id)
      WHERE r <= 5),
    b AS (SELECT vec_id, v,
            list_sum([CASE WHEN v[i+1] > 0 THEN 1::BIGINT << i ELSE 0 END
                      for i in range(0, {{SIGN_BITS}})])::BIGINT AS bkt
          FROM e),
    qb AS (SELECT vec_id AS query_id, v AS qv, bkt AS qbkt
           FROM b WHERE vec_id < 8),
    ann AS (
      SELECT query_id, neighbor_id, pos FROM (
        SELECT query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
                          b.vec_id ASC) AS pos
        FROM qb JOIN b ON b.bkt = qb.qbkt AND b.vec_id != qb.query_id)
      WHERE pos <= 5),
    dcg AS (
      SELECT a.query_id,
             sum(CAST(round((6 - ex.r)
                            * CASE a.pos {_NDCG_DISC_SQL} END, 6)
                      AS DECIMAL(18,6))) AS dcg_dec
      FROM ann a JOIN ex ON ex.query_id = a.query_id
                        AND ex.neighbor_id = a.neighbor_id
      GROUP BY 1),
    idcg AS (
      SELECT query_id,
             sum(CAST(round((6 - r)
                            * CASE r {_NDCG_DISC_SQL} END, 6)
                      AS DECIMAL(18,6))) AS idcg_dec
      FROM ex GROUP BY 1),
    na AS (SELECT query_id, count(*) AS n_ann FROM ann GROUP BY 1),
    qs AS (SELECT DISTINCT query_id FROM ex)
    SELECT qs.query_id,
           CAST(coalesce(na.n_ann, 0) AS BIGINT) AS n_ann,
           CAST(coalesce(dcg.dcg_dec, CAST(0 AS DECIMAL(18,6)))
                AS DOUBLE) AS dcg,
           CAST(idcg.idcg_dec AS DOUBLE) AS idcg,
           round(CAST(coalesce(dcg.dcg_dec, CAST(0 AS DECIMAL(18,6)))
                      AS DOUBLE)
                 / CAST(idcg.idcg_dec AS DOUBLE), 6) AS ndcg_at_5
    FROM qs
    LEFT JOIN na USING (query_id)
    LEFT JOIN dcg ON dcg.query_id = qs.query_id
    JOIN idcg ON idcg.query_id = qs.query_id
    ORDER BY qs.query_id
    """.replace("{SIGN_BITS}", str(S.SIGN_BITS)),
    # New r8 (locally pinned; backlog — rotation candidate with
    # wh_compaction once the r9 queue clears).
    driver=True,  # REFRESH r18 (evidence-age re-earn, not a first-timer; plans/rotation.py)
)
def sim_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded RANKING quality of the ANN path — NDCG@5 of sign-LSH
    retrieval against the exact brute-force top-5, per query. The
    recall sibling (sim_recall_at_k) counts set overlap; this scores
    ORDER: an exact neighbor surfaced at ANN position 1 is worth more
    than at position 5 (discount 1/log2(pos+1)), with graded relevance
    6 - exact_rank, so the pair separates 'found the right docs' from
    'ranked them right' — the second number a 100 TB vector deployment
    tunes against (reranker budgets, nprobe).

    Exactness: libm log2 is not correctly-rounded across engines, so
    the five position discounts enter BOTH plans as repr-exact Python
    literals; each DCG term is rounded to 6dp and summed as
    DECIMAL(18,6) (order-independent exact sum), IDCG is computed by
    the same machinery over the exact list's own ranks, and the final
    ratio is one identically-parenthesized double division. Composes
    the two already-oracled retrieval pipelines; the oracle re-derives
    both plus the scoring. Reference analogue: none."""
    emb = _t(spark, sf_dir, "embeddings")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    exact = (
        S.topk_bruteforce(emb, n_queries=8, k=5)
        .withColumn("r", F.row_number().over(w))
        .select("query_id", "neighbor_id", "r")
    )
    ann = (
        S.topk_ann_signlsh(emb, n_queries=8, k=5)
        .withColumn("pos", F.row_number().over(w))
        .select("query_id", "neighbor_id", "pos")
    )

    def _disc(col: str) -> F.Column:
        expr = F.lit(None).cast("double")
        c = F.col(col)
        for i, wstr in _NDCG_DISC.items():
            expr = F.when(c == i, F.lit(float(wstr))).otherwise(expr)
        return expr

    term = lambda rel, pos: F.round(rel * _disc(pos), 6).cast(  # noqa: E731
        "decimal(18,6)"
    )
    dcg = (
        ann.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.sum(term(6 - F.col("r"), "pos")).alias("dcg_dec"))
    )
    idcg = exact.groupBy("query_id").agg(
        F.sum(term(6 - F.col("r"), "r")).alias("idcg_dec")
    )
    na = ann.groupBy("query_id").agg(F.count("*").alias("n_ann"))
    qs = exact.select("query_id").distinct()
    zero = F.lit(0).cast("decimal(18,6)")
    dcg_d = F.coalesce("dcg_dec", zero).cast("double")
    idcg_d = F.col("idcg_dec").cast("double")
    return (
        qs.join(F.broadcast(na), "query_id", "left")
        .join(F.broadcast(dcg), "query_id", "left")
        .join(F.broadcast(idcg), "query_id")
        .select(
            "query_id",
            F.coalesce("n_ann", F.lit(0)).cast("bigint").alias("n_ann"),
            dcg_d.alias("dcg"),
            idcg_d.alias("idcg"),
            F.round(dcg_d / idcg_d, 6).alias("ndcg_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# sim_pca_power: top principal component by distributed power iteration
# (r11; r12 queue)
# ---------------------------------------------------------------------------

#: Power-iteration budget (each iteration = one shuffle over the
#: exploded corpus + a 64-row iterate update; the oracle unrolls the
#: same count).
PCA_POWER_ITERATIONS = 3


def _sql_pca_power(iterations: int = PCA_POWER_ITERATIONS) -> str:
    """DuckDB oracle for sim_pca_power: the identical power iteration
    unrolled — per-dimension DECIMAL-exact centering mean, then per
    iteration a vec_id-partitioned window sum for s_i = <v_i - mu, x>,
    a 64-group DECIMAL-exact aggregation for y = sum_i (v_i - mu) s_i,
    a DECIMAL-exact norm, and the 9-dp-rounded normalized iterate
    (every accumulation is a DECIMAL(38,12) term-cast sum — the
    refine_centroids idiom — so each iterate is bit-identical across
    engines and re-enters the next round as the same doubles)."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "ex AS (SELECT vec_id, u.p - 1 AS pos, u.x AS val FROM e,\n"
        "       unnest([{'p': i, 'x': v[i]}\n"
        "               for i in range(1, len(v) + 1)]) AS t(u))",
        "mu AS (SELECT pos,\n"
        "         CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)\n"
        "           / count(*) AS mu\n"
        "       FROM ex GROUP BY 1)",
        "c AS (SELECT vec_id, ex.pos AS pos, val - mu AS cv\n"
        "      FROM ex JOIN mu USING (pos))",
        "x0 AS (SELECT pos, CAST('0.125' AS DOUBLE) AS x FROM mu)",
    ]
    for i in range(iterations):
        ctes += [
            f"p{i} AS (SELECT vec_id, c.pos AS pos, cv,\n"
            f"           CAST(cv * x AS DECIMAL(38,12)) AS t\n"
            f"         FROM c JOIN x{i} USING (pos))",
            f"s{i} AS (SELECT vec_id, pos, cv,\n"
            f"           CAST(sum(t) OVER (PARTITION BY vec_id)"
            f" AS DOUBLE) AS s\n"
            f"         FROM p{i})",
            f"y{i} AS (SELECT pos,\n"
            f"           CAST(sum(CAST(cv * s AS DECIMAL(38,12)))"
            f" AS DOUBLE) AS y\n"
            f"         FROM s{i} GROUP BY 1)",
            f"n{i} AS (SELECT sqrt(CAST(sum(CAST(y * y"
            f" AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM y{i})",
            f"x{i + 1} AS (SELECT pos, round(y / nrm, 9) AS x\n"
            f"         FROM y{i}, n{i})",
        ]
    last = iterations
    ctes.append(
        f"sgn AS (SELECT CASE WHEN x < 0 THEN CAST(-1 AS DOUBLE)\n"
        f"               ELSE CAST(1 AS DOUBLE) END AS sgn\n"
        f"        FROM x{last} WHERE pos = 0)"
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(x{last}.pos AS INTEGER) AS pos,
           round(mu, 9) AS mu9,
           round(x * sgn, 9) AS pc1_9,
           (SELECT round(nrm / (SELECT count(*) FROM e), 9)
            FROM n{last - 1}) AS lambda9
    FROM x{last} JOIN mu USING (pos), sgn
    ORDER BY pos
    """
    )


@query(
    "sim_pca_power",
    _sql_pca_power(),
    # Authored r11 (after the r11 flip); queued for r12, whose
    # interrupted landing never flipped the rotation (VERDICT r12) —
    # locally oracle-pinned at all three scales meanwhile.
    driver=False,  # demoted r14 (rotation; driver-green, plans/rotation.py)
)
def sim_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PRINCIPAL COMPONENT of the embedding corpus by distributed
    power iteration (operators.similarity.pca_power_top1) — the
    whitening / compression prep an embedding pipeline runs before
    indexing or dimensionality reduction. The covariance matrix is
    never materialized: each iteration applies
    C = (1/n) Σ (v-μ)(v-μ)ᵀ to the iterate as a vec_id-partitioned
    window sum (s_i = <v_i - μ, x>) plus one 64-group aggregation —
    one shuffle per iteration, iterate state is d doubles, no driver
    collect, no d×d anywhere.

    The oracle unrolls the identical 3 iterations, so every
    intermediate iterate — not just the final component — is inside
    the hash: a wrong mean, a drifted accumulation, a missed
    normalization, or a sign-convention break anywhere in the loop
    shifts pc1_9 or lambda9. All accumulations are DECIMAL(38,12)
    term-cast sums (the refine_centroids idiom), iterates re-enter
    rounded to 9 dp, and the start vector is the exact double 1/8 on
    all 64 positions (unit norm by construction). Output: 64 rows of
    (pos, mu9, pc1_9, lambda9). Reference analogue: none
    (beyond-reference LLM-pipeline tier)."""
    return S.pca_power_top1(
        _t(spark, sf_dir, "embeddings"), iterations=PCA_POWER_ITERATIONS
    )


# ---------------------------------------------------------------------------
# sim_pca_deflate: top-k principal components by deflated power iteration
# (r12; VERDICT r11 ask #3 — consume sim_pca_power's rotation claim)
# ---------------------------------------------------------------------------

#: Components extracted by sim_pca_deflate (each costs iterations + 1
#: shuffles over the exploded corpus; the oracle unrolls all of them).
PCA_DEFLATE_COMPONENTS = 3


def _sql_pca_deflate(
    n_components: int = PCA_DEFLATE_COMPONENTS,
    iterations: int = PCA_POWER_ITERATIONS,
) -> str:
    """DuckDB oracle for sim_pca_deflate: _sql_pca_power's unrolled
    power iteration, repeated per component with the deflation step
    between components (cv <- cv - <cv, v_j> v_j via the identical
    vec_id-partitioned window sum), every accumulation DECIMAL(38,12)
    term-cast, components re-entering as their 9-dp-rounded SIGNED
    vectors — so every per-component intermediate (iterates, norms,
    deflated frames, orthogonality) is inside the hash."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "ex AS (SELECT vec_id, u.p - 1 AS pos, u.x AS val FROM e,\n"
        "       unnest([{'p': i, 'x': v[i]}\n"
        "               for i in range(1, len(v) + 1)]) AS t(u))",
        "mu AS (SELECT pos,\n"
        "         CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)\n"
        "           / count(*) AS mu\n"
        "       FROM ex GROUP BY 1)",
        "c0 AS (SELECT vec_id, ex.pos AS pos, val - mu AS cv\n"
        "      FROM ex JOIN mu USING (pos))",
    ]
    selects = []
    for j in range(n_components):
        ctes.append(
            f"x{j}_0 AS (SELECT pos, CAST('0.125' AS DOUBLE) AS x FROM mu)"
        )
        for i in range(iterations):
            ctes += [
                f"p{j}_{i} AS (SELECT vec_id, c{j}.pos AS pos, cv,\n"
                f"           CAST(cv * x AS DECIMAL(38,12)) AS t\n"
                f"         FROM c{j} JOIN x{j}_{i} USING (pos))",
                f"s{j}_{i} AS (SELECT vec_id, pos, cv,\n"
                f"           CAST(sum(t) OVER (PARTITION BY vec_id)"
                f" AS DOUBLE) AS s\n"
                f"         FROM p{j}_{i})",
                f"y{j}_{i} AS (SELECT pos,\n"
                f"           CAST(sum(CAST(cv * s AS DECIMAL(38,12)))"
                f" AS DOUBLE) AS y\n"
                f"         FROM s{j}_{i} GROUP BY 1)",
                f"n{j}_{i} AS (SELECT sqrt(CAST(sum(CAST(y * y"
                f" AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM y{j}_{i})",
                f"x{j}_{i + 1} AS (SELECT pos, round(y / nrm, 9) AS x\n"
                f"         FROM y{j}_{i}, n{j}_{i})",
            ]
        last = iterations
        ctes += [
            f"sg{j} AS (SELECT CASE WHEN x < 0 THEN CAST(-1 AS DOUBLE)\n"
            f"               ELSE CAST(1 AS DOUBLE) END AS sgn\n"
            f"        FROM x{j}_{last} WHERE pos = 0)",
            f"v{j} AS (SELECT pos, round(x * sgn, 9) AS vx\n"
            f"        FROM x{j}_{last}, sg{j})",
            f"l{j} AS (SELECT round(nrm / (SELECT count(*) FROM e), 9)"
            f" AS lambda9 FROM n{j}_{last - 1})",
        ]
        if j == 0:
            ctes.append(
                f"o{j} AS (SELECT CAST('0' AS DOUBLE) AS ortho_prev9)"
            )
        else:
            ctes.append(
                f"o{j} AS (SELECT round(CAST(sum(CAST(a.vx * b.vx"
                f" AS DECIMAL(38,12))) AS DOUBLE), 9) AS ortho_prev9\n"
                f"        FROM v{j} a JOIN v{j - 1} b USING (pos))"
            )
        if j < n_components - 1:
            ctes += [
                f"pd{j} AS (SELECT vec_id, c{j}.pos AS pos, cv, vx,\n"
                f"           CAST(cv * vx AS DECIMAL(38,12)) AS t\n"
                f"         FROM c{j} JOIN v{j} USING (pos))",
                f"sd{j} AS (SELECT vec_id, pos, cv, vx,\n"
                f"           CAST(sum(t) OVER (PARTITION BY vec_id)"
                f" AS DOUBLE) AS s\n"
                f"         FROM pd{j})",
                f"c{j + 1} AS (SELECT vec_id, pos, cv - s * vx AS cv"
                f" FROM sd{j})",
            ]
        # + CAST('0' AS DOUBLE) on every rounded double output:
        # DuckDB's round() preserves IEEE negative zero (comp 1's
        # ortho_prev9 measures -0.0 on the fixture) while Spark's
        # F.round goes through BigDecimal, which has no signed zero —
        # adding +0.0 canonicalizes -0.0 to +0.0 in BOTH engines
        # (IEEE: -0.0 + 0.0 = +0.0) and is exact for every other value.
        z = " + CAST('0' AS DOUBLE)"
        selects.append(
            f"SELECT CAST({j} AS INTEGER) AS comp,\n"
            f"       CAST(v{j}.pos AS INTEGER) AS pos,\n"
            f"       round(mu, 9){z} AS mu9, vx{z} AS pc_9,\n"
            f"       lambda9{z} AS lambda9, ortho_prev9{z} AS ortho_prev9\n"
            f"FROM v{j} JOIN mu USING (pos), l{j}, o{j}"
        )
    # MATERIALIZED on every CTE: DuckDB otherwise INLINES the CTE DAG,
    # and the deflation chain re-expands each previous component's
    # whole iteration tree multiplicatively — at 3 components the
    # planner opens the parquet file hundreds of times ("too many open
    # files" even at ulimit 20000). Semantics are identical; each CTE
    # is just evaluated once, exactly like the Spark localCheckpoints.
    ctes = [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
        + "\n    ORDER BY comp, pos"
    )


@query(
    "sim_pca_deflate",
    _sql_pca_deflate(),
    # Authored r12 (sf0.01-verified then; re-verified at all three
    # scales before the r13 flip). The r12 landing was interrupted
    # before promotion could be committed (VERDICT r12 "what's wrong"
    # #2) — promoted r13.
    driver=False,  # demoted r14 (rotation; driver-green, plans/rotation.py)
)
def sim_pca_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 PRINCIPAL COMPONENTS by power iteration WITH DEFLATION
    (operators.similarity.pca_power_topk) — sim_pca_power extended to
    a rotation basis: after each component converges, the centered
    frame is deflated (cv <- cv - <cv, v_j> v_j, one window sum + one
    64-row broadcast) and the next component runs the identical
    iteration on the residual. The covariance is still never
    materialized, and per-component state is d doubles.

    The oracle unrolls all 3 components x 3 iterations plus both
    deflation steps, so every per-component intermediate is in-hash:
    iterates, norms, eigenvalues, the deflated frames, and
    ortho_prev9 — the rounded <v_j, v_{j-1}> that pins
    near-orthogonality of successive components. Output 3 x 64 rows:
    (comp, pos, mu9, pc_9, lambda9, ortho_prev9). Reference analogue:
    none (beyond-reference LLM-pipeline tier)."""
    return S.pca_power_topk(
        _t(spark, sf_dir, "embeddings"),
        n_components=PCA_DEFLATE_COMPONENTS,
        iterations=PCA_POWER_ITERATIONS,
    )

"""Similarity search over an embedding column (array<float>).

Beyond-reference scope (the reference has no vector data; its closest
analogue is the LIDA NL page, streamlit.py:473-542, which is retrieval by
LLM, not by geometry). Three retrieval tiers:

- brute-force cosine top-k: the exactness baseline. Query side is tiny and
  broadcast; the corpus is scanned once; per-query top-k via a window over
  the (queries x corpus) score frame. Linear in corpus size — the right
  answer up to ~10^7 vectors per query batch.
- sign-LSH bucketed ANN: random-hyperplane-style LSH degenerated to
  coordinate signs (deterministic, portable to the DuckDB oracle). Buckets
  partition the corpus 2^SIGN_BITS ways; each query probes exactly its own
  bucket. The scale path: probe cost ~ corpus/2^bits, recall traded
  explicitly. Swap the bucket fn for true random hyperplanes (seeded
  broadcast matrix) on a real cluster without changing the plan shape.
- IVF (flat): nearest-centroid cells (first-vector seeds, optionally
  refined by decimal-exact Lloyd iterations); each query probes its
  nprobe best cells.

Also here: int8 quantization (quantize_int8) and principal components by
power iteration (pca_power_top1 / pca_power_topk).

Cosine is computed JVM-side (zip_with/aggregate — functions.portable); no
Python in the hot path. Scores are rounded to 6 dp before ranking so the
top-k frontier is reproducible across engines (last-ulp hygiene)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import portable as P

SIGN_BITS = 8


def _vecs(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))


def topk_bruteforce(
    emb: DataFrame, n_queries: int = 8, k: int = 10
) -> DataFrame:
    """Exact cosine top-k neighbors for each of the first ``n_queries``
    vectors (deterministic query set: vec_id < n_queries), self excluded.

    Rank key: (rounded cosine desc, neighbor id asc) — total order, so the
    selected k rows are engine-independent.
    """
    vecs = _vecs(emb)
    q = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        vecs.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(P.cosine("qv", "v"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def sign_bucket(vec_col: str, bits: int = SIGN_BITS) -> F.Column:
    """LSH bucket id: sign bits of the first ``bits`` coordinates."""
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> "
        f" acc + case when element_at({vec_col}, i + 1) > 0"
        f"  then shiftleft(1L, i) else 0L end)"
    )


def topk_ann_ivf(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style ANN: coarse quantizer -> inverted cells -> probe the
    query's ``nprobe`` nearest cells only.

    Quantizer: the first ``n_cells`` corpus vectors serve as deterministic
    seed centroids (an IVF-flat layout; swapping in k-means-refined
    centroids changes only the `cells` frame, not the plan shape). Every
    vector is assigned to its max-cosine centroid (ties -> lowest cell
    id); a query scores n_cells centroids, probes nprobe cells, ranks
    candidates there. Probe cost ~ corpus * nprobe / n_cells.

    Scale: the assignment column is the storage partitioning key (write
    the corpus partitioned/bucketed by cell); probing is then partition
    pruning, and each query touches nprobe partitions of a 10^9-vector
    corpus. All ranking keys are rounded -> engine-deterministic (the
    dd/sim oracle convention).
    """
    vecs = _vecs(emb)
    cells = vecs.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    assign = _assign_cells(vecs, cells)
    q = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("probe_cos"), F.asc("cell")
    )
    probe = (
        q.crossJoin(F.broadcast(cells))
        .withColumn("probe_cos", F.round(P.cosine("qv", "cv"), 6))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        assign.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(P.cosine("qv", "v"), 6).alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def _pin(df: DataFrame, name: str) -> DataFrame:
    """Re-emit column ``name`` through a one-element explode so that
    downstream higher-order-function lambdas referencing it see a plain
    ATTRIBUTE. Without the Generate barrier, CollapseProject inlines
    the column's defining expression into the lambda body and the
    optimizer-inlined copy is re-evaluated PER ARRAY ELEMENT (measured:
    a d-element norm fold re-run once per candidate centroid). The
    explode of a one-element array is row-preserving and evaluates the
    expression exactly once per row, below the barrier."""
    return (
        df.withColumn("_pin", F.explode(F.array(F.col(name))))
        .drop(name)
        .withColumnRenamed("_pin", name)
    )


def _cells_row(cells: DataFrame) -> DataFrame:
    """All centroids as ONE broadcastable row: ``_cells`` =
    array<struct<cell, cv, ncv>> sorted by cell id, with each
    centroid's Euclidean norm pre-computed once (``ncv`` holds exactly
    :func:`P.spark_norm_sql` of ``cv``, so downstream pre-normalized
    cosines stay bit-identical to the inline form)."""
    return cells.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cell"),
                    F.col("cv"),
                    F.expr(P.spark_norm_sql("cv")).alias("ncv"),
                )
            )
        ).alias("_cells")
    )


def _best_cell_sql(vec: str = "v", nvec: str = "nv") -> str:
    """Nearest-centroid argmax as a single map-side expression over the
    broadcast ``_cells`` array (requires :func:`_cells_row` cross-joined
    in and a pre-computed ``nvec`` norm column): returns a
    struct<s, nc, cell> whose fields are the winning rounded cosine and
    cell. ``array_max`` over struct(s, -cell, cell) realizes exactly the
    (score DESC, cell ASC) total order the r13 ``max_by`` used — but as
    a pure projection, so the corpus-wide Exchange that the
    ``groupBy(vec_id).agg(max_by(...))`` formulation paid (shuffling
    every vector's payload once per assignment — the dominant shuffle
    of every Lloyd/IVF build at 10^9 vectors) disappears entirely
    (guide section 2.4: remove shuffles outright)."""
    score = f"round({P.spark_cosine_prenorm_sql(vec, 'c.cv', nvec, 'c.ncv')}, 6)"
    return (
        f"array_max(transform(_cells, c -> "
        f"struct({score} AS s, -c.cell AS nc, c.cell AS cell)))"
    )


def _assign_cells(vecs: DataFrame, cells: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by rounded cosine (ties -> lowest
    cell). PRECONDITION (ADVICE r16): per-row projection — duplicate
    vec_id rows in ``vecs`` pass through un-collapsed (the replaced
    max_by aggregation deduped per key); all callers feed unique-keyed
    corpora. Shuffle-FREE since r16: the centroid table is collapsed to a
    single broadcast row (:func:`_cells_row`) and each vector picks its
    argmax cell in one projection (:func:`_best_cell_sql`) — the r13
    ``max_by`` partial aggregation still paid one full-corpus Exchange
    (hash(vec_id), vector payload included) per assignment; this pays
    none. The struct order (s, -cell) is the same (cell_cos DESC, cell
    ASC) total order, so assignments are identical row-for-row.

    Invariant (ADVICE r13, carried): the rounded cosine must be
    non-NULL for at least one centroid per vector — a NULL score field
    sorts LOWEST inside ``array_max``'s struct order (max_by SKIPPED
    null keys; the old window ranked NULLS LAST), so the formulations
    coincide unless EVERY centroid scores NULL, which P.cosine produces
    only for NULL/ragged input arrays (the fixture has neither; a
    zero-norm vector yields NaN, which sorts ABOVE every double in both
    formulations — same assignment either way). An EMPTY ``cells``
    frame now yields NULL cells instead of an empty result — no caller
    builds one (Lloyd never empties its seed set)."""
    return (
        _pin(
            vecs.crossJoin(F.broadcast(_cells_row(cells))).withColumn(
                "nv", F.expr(P.spark_norm_sql("v"))
            ),
            "nv",
        )
        .select(
            "vec_id",
            "v",
            F.expr(_best_cell_sql() + ".cell").alias("cell"),
        )
    )


def refine_centroids(vecs: DataFrame, cells: DataFrame) -> DataFrame:
    """One Lloyd iteration: assign, then per-cell per-dimension mean.

    Means are DECIMAL-exact (sum cast to decimal(38,12), divide after the
    deterministic cast back to double) so the refined centroids are
    bit-identical across engines and partitionings — float means would
    differ in final ulps by summation order and flip boundary
    assignments downstream. Cells that capture no vectors disappear
    (consistent everywhere, since assignment itself is deterministic).
    """
    assign = _assign_cells(vecs, cells)
    pos = assign.select("cell", F.posexplode("v").alias("pos", "val"))
    cent = pos.groupBy("cell", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
            / F.count("*")
        ).alias("cv_e")
    )
    return (
        cent.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv_e"))).alias("pc"))
        .select("cell", F.expr("transform(pc, x -> x.cv_e)").alias("cv"))
    )


def topk_ann_ivf_kmeans(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    iterations: int = 1,
) -> DataFrame:
    """IVF with a k-means-refined quantizer: seed centroids (first
    n_cells vectors) -> ``iterations`` Lloyd iterations (refine_centroids)
    -> assign / probe / rank against the refined cells. Better-balanced
    cells than the raw-seed quantizer at identical plan shape.

    Each iteration is one shuffle over exploded dimensions and is
    materialized (localCheckpoint) before the next: the alternative is a
    lineage that stacks a full corpus pass per iteration and gets
    re-executed by both the assignment and the probe branch — at 10^9
    vectors that's iterations x 2 redundant corpus scans. Decimal-exact
    means keep every iteration bit-reproducible across engines and
    partitionings, so the whole index build is oracle-checkable at any
    iteration count."""
    vecs = _vecs(emb)
    seeds = vecs.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    cells = seeds
    for _ in range(iterations):
        # n_cells rows, but the lineage is a whole Lloyd pass over the
        # corpus; the next iteration, assignment, and probing all
        # reference it — materialize once per iteration.
        cells = refine_centroids(vecs, cells).localCheckpoint(eager=True)
    assign = _assign_cells(vecs, cells)
    q = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("probe_cos"), F.asc("cell")
    )
    probe = (
        q.crossJoin(F.broadcast(cells))
        .withColumn("probe_cos", F.round(P.cosine("qv", "cv"), 6))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        assign.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(P.cosine("qv", "v"), 6).alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def topk_ann_signlsh(
    emb: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Approximate top-k: rank only within the query's sign-LSH bucket.

    The bucket equi-join replaces the cross join — at 10^9 vectors the
    probe set shrinks ~2^bits-fold; the bucket column is also the natural
    partitioning/bucketing key for the stored corpus, making the probe a
    co-located (shuffle-free) join after one `repartition(bucket)` write.
    """
    vecs = _vecs(emb).withColumn("bkt", sign_bucket("v"))
    q = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bkt").alias("qbkt"),
    )
    scored = (
        vecs.join(
            F.broadcast(q),
            (F.col("bkt") == F.col("qbkt")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(P.cosine("qv", "v"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


QUANT_SCHEMA = "vec_id bigint, n_dims bigint, scale9 double, codes_csv string"


def quantize_int8(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the storage
    path for vector corpora at scale: fp32 -> int8 codes + one fp scale
    per vector cuts embedding bytes 4x (the difference between a
    memory-resident and a disk-bound ANN index at 10^9+ vectors), with
    approximate distances computed on the codes and the scale folded in
    afterwards.

    scale = max|x| / 127; code = round_half_away_from_zero(x / scale)
    (explicit half-away rounding — numpy's default round is half-to-EVEN
    and silently diverges from SQL round on exact halves). Zero vectors
    quantize to all-zero codes. Runs in Arrow-batched mapInPandas on a
    2-column projection — map-only, no shuffle; codes serialize to CSV
    for the driver comparator (same convention as mm_features_resize).
    """
    from collections.abc import Iterator

    import pandas as pd

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for vid, v in zip(pdf["vec_id"], pdf[vec_col]):
                a = np.asarray(v, dtype=np.float64)
                m = float(np.abs(a).max()) if a.size else 0.0
                scale = m / 127.0
                if scale == 0.0:
                    codes = np.zeros(a.size, dtype=np.int64)
                else:
                    codes = (
                        np.sign(a) * np.floor(np.abs(a) / scale + 0.5)
                    ).astype(np.int64)
                out.append(
                    (
                        int(vid),
                        int(a.size),
                        round(scale, 9),
                        ",".join(str(c) for c in codes),
                    )
                )
            yield pd.DataFrame(
                out, columns=["vec_id", "n_dims", "scale9", "codes_csv"]
            )

    return emb.select("vec_id", vec_col).mapInPandas(fn, QUANT_SCHEMA)


def pca_power_top1(emb: DataFrame, iterations: int = 3) -> DataFrame:
    """Top principal component of the embedding corpus by DISTRIBUTED
    POWER ITERATION — the whitening/compression prep step an embedding
    pipeline runs before ANN indexing or dimensionality reduction
    The covariance matrix is never materialized: each iteration applies
    C = (1/n) Sigma (v-mu)(v-mu)^T to the current iterate x as ONE pass
    over the (vec_id, cv array) corpus — s_i = <v_i - mu, x> is a
    map-side decimal fold per row, y = Sigma_i (v_i - mu) s_i a
    d-group aggregation of map-side-combined partial sums — so the
    plan per iteration is one corpus scan plus a d x n_partitions-row
    exchange, and the iterate state is d doubles held on the DRIVER
    (a bounded 1-row collect per iteration; re-embedded as exact
    double literals — the classic iterative-algorithm shape, and the
    10^9-vector plan: no corpus-sized shuffle anywhere). r16 rewrite:
    the original exploded (vec_id, pos, val) formulation paid a
    vec_id-partitioned window Exchange over the whole corpus per
    iteration plus an eager localCheckpoint + broadcast build of the
    iterate frame; this pays neither.

    Exactness (the Lloyd-refine discipline): the per-dimension mean and
    every inner-product accumulation are DECIMAL term-cast sums at
    scale 12 (order-independent, bit-equal across engines and
    partitionings — the refine_centroids idiom; see _dot_dec12_sql for
    the fold's width choreography); each new iterate is rounded to 9 dp
    before it re-enters the next pass; the start vector is the exact
    double 1/8 = 0.125 on all 64 positions; the driver round-trip is
    exact (doubles collect and re-embed bit-identically). The sign
    convention flips the final component so its pos-0 entry is
    non-negative. Returns 64 rows: (pos, mu9, pc1_9, lambda9) — the
    centering mean, the unit top component, and the top-eigenvalue
    estimate (the final pre-normalization norm divided back by n)."""
    if iterations < 1:
        # ADVICE r11: with iterations=0 `nrm` stays None and the final
        # projection crashes opaquely — fail fast with the contract.
        raise ValueError("pca_power_top1 requires iterations >= 1")
    spark = emb.sparkSession
    base = _vecs(emb)
    mu, n = _mu_and_n(base)
    c = _centered_lit(base, mu)
    x = [0.125] * len(mu)
    nrm = None
    for _ in range(iterations):
        x, _vx, nrm = _power_step_lit(c, x)
    # the loop applies n*C (the un-normalized scatter action — the 1/n
    # cancels out of the normalized iterate, so the component is
    # unaffected); the Rayleigh estimate divides it back out once
    return (
        spark.range(1)
        .select(
            _lit_arr(mu).alias("mu_arr"),
            _lit_arr(x).alias("x_arr"),
            F.round(
                F.lit(nrm) / F.lit(n).cast("bigint"), 9
            ).alias("lambda9"),
        )
        .select(
            F.posexplode(F.arrays_zip("mu_arr", "x_arr")).alias("pos", "z"),
            F.when(F.element_at("x_arr", 1) < 0, F.lit(-1.0))
            .otherwise(F.lit(1.0))
            .alias("sgn"),
            "lambda9",
        )
        .select(
            F.col("pos").cast("int").alias("pos"),
            F.round(F.col("z.mu_arr"), 9).alias("mu9"),
            F.round(F.col("z.x_arr") * F.col("sgn"), 9).alias("pc1_9"),
            "lambda9",
        )
        .orderBy("pos")
    )


def _lit_arr(vals) -> F.Column:
    """An array<double> literal from driver-held doubles — the exact
    re-embedding half of the bounded iterate round-trip (F.lit of a
    Python float is the identical IEEE double)."""
    return F.array(*[F.lit(float(v)) for v in vals])


def _mu_and_n(base: DataFrame) -> tuple[list[float], int]:
    """(per-dimension decimal-exact corpus mean, corpus count) in ONE
    job — the d-row bounded collect that seeds the power iteration
    (the same sum(DECIMAL)/count expression the original 64-row mu
    frame held, plus the count that the old separate nn aggregate
    re-scanned for)."""
    # PRECONDITION (ADVICE r16): every corpus vector must be non-empty
    # and fixed-width — n is derived from the pos-0 group's count, so a
    # row with an EMPTY embedding array would be excluded from n (the
    # old corpus-level count included it), and an empty corpus returns
    # (mu=[], n=0), whose _lit_arr([]) is an untyped empty array. The
    # embeddings fixture is uniformly d=64; pca callers own the check.
    rows = (
        base.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                / F.count("*")
            ).alias("mu"),
            F.count("*").alias("n"),
        )
        .orderBy("pos")
        .collect()
    )
    return [r["mu"] for r in rows], int(rows[0]["n"]) if rows else 0


def _centered_lit(base: DataFrame, mu: list[float]) -> DataFrame:
    """(vec_id, cv array<double>): the centered corpus as a pure LAZY
    projection against the literal mean — re-evaluation is a cached
    scan + one zip_with; nothing here shuffles or materializes."""
    return base.select(
        "vec_id",
        F.zip_with("v", _lit_arr(mu), lambda a, b: a - b).alias("cv"),
    )


def _dot_dec12_sql(a: str, b: str) -> str:
    """The per-row <a, b> inner product with the DECIMAL term-cast
    discipline: each product is rounded to 12 dp BEFORE accumulation
    (the same HALF_UP decimal cast the old per-term DECIMAL(38,12)
    columns used), so the in-order fold is exact and equals the old
    vec_id-window decimal SUM bit-for-bit (decimal addition is
    associative/commutative; a 12-dp-scale decimal holds the identical
    value at ANY precision wide enough). Width choreography: Spark has
    no type-stable decimal Add — (p,12)+(p,12) yields (p+1,12) until
    the 38 cap, where the SCALE drops to 11 and the 12th digit would
    round away — so the fold accumulates in (32,12), lets the add
    produce (33,12) exactly, and casts back to (32,12), which changes
    only the precision (no scale rounding, pure range check). Widened
    from (26,12) in r17 (ADVICE r16): same values for every in-range
    sum — the scale (and therefore every digit) is unchanged, only the
    overflow-to-NULL boundary moves from 10^14 to 10^20 of headroom
    against the centered-unit-scale |sum| < 10^6 envelope; the
    boundary itself is pinned by
    tests/test_vectors.py::test_dot_dec12_overflow_envelope."""
    return (
        f"CAST(aggregate(zip_with({a}, {b},"
        " (p, q) -> CAST(p * q AS DECIMAL(32,12))),"
        " CAST(0 AS DECIMAL(32,12)),"
        " (acc, t) -> CAST(acc + t AS DECIMAL(32,12))) AS DOUBLE)"
    )


def _power_step_lit(
    c: DataFrame, x: list[float]
) -> tuple[list[float], list[float], float]:
    """One power iteration y = (nC)x, renormalized — ONE job: the
    per-vector inner product s = <cv, x> is a map-side decimal fold
    against the literal iterate, the d-group y-aggregation is the only
    exchange (map-side-combined partial decimal sums, d x n_partitions
    tiny rows), and the norm, the 9-dp-rounded next iterate AND its
    sign-fixed variant ride the same single-row aggregate, collected
    to the driver (bounded: d doubles). All arithmetic is the
    original's: term-cast DECIMAL sums, double mult, round to 9 dp —
    bit-identical iterates.

    The y-terms consume ``s`` BELOW the posexplode Generate on purpose:
    a scalar referenced inside a higher-order-function lambda gets its
    defining expression INLINED by CollapseProject and re-evaluated per
    array element (measured: the d-element fold re-run d times per
    row); past the Generate barrier it is a plain attribute, evaluated
    once per vector."""
    terms = (
        c.withColumn("x_arr", _lit_arr(x))
        .withColumn("s", F.expr(_dot_dec12_sql("cv", "x_arr")))
        .select("s", F.posexplode("cv").alias("pos", "a"))
        .select(
            "pos",
            (F.col("a") * F.col("s")).cast("decimal(38,12)").alias("t"),
        )
    )
    y = terms.groupBy("pos").agg(F.sum("t").cast("double").alias("y"))
    row = (
        y.agg(
            F.array_sort(F.collect_list(F.struct("pos", "y"))).alias("py"),
            F.sqrt(
                F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)"))
                .cast("double")
            ).alias("nrm"),
        )
        .select(
            F.expr("transform(py, p -> round(p.y / nrm, 9))").alias(
                "x_arr"
            ),
            "nrm",
        )
        .select(
            "x_arr",
            "nrm",
            # the component the iterate converges to, sign-fixed and
            # re-rounded EXACTLY as the original (round(x * sgn, 9));
            # computed engine-side so the rounding function is Spark's
            F.expr(
                "transform(x_arr, e -> round(e *"
                " (CASE WHEN x_arr[0] < 0 THEN CAST('-1.0' AS DOUBLE)"
                " ELSE CAST('1.0' AS DOUBLE) END), 9))"
            ).alias("vx_arr"),
        )
        .collect()[0]
    )
    return list(row["x_arr"]), list(row["vx_arr"]), float(row["nrm"])



def pca_power_topk(
    emb: DataFrame, n_components: int = 3, iterations: int = 3
) -> DataFrame:
    """Top-``n_components`` principal components by power iteration WITH
    DEFLATION (VERDICT r11 ask #3 — consume pca_power_top1's rotation
    claim): after each component v_j converges, the centered frame is
    deflated in place (cv <- cv - <cv, v_j> v_j — a map-side decimal
    fold per row against the literal component, composed LAZILY onto
    the centered projection) and the next component runs the identical
    iteration on the residual — so the covariance is STILL never
    materialized and per-component state stays d doubles on the
    driver. Total plan: n_components x iterations single-job corpus
    passes, each pca_power_top1's per-iteration shape (no corpus-sized
    shuffle, no checkpoint: the deflation chain is a bounded stack of
    per-row folds that re-evaluates from the cached base scan).

    Exactness: same DECIMAL term-cast discipline (_dot_dec12_sql);
    each component re-enters the deflation as its 9-dp-rounded SIGNED
    vector (sign flip leaves <cv,v>v invariant, so using the signed
    vector keeps the engines trivially identical); the start iterate is
    the exact double 1/8 every component; driver round-trips of
    iterates are exact. Output n_components x 64 rows:
    (comp, pos, mu9, pc_9, lambda9, ortho_prev9) — ortho_prev9 pins
    near-orthogonality against the PREVIOUS component in-hash (0.0 for
    comp 0)."""
    if iterations < 1 or n_components < 1:
        raise ValueError("pca_power_topk requires >= 1 component/iteration")
    spark = emb.sparkSession
    base = _vecs(emb)
    mu, n = _mu_and_n(base)
    c = _centered_lit(base, mu)
    out = None
    prev_vx = None
    for comp in range(n_components):
        x = [0.125] * len(mu)
        nrm = None
        vx = None
        for _ in range(iterations):
            x, vx, nrm = _power_step_lit(c, x)
        one = spark.range(1).select(
            _lit_arr(mu).alias("mu_arr"),
            _lit_arr(vx).alias("vx_arr"),
            F.round(
                F.lit(nrm) / F.lit(n).cast("bigint"), 9
            ).alias("lambda9"),
        )
        if prev_vx is None:
            one = one.withColumn(
                "ortho_prev9", F.lit(0.0).cast("double")
            )
        else:
            # <v, prev_v> as the same DECIMAL term-cast fold the old
            # 64-row sum computed — exact, so order-independent.
            one = one.withColumn("pv_arr", _lit_arr(prev_vx)).withColumn(
                "ortho_prev9",
                F.round(F.expr(_dot_dec12_sql("vx_arr", "pv_arr")), 9),
            )
        rows = (
            one.select(
                F.posexplode(F.arrays_zip("mu_arr", "vx_arr")).alias(
                    "pos", "z"
                ),
                "lambda9", "ortho_prev9",
            )
            .select(
                F.lit(comp).cast("int").alias("comp"),
                F.col("pos").cast("int").alias("pos"),
                # + 0.0 canonicalizes IEEE -0.0 to +0.0 (the DuckDB
                # twin does the same): DuckDB's round() preserves the
                # sign of zero, Spark's BigDecimal round does not, so
                # a -0.0 anywhere in the output would split the
                # driver's value hash on bit pattern alone.
                (F.round(F.col("z.mu_arr"), 9) + F.lit(0.0)).alias("mu9"),
                (F.col("z.vx_arr") + F.lit(0.0)).alias("pc_9"),
                (F.col("lambda9") + F.lit(0.0)).alias("lambda9"),
                (F.col("ortho_prev9") + F.lit(0.0)).alias("ortho_prev9"),
            )
        )
        out = rows if out is None else out.unionByName(rows)
        prev_vx = vx
        if comp < n_components - 1:
            # Deflate in place: cv <- cv - <cv, v> v. The projection
            # coefficient s is the same map-side decimal fold as the
            # power step's, against the LITERAL component — the chain
            # stays a lazy projection (bounded depth: n_components-1
            # folds per row), so no checkpoint is needed.
            c = (
                _pin(
                    c.withColumn("vx_arr", _lit_arr(vx)).withColumn(
                        "s", F.expr(_dot_dec12_sql("cv", "vx_arr"))
                    ),
                    "s",
                )
                .select(
                    "vec_id",
                    F.expr(
                        "zip_with(cv, vx_arr, (a, b) -> a - s * b)"
                    ).alias("cv"),
                )
            )
    return out.orderBy("comp", "pos")

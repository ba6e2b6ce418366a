"""Embedding linear-algebra tier (beyond-reference, r6).

The similarity stack (operators.similarity: brute-force / sign-LSH /
IVF) answers "what is near X?". This module adds the two primitives a
training-data pipeline runs BEFORE building those indexes:

- **covariance audit** (`sim_embedding_covariance`): the upper triangle
  of the embedding covariance matrix — the standard health check for a
  new embedding batch (collapsed dimensions, unexpected correlation,
  variance drift vs a reference run) and the input to PCA whitening.
- **random projection** (`sim_random_projection`): Johnson-
  Lindenstrauss sign-matrix projection 64d -> 4d — the cheap
  dimensionality reduction used for sketch-sized dedup keys and
  blocking; the projection matrix is a deterministic Rademacher matrix
  derived from md5, so every executor (and the DuckDB oracle)
  materializes the identical matrix with zero coordination.

Exactness: embeddings are float32; each component is rounded to 6dp and
scaled to integer micro-units (BIGINT), so every inner product / moment
is exact integer arithmetic (order-independent across partitions);
results go double only in one final identically-shaped expression.

Scale: both queries are map-only over the vectors plus one grouped
reduction — no shuffle wider than the aggregate, no per-row Python.
Reference analogue: none (the reference has no vector tier).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t, query

EMB_DIM = 64
COV_DIMS = 8  # covariance audit covers the leading 8x8 block
RP_K = 4  # JL target dimensionality

_SCALE = 1_000_000
_SCALE2 = float(_SCALE) * float(_SCALE)


def _xi_spark(i: int):
    """Component i as exact integer micro-units (see module docstring)."""
    return (
        F.round(F.col("embedding").getItem(i).cast("double"), 6).cast(
            "decimal(20,6)"
        )
        * _SCALE
    ).cast("bigint")


def _xi_sql(i: int) -> str:
    """DuckDB twin of :func:`_xi_spark` (1-based list indexing)."""
    return (
        f"CAST(CAST(round(embedding[{i + 1}]::DOUBLE, 6) AS DECIMAL(20,6))"
        f" * {_SCALE} AS BIGINT)"
    )


def rademacher_sign(i: int, j: int) -> int:
    """Deterministic +-1 from the repo's portable-md5 convention
    (functions.portable.md5_long semantics on the string 'rp{i}_{j}'):
    the matrix is a pure function of (i, j), so Spark executors and the
    SQL oracle inline the same literal constants — no broadcast, no
    stored matrix, reproducible across runs and engines."""
    h = int(hashlib.md5(f"rp{i}_{j}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


_COV_PAIRS = [(i, j) for i in range(COV_DIMS) for j in range(i, COV_DIMS)]


def _cov_oracle() -> str:
    xs = ",\n             ".join(
        f"{_xi_sql(i)} AS x{i}" for i in range(COV_DIMS)
    )
    sums = ",\n             ".join(
        f"CAST(sum(CAST(x{i} AS DECIMAL(38,0))) AS DOUBLE) AS s_{i}"
        for i in range(COV_DIMS)
    )
    prods = ",\n             ".join(
        f"CAST(sum(CAST(x{i} * x{j} AS DECIMAL(38,0))) AS DOUBLE)"
        f" AS sp_{i}_{j}"
        for i, j in _COV_PAIRS
    )
    branches = "\n    UNION ALL ".join(
        f"SELECT {i} AS dim_i, {j} AS dim_j, n,"
        f" round((sp_{i}_{j} - s_{i} * s_{j} / n) / n / {_SCALE2}, 6)"
        f" AS cov FROM a"
        for i, j in _COV_PAIRS
    )
    return f"""
    WITH x AS (
      SELECT {xs}
      FROM embeddings),
    a AS (
      SELECT count(*) AS n,
             {sums},
             {prods}
      FROM x)
    {branches}
    ORDER BY dim_i, dim_j
    """


@query(
    "sim_embedding_covariance",
    _cov_oracle(),
    # New r6 (locally pinned; r7 rotation candidate).
    driver=True,  # REFRESH r18 (evidence-age re-earn, not a first-timer; plans/rotation.py)
)
def sim_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance of the leading 8x8 block of the embedding
    matrix (upper triangle: 36 rows of (dim_i, dim_j, n, cov)) — the
    embedding-batch health audit: a near-zero diagonal entry is a
    collapsed dimension, a large off-diagonal one is redundancy, and the
    whole block is the input to PCA/whitening. The leading block is the
    audit contract; the same single-pass plan covers any dim list.

    One narrow projection (vec_id + 8 scaled components), ONE grouped
    reduction computing all 8 sums + 36 product-sums map-side (a single
    partial-aggregate pass over the vectors — not 36 jobs), then a
    44-column single row unpivoted via stack(). cov = E[xy] - E[x]E[y]
    on exact integer moments, one double expression per pair.

    At 100 TB: the reduction is a scalar aggregate — combiner does
    everything, one row crosses the wire per partition. Reference
    analogue: none."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        *[_xi_spark(i).alias(f"x{i}") for i in range(COV_DIMS)]
    )
    aggs = [F.count("*").alias("n")]
    aggs += [
        F.sum(F.col(f"x{i}").cast("decimal(38,0)"))
        .cast("double")
        .alias(f"s_{i}")
        for i in range(COV_DIMS)
    ]
    aggs += [
        F.sum((F.col(f"x{i}") * F.col(f"x{j}")).cast("decimal(38,0)"))
        .cast("double")
        .alias(f"sp_{i}_{j}")
        for i, j in _COV_PAIRS
    ]
    a = x.agg(*aggs)
    covs = a.select(
        "n",
        *[
            F.round(
                (
                    F.col(f"sp_{i}_{j}")
                    - F.col(f"s_{i}") * F.col(f"s_{j}") / F.col("n")
                )
                / F.col("n")
                / F.lit(_SCALE2),
                6,
            ).alias(f"cov_{i}_{j}")
            for i, j in _COV_PAIRS
        ],
    )
    stack_args = ", ".join(
        f"{i}, {j}, cov_{i}_{j}" for i, j in _COV_PAIRS
    )
    return covs.selectExpr(
        "n",
        f"stack({len(_COV_PAIRS)}, {stack_args}) AS (dim_i, dim_j, cov)",
    ).select("dim_i", "dim_j", "n", "cov").orderBy("dim_i", "dim_j")


def _rp_terms_sql(j: int) -> str:
    return " ".join(
        ("+" if rademacher_sign(i, j) > 0 else "-") + f" x{i}"
        for i in range(EMB_DIM)
    ).lstrip("+ ")


def _rp_oracle() -> str:
    xs = ",\n             ".join(
        f"{_xi_sql(i)} AS x{i}" for i in range(EMB_DIM)
    )
    projs = ",\n           ".join(
        f"round(({_rp_terms_sql(j)}) / {_SCALE}.0, 6) AS p{j}"
        for j in range(RP_K)
    )
    return f"""
    WITH x AS (
      SELECT vec_id,
             {xs}
      FROM embeddings)
    SELECT vec_id,
           {projs}
    FROM x ORDER BY vec_id
    """


@query(
    "sim_random_projection",
    _rp_oracle(),
    # New r6 (locally pinned; r7 rotation candidate).
    driver=True,  # REFRESH r18 (evidence-age re-earn, not a first-timer; plans/rotation.py)
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss Rademacher projection 64d -> 4d: each
    output is sum_i sign(i,j) * x_i with signs from
    :func:`rademacher_sign` (portable-md5 of 'rp{i}_{j}' mod 2 — a
    coordination-free deterministic matrix; same construction as
    operators.similarity's sign-LSH hyperplanes, exposed here as a
    standalone reusable transform for sketch keys and blocking).

    Exactness: scaled-integer components, signed BIGINT sums (exact,
    associativity-free), one final division + round per output.

    Map-only — zero shuffle, whole-stage codegen end to end; at 100 TB
    this runs at scan speed with the 4 projections fused into the
    parquet read stage. Reference analogue: none."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", *[_xi_spark(i).alias(f"x{i}") for i in range(EMB_DIM)]
    )
    projs = []
    for j in range(RP_K):
        acc = None
        for i in range(EMB_DIM):
            term = F.col(f"x{i}")
            signed = term if rademacher_sign(i, j) > 0 else -term
            acc = signed if acc is None else acc + signed
        projs.append(
            F.round(acc / F.lit(float(_SCALE)), 6).alias(f"p{j}")
        )
    return x.select("vec_id", *projs).orderBy("vec_id")

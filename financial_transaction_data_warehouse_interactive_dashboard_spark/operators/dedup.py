"""Shingle, MinHash/LSH and contamination operators for the text tier.

The reference has no dedup (its only set-difference is the missing-symbol
anti-join, etl.ipynb:16-29); these are the engine's beyond-reference
extensions over the ``documents`` fixture, designed for the 100 TB path:

- MinHash + LSH: banded signatures -> candidates only for pairs sharing a
  band bucket -> exact-Jaccard verify. The linear-scale path: cost is
  O(docs x hashes) + O(candidate pairs), never all-pairs.
- contamination report: train documents sharing shingles with a test set,
  joined on 60-bit shingle hashes.

Every hash is the portable md5-based one (functions.portable) so each
operator has a bit-identical DuckDB oracle (plans.beyond_text)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P

# LSH design point: 16 salted hashes, 8 bands x 2 rows. Candidate
# probability 1-(1-j^2)^8: j=0.3 -> 0.53, j=0.5 -> 0.90, j=0.8 -> 0.9998.
MINHASH_N = 16
LSH_ROWS = 2
LSH_BANDS = MINHASH_N // LSH_ROWS

# Shingle width. 5-word shingles, not 3: the fixture vocabulary is tiny
# (~31 words), so 3-grams give RANDOM doc pairs nontrivial Jaccard and the
# shared-shingle/LSH candidate space grows ~quadratically (measured ~1M
# candidate pairs at sf0.1 with n=3 vs 1,460 with n=5, identical planted
# near-dup recall). Same principle at corpus scale: size shingles so that
# chance collisions are rare in the n-gram space.
N_SHINGLE = 5


def shingle_rows(docs: DataFrame, n: int = N_SHINGLE) -> DataFrame:
    """Distinct (doc_id, shingle) rows — the workhorse shingle shape.

    Physical: posexplode tokens WITH the token array kept alongside ->
    slice the array at the generated position -> concat. Shuffle-FREE up
    to the final ``distinct`` (r16: was posexplode -> per-doc window
    lead(1..n-1), whose sort paid a full Exchange of the exploded token
    frame per shingle pass — a map-local operation, guide section 2.4;
    ``slice``/``concat_ws`` are ordinary codegen expressions, NOT
    interpreted higher-order lambdas, so this keeps the codegen-path
    speed the old docstring's HOF comparison was about). lead(i) over
    (doc_id, pos) == w[pos+i] by construction, so the emitted shingle
    strings are identical. Values are identical to
    functions.portable.shingles (pinned by the DuckDB oracles).
    """
    tok = docs.select(
        "doc_id",
        F.split("text", " ").alias("w"),
    ).select("doc_id", "w", F.posexplode("w").alias("pos", "t"))
    return (
        tok.filter(F.col("pos") + n <= F.size("w"))
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.slice("w", F.col("pos") + 1, n)
            ).alias("s"),
        )
        .distinct()
    )


def _jaccard_from_counts(
    co: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, common) + per-doc sizes -> thresholded Jaccard pairs.
    |A u B| = |A| + |B| - |A n B|, so no second pass over shingles."""
    return (
        co.join(
            sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def contamination_report(
    train: DataFrame,
    test: DataFrame,
    n: int = N_SHINGLE,
    min_shared: int = 1,
) -> DataFrame:
    """Test-set decontamination: (train doc_id, n_shared) for every train
    document sharing at least ``min_shared`` distinct word-n-gram
    shingles with ANY test document — the hygiene pass an LLM training
    pipeline runs so benchmark text doesn't leak into the training mix.

    Scale shape: both sides reduce to distinct (doc, shingle-HASH) rows
    first — the join key is the 60-bit portable hash (16 bytes) instead
    of the shingle string, so the shuffle is sized by shingle COUNT, not
    text bytes; the test-side set is tiny relative to train (a benchmark
    suite vs a corpus) and AQE will broadcast it when it fits. One
    shuffle join + one aggregation, all codegen.
    """
    t = (
        shingle_rows(test, n)
        .select(P.md5_long("s").alias("h"))
        .distinct()
    )
    tr = shingle_rows(train, n).select("doc_id", P.md5_long("s").alias("h"))
    return (
        tr.join(t, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def minhash_signatures(docs: DataFrame, n: int = N_SHINGLE) -> DataFrame:
    """doc_id + minhash signature (MINHASH_N min-hashes by double hashing).

    Kirsch-Mitzenmacher: ONE md5 per shingle yields two independent 60-bit
    halves (a, b); hash family h_j = (a + j*b) mod p. Equivalent min-hash
    statistics to j independent hashes, 1/16th the md5 work (md5 dominates
    the signature stage), and portable to the DuckDB oracle verbatim.
    Both operands are pre-reduced mod p so j*b stays far from int64
    overflow.

    Physical shape: explode shingles -> one md5 -> MINHASH_N integer
    columns -> one groupBy(doc_id) with MINHASH_N min() aggregates. All
    whole-stage codegen; a pure higher-order-function formulation (no
    shuffle) benches ~7x slower because Catalyst INTERPRETS lambda bodies.
    The shuffle is tiny: map-side partial min reduces to one 16-long row
    per doc per partition before the exchange.
    """
    p = P.ROLL_MOD
    ab = shingle_rows(docs, n).select(
        "doc_id",
        (P.md5_long("s", 15, 1) % p).alias("ha"),
        (P.md5_long("s", 15, 16) % p).alias("hb"),
    )
    hashes = [
        ((F.col("ha") + F.lit(j) * F.col("hb")) % p).alias(f"h{j}")
        for j in range(MINHASH_N)
    ]
    return (
        ab.select("doc_id", *hashes)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{j}").alias(f"s{j}") for j in range(MINHASH_N)])
        .select(
            "doc_id",
            F.array(*[f"s{j}" for j in range(MINHASH_N)]).alias("sig"),
        )
    )


def band_index(docs: DataFrame, n: int = N_SHINGLE) -> DataFrame:
    """(doc_id, band, key) LSH bucket index of a corpus: ~LSH_BANDS short
    rows per document instead of its text. Its banding expression is the
    one the DuckDB oracles reproduce (``sig[b*LSH_ROWS+1 : ...]``)."""
    sigs = minhash_signatures(docs, n)
    return sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {LSH_BANDS - 1}), b -> "
                f" struct(b as band, "
                f"  concat_ws(',', slice(sig, b * {LSH_ROWS} + 1, {LSH_ROWS})) as key))"
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def minhash_lsh_pairs(
    docs: DataFrame, n: int = N_SHINGLE, threshold: float = 0.3
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band signatures -> bucket join ->
    exact-Jaccard verification of candidates only.

    Scale: the expensive all-pairs comparison collapses to
    O(sum over buckets of bucket^2); signatures are 16 longs/doc. Verify
    is count-based: candidate ids broadcast back onto the shingle rows, so
    only candidate pairs' shingles are co-counted — no array materialization.
    """
    bands = band_index(docs, n)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # Materialize the candidate set once: it is SMALL by LSH design (the
    # whole point of banding), but its lineage contains the full
    # signature/band DAG, and the verify below references it three times
    # (pair ids, id set, broadcast) — without truncation Spark recomputes
    # that DAG per reference (~3x the whole query cost, measured).
    # localCheckpoint storage is released by the ContextCleaner when the
    # plan is dropped, so nothing leaks across queries.
    cand = cand.localCheckpoint(eager=True)
    ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # Shingle ONLY the candidate docs (semi-join pushdown), then co-count
    # shared shingles per candidate pair. Materialized once (r16): the
    # frame is CANDIDATE-bounded (LSH-bucketed docs only — small by the
    # same design argument as cand above) and referenced three times
    # below (sizes, both join sides); before r16 the window Exchange
    # inside shingle_rows doubled as the shared reuse point, and its
    # removal (the array-slice rewrite) would otherwise re-evaluate the
    # semi-join + explode per reference.
    #
    # PAYLOAD-FREE since r17 (guide sections 2.3/5 — shuffle keys, not
    # payloads): downstream only ever tests shingle EQUALITY (sizes
    # counts rows, the co-count joins on it), so the shingle string is
    # hashed to one long BEFORE the materialization — the checkpointed
    # bytes and the verify join's shuffle shrink from n-gram strings to
    # 8 bytes/row. Equality on xxhash64 == string equality up to 64-bit
    # collisions (~|shingles|^2 / 2^64 per doc pair — the same accepted
    # odds as the 60-bit md5 keys the signature stage already keys on);
    # oracle-verified bit-exact at sf0.01/sf0.1. Interleaved quiet-host
    # A/B (r17): string-checkpoint 2.57/3.07/3.06/3.54 s vs hashed
    # 2.18/2.68/2.98/3.10 s on three near-dup consumers (since removed)
    # and tx_split_by_cluster; checkpoint-OFF
    # re-measured worse on all consumers (3.71/4.25/4.36 s) — the r16
    # reuse-point argument holds, the payload did not.
    ex = (
        shingle_rows(docs.join(F.broadcast(ids), "doc_id", "left_semi"), n)
        .select("doc_id", F.xxhash64("s").alias("s"))
        .localCheckpoint(eager=True)
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ra = ex.join(
        F.broadcast(cand), ex.doc_id == cand.id_a
    ).select("id_a", "id_b", "s")
    rb = ex.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    co = (
        ra.join(rb, (ra.id_b == rb.id_b) & (ra.s == rb.s_b))
        .groupBy(ra.id_a, ra.id_b)
        .agg(F.count("*").alias("common"))
    )
    return _jaccard_from_counts(co, sizes, threshold)

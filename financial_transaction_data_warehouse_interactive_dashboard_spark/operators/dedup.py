"""Deduplication operators for a large-scale training-data pipeline.

The reference has no dedup (its only set-difference is the missing-symbol
anti-join, etl.ipynb:16-29); these are the engine's beyond-reference
extensions over the ``documents`` / ``embeddings`` fixtures, designed for
the 100 TB path:

- exact dedup: hash-groupBy — one shuffle on a 60-bit content hash, not on
  the full text (shuffle bytes ~= 8B/row + key, not document bytes).
- n-gram Jaccard: shared-shingle blocking (inverted index self-join), the
  exhaustive baseline. Quadratic only within a shingle bucket.
- MinHash + LSH: banded signatures -> candidates only for pairs sharing a
  band bucket -> exact-Jaccard verify. The linear-scale path: cost is
  O(docs x hashes) + O(candidate pairs), never all-pairs.
- SimHash: 32-bit token-histogram fingerprint; near-dup = small Hamming
  distance; 8-bit chunk blocking (pigeonhole: distance <= 3 over 4 chunks
  guarantees >= 1 exact-matching chunk — lossless).
- embedding cosine: label-blocked near-dup pairs over array<float>.

Every hash is the portable md5-based one (functions.portable) so each
operator has a bit-identical DuckDB oracle (plans.beyond)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

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


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each exact-content group.

    Scale: groupBy on the 60-bit hash shuffles ~16 bytes/row. A 100 TB
    corpus dedups with one shuffle sized by row COUNT, not corpus bytes.
    (Collision risk at 60 bits: ~n^2/2^61 — negligible below ~1e8 docs;
    widen to two hash columns beyond that.)
    """
    return (
        docs.select(F.col(id_col), P.md5_long(text_col).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .select(id_col, "n_copies")
    )


def normalize_text(col: Column | str) -> Column:
    """C4/CCNet-style canonical form: lowercase, strip non-alphanumerics,
    collapse runs of whitespace, trim. Pure JVM regexp chain (map-only,
    zero shuffle added) — the normalization itself costs one codegen pass
    over the text bytes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9 ]", ""), " +", " "
        )
    )


def normalized_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup AFTER canonical normalization (the C4/CCNet recipe:
    case folding + punctuation stripping + whitespace collapse), so
    trivially-mutated copies — recapitalized, re-punctuated — collapse
    into one group. Same scale shape as :func:`exact_dedup`: the shuffle
    carries the 60-bit hash of the NORMALIZED text (~16 B/row), never
    the document bytes.

    normalize_text strips everything outside [a-z0-9 ], so a non-ASCII
    or punctuation-only document canonicalizes to the EMPTY string; to
    avoid silently mass-merging every such document under hash(''), an
    empty canonical form falls back to the raw-text hash (those docs
    then dedup exactly, never approximately). The canonical form is
    projected ONCE before the branch — inlining it would run the regexp
    chain twice per row (once in the length test, once in the hash;
    measured 1.58x at sf0.1)."""
    normed = docs.select(
        F.col(id_col),
        F.col(text_col) if isinstance(text_col, str) else text_col,
        normalize_text(text_col).alias("_norm"),
    )
    h = F.when(
        F.length("_norm") == 0, P.md5_long(text_col)
    ).otherwise(P.md5_long("_norm"))
    return (
        normed.select(F.col(id_col), h.alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .select(id_col, "n_copies")
    )


def incremental_dedup(
    batch: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against an already-deduped corpus using only the
    corpus's hash index — the operational form of exact dedup at 100 TB:
    the historical corpus is never re-read or re-shuffled; only its
    ~16-byte/row hash column (``corpus_index``, one column ``h`` as
    produced by :func:`hash_index`) joins against the incoming batch.

    Within-batch duplicates collapse first (min-id representative, same
    contract as :func:`exact_dedup`), then groups whose hash already
    exists in the corpus are anti-joined away. Returns the surviving
    representatives as (id_col, n_copies).

    Scale: one groupBy on the batch's hashes + one anti-join where the
    BUILD side is the index, not the corpus — broadcastable when the
    daily batch meets a long history, shuffle-on-hash otherwise (AQE
    decides). The index itself is maintained incrementally: append the
    survivors' hashes after each batch."""
    grouped = (
        batch.select(F.col(id_col), P.md5_long(text_col).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )
    return (
        grouped.join(corpus_index.select("h").distinct(), "h", "left_anti")
        .select(id_col, "n_copies")
    )


def hash_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content-hash index of a corpus: the distinct 60-bit hashes, the
    only state :func:`incremental_dedup` needs about history."""
    return docs.select(P.md5_long(text_col).alias("h")).distinct()


def passage_dup_report(docs: DataFrame, n: int = 16) -> DataFrame:
    """Per-document duplicated-passage fraction: the share of a doc's
    distinct word-``n``-gram passages that also occur in at least one
    OTHER document (Lee et al. 2021's exact-substring dedup signal,
    span-hash approximation — flags boilerplate/templated spans that
    per-document hashing can never catch).

    Physical: distinct (doc, passage-hash) rows via the codegen
    posexplode+lead pipeline (shingle_rows), one groupBy on the 60-bit
    hash to count distinct docs per passage, joined back on the hash
    (both sides corpus-sized — a shuffle join, NOT a broadcast), then
    one groupBy per doc. Three shuffles total, all keyed by 8-byte
    hashes, never passage text."""
    rows = shingle_rows(docs, n).select(
        "doc_id", P.md5_long("s").alias("h")
    )
    # rows are distinct (doc, hash) pairs (shingle_rows ends .distinct()),
    # so plain count(*) IS the doc frequency — no countDistinct expand.
    df = rows.groupBy("h").agg(F.count("*").alias("nd"))
    return (
        rows.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias(
                "n_dup_passages"
            ),
        )
        .select(
            "doc_id",
            "n_passages",
            "n_dup_passages",
            F.round(
                F.col("n_dup_passages") / F.col("n_passages"), 6
            ).alias("dup_fraction"),
        )
    )


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


def segment_rows(docs: DataFrame, seg_tokens: int = 12) -> DataFrame:
    """(doc_id, seg_idx, seg) rows: each document split into consecutive
    fixed-width token segments — the deterministic stand-in for '\\n'-line
    splitting on a corpus whose documents are single-line (the newline-
    delimited variant is the same pipeline with ``split(text, '\\n')`` and
    no width constant).

    Physical: same shuffle-free posexplode + array-slice pipeline as
    :func:`shingle_rows` (r16: was the window-lead formulation, one full
    Exchange of the exploded token frame), but STRIDED — only rows at
    ``pos % seg_tokens == 0`` survive as segment heads, and ``slice``
    (which truncates at the array end exactly like concat_ws skipped
    the NULL leads) assembles the possibly-short final segment for
    free. Zero shuffles, all whole-stage codegen."""
    tok = docs.select(
        "doc_id",
        F.split("text", " ").alias("w"),
    ).select("doc_id", "w", F.posexplode("w").alias("pos", "t"))
    return (
        tok.filter(F.col("pos") % seg_tokens == 0)
        .select(
            "doc_id",
            (F.col("pos") / seg_tokens).cast("long").alias("seg_idx"),
            F.concat_ws(
                " ", F.slice("w", F.col("pos") + 1, seg_tokens)
            ).alias("seg"),
        )
    )


def segment_dedup(docs: DataFrame, seg_tokens: int = 12) -> DataFrame:
    """C4-style LINE-level corpus dedup (Raffel et al. 2020 §2.2: 'we
    removed any line that occurred more than once in the data set,
    keeping one occurrence'), at segment granularity: across the WHOLE
    corpus each distinct segment survives only at its globally-first
    occurrence (min (doc_id, seg_idx)); every later copy is dropped and
    the documents are reassembled in original segment order.

    Returns (doc_id, n_segments, n_kept, clean_text) — clean_text is ''
    for a document whose every segment first appeared elsewhere, which is
    exactly the boilerplate-only page the C4 pass exists to empty out.

    Scale shape: the global first-occurrence choice is a row_number over
    a window PARTITIONED BY the 60-bit segment hash — key cardinality =
    distinct segments (corpus-sized, massively parallel), never a global
    sort. One shuffle on doc_id (segmenting window), one on the segment
    hash (winner election), one back on doc_id (reassembly). Reassembly
    sorts WITHIN one document only (array_sort over a bounded per-doc
    collect_list), so no skew beyond document length itself."""
    segs = segment_rows(docs, seg_tokens).select(
        "doc_id", "seg_idx", "seg", P.md5_long("seg").alias("h")
    )
    w = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    keep = segs.withColumn("rn", F.row_number().over(w))
    return (
        keep.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum((F.col("rn") == 1).cast("int")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct("seg_idx", "seg"),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def blocked_levenshtein_pairs(
    names: DataFrame,
    name_col: str,
    block_col: Column,
    max_dist: int = 3,
) -> DataFrame:
    """Entity-resolution candidate pairs: distinct names, blocked by
    ``block_col`` (a cheap deterministic key — last token, soundex,
    sorted-neighborhood window...), exhaustively compared WITHIN each
    block by JVM-side ``levenshtein`` and kept under ``max_dist``. The
    classic blocking+verify ER skeleton (Fellegi-Sunter style candidate
    generation): never all-pairs — quadratic only inside a block, so
    block-key design bounds the cost exactly like LSH banding bounds
    MinHash candidates.

    Returns (block, name_a, name_b, dist, sim) with name_a < name_b and
    sim = 1 - dist/len(longer) in [0,1]. Scale: the self-join shuffles
    once on the block key; skewed blocks are the known ER failure mode —
    at 100 TB swap the single key for sorted-neighborhood windows or
    multi-pass blocking (each pass is this same operator), and cap block
    width with a pre-aggregated block-size filter."""
    base = (
        names.select(
            F.col(name_col).alias("name"), block_col.alias("block")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = base.select(F.col("block"), F.col("name").alias("name_a"))
    b = base.select(F.col("block").alias("block_b"), F.col("name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, a.block == b.block_b)
        .filter(F.col("name_a") < F.col("name_b"))
        .select("block", "name_a", "name_b", dist.alias("dist"))
        .filter(F.col("dist") <= max_dist)
        .withColumn(
            "sim",
            F.round(
                F.lit(1.0)
                - F.col("dist")
                / F.greatest(F.length("name_a"), F.length("name_b")),
                6,
            ),
        )
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


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = N_SHINGLE,
    threshold: float = 0.3,
    max_df: int | float | None = 0.5,
) -> DataFrame:
    """Exhaustive near-dup pairs by word-n-gram Jaccard, blocked on shared
    shingles (classic inverted-index join — a pair is compared only if it
    shares >= 1 shingle, and the exact Jaccard is computed from the
    co-occurrence count alone, no second pass over the arrays).

    Scale: explode is linear; the self-join groups by shingle, so skewed
    (very common) shingles are the hazard — AQE skew-join splits them, and
    ``max_df`` is the standard stop-shingle mitigation: shingles appearing
    in more than ``max_df`` documents are dropped from CANDIDATE
    GENERATION only (they pair everything with everything while carrying
    no near-dup signal). Sizes keep counting them, so computed Jaccard
    becomes a slight underestimate for affected pairs — the usual
    recall/cost dial.

    .. versionchanged:: round 2
       The default changed from ``max_df=None`` (exhaustive) to
       ``max_df=0.5``. Callers relying on exhaustive semantics must now
       pass ``max_df=None`` explicitly; with the default, pairs sharing
       stop-shingles get slightly fewer candidates and a slightly
       underestimated Jaccard (see above).

    ``max_df`` accepts an absolute document count (int), a corpus fraction
    (float in (0, 1]; the cap is ``max(2, floor(frac * n_docs))``,
    computed IN-PLAN via a broadcast scalar aggregate — no eager count
    job), or ``None`` to disable. The default is 0.5: a shingle present
    in over half the corpus is definitionally a stop-shingle, pairs
    everything with everything (a single such shingle makes the self-join
    quadratic in corpus size), and carries no near-dup signal. ``None``
    is the explicit opt-in for tiny corpora where the quadratic blow-up
    can't happen.
    """
    # The shingle rows feed three plan branches (sizes, both join sides);
    # materialize once instead of recomputing the tokenize+window DAG 3x.
    # Note the scale trade: this pins the full shingle set (~rows x n
    # words) to executor storage — right for the exhaustive baseline,
    # which is itself O(pairs); the linear-scale path is minhash_lsh_pairs.
    ex = shingle_rows(docs, n).localCheckpoint(eager=True)
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    join_side = _stop_shingle_filter(ex, docs, max_df)
    a, b = join_side.alias("a"), join_side.alias("b")
    co = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("common"))
    )
    return _jaccard_from_counts(co, sizes, threshold)


def _stop_shingle_filter(
    ex: DataFrame, docs: DataFrame, max_df: int | float | None
) -> DataFrame:
    """Shared stop-shingle exclusion for the pair-finding operators
    (ngram_jaccard_pairs, containment_pairs): drop shingles whose
    document frequency exceeds ``max_df`` from CANDIDATE GENERATION.

    Filter by the COMPLEMENT: the stop set (df > cap) is tiny by
    definition — a stop-shingle appears in more than cap*n_docs
    documents, so there can be at most ~1/max_df of them — which
    makes the exclusion a BROADCAST anti-join instead of shuffling
    the full shingle set against the (huge) rare-shingle list.
    At sf0.1 this measures neutral (the df COUNT aggregate, not
    the join, dominates the cap's ~45% overhead vs capless); at
    cluster scale broadcasting a bounded set beats shuffling an
    unbounded one regardless."""
    if max_df is None:
        return ex
    df = ex.groupBy("s").agg(F.count("*").alias("df"))
    if isinstance(max_df, float):
        # Fraction of corpus: resolve the cap lazily against a 1-row
        # broadcast aggregate so the operator stays a single lazy plan.
        ndocs = docs.agg(F.count("*").alias("n_docs"))
        cap = F.greatest(
            F.lit(2).cast("bigint"),
            F.floor(F.lit(max_df) * F.col("n_docs")),
        )
        stop = (
            df.crossJoin(F.broadcast(ndocs))
            .filter(F.col("df") > cap)
            .select("s")
        )
        # The ≤~1/max_df bound on the stop set holds ONLY for the
        # fractional form, so only this branch forces the broadcast.
        stop = F.broadcast(stop)
    else:
        # Absolute count: a small integer cap (e.g. 2) makes the stop
        # set nearly the whole shingle vocabulary — forcing a
        # broadcast there would OOM the driver at scale. Let AQE pick
        # the strategy from the runtime size instead.
        stop = df.filter(F.col("df") > F.lit(int(max_df))).select("s")
    return ex.join(stop, "s", "left_anti")


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


def novelty_fractions(docs: DataFrame, n: int = N_SHINGLE) -> DataFrame:
    """Per-document NOVELTY: the fraction of a doc's distinct word-n-gram
    shingles whose globally FIRST occurrence (min doc_id — ingestion
    order) is this document. The temporal complement of
    :func:`passage_dup_report`: that one asks "is this span shared",
    this one asks "did WE contribute it" — the curve a curation pipeline
    watches to see marginal data value decay as a corpus grows (novelty
    ~1 early, falling as later batches re-crawl the same content; a
    pure re-crawl scores 0).

    Physical: the shingle_rows codegen pipeline, one min-aggregate per
    60-bit shingle hash (key cardinality = distinct shingles, massively
    parallel), one hash-keyed join back, one per-doc aggregate — the
    exact shuffle shape of passage_dup_report."""
    rows = shingle_rows(docs, n).select(
        "doc_id", P.md5_long("s").alias("h")
    )
    fo = rows.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        rows.join(fo, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("int")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias(
                "novelty"
            ),
        )
    )


def containment_pairs(
    docs: DataFrame,
    n: int = N_SHINGLE,
    threshold: float = 0.8,
    max_df: int | float | None = 0.5,
) -> DataFrame:
    """Near-dup pairs by shingle CONTAINMENT — |A n B| / min(|A|, |B|)
    — the asymmetric overlap measure that catches a document EMBEDDED
    in a longer one (quote farms, boilerplate-wrapped copies, partial
    scrapes), which symmetric Jaccard structurally under-scores: a 50-
    shingle doc fully inside a 500-shingle doc has Jaccard 0.1 but
    containment 1.0 (the Lee et al. 2021 substring-dedup motivation at
    shingle granularity).

    Same inverted-index blocking, stop-shingle cap (the shared
    :func:`_stop_shingle_filter` policy), and count-only verification
    as :func:`ngram_jaccard_pairs` (the co-occurrence count IS the
    intersection; no second pass over shingle sets), plus both
    directional fractions so the caller can tell which side is the
    container. One extra column, zero extra shuffles."""
    ex = shingle_rows(docs, n).localCheckpoint(eager=True)
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    join_side = _stop_shingle_filter(ex, docs, max_df)
    a, b = join_side.alias("a"), join_side.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("common"))
    )
    out = (
        co.join(
            sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                "sz", "sz_a"
            ),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("common") / F.col("sz_a"), 6).alias(
                "cont_a_in_b"
            ),
            F.round(F.col("common") / F.col("sz_b"), 6).alias(
                "cont_b_in_a"
            ),
            F.round(
                F.col("common") / F.least(F.col("sz_a"), F.col("sz_b")), 6
            ).alias("containment"),
        )
    )
    return out.filter(F.col("containment") >= threshold)


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
    """(doc_id, band, key) LSH bucket index of a corpus — the persisted
    state for INCREMENTAL near-dedup: ~LSH_BANDS short rows per document
    instead of its text, maintainable by appending each accepted batch's
    bands. The banding expression is shared verbatim with
    :func:`minhash_lsh_pairs` so full-corpus and incremental candidates
    can never disagree."""
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


def incremental_minhash_lsh(
    batch: DataFrame,
    corpus: DataFrame,
    n: int = N_SHINGLE,
    threshold: float = 0.3,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a=corpus doc, id_b=batch doc, jaccard) between
    a NEW batch and an already-indexed corpus — the LSH analogue of
    :func:`incremental_dedup`, and the operational shape of near-dedup
    at 100 TB: the history's TEXT is never rescanned; its band index
    (``corpus_index``, as produced by :func:`band_index` — derived here
    when not supplied) equi-joins the batch's bands, and only the few
    candidate corpus documents are fetched back (broadcast-semi-join
    point lookups) for exact-Jaccard verification.

    Candidate generation is identical to the full-corpus operator by
    construction (shared banding), so an incremental pipeline that
    indexes each accepted batch converges to the same pair set the batch
    operator would find."""
    cidx = corpus_index if corpus_index is not None else band_index(corpus, n)
    bidx = band_index(batch, n)
    cand = (
        cidx.alias("a")
        .join(bidx.alias("b"), ["band", "key"])
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
        # Same lineage-truncation rationale as minhash_lsh_pairs: the
        # candidate set is small by LSH design but referenced repeatedly
        # below.
        .localCheckpoint(eager=True)
    )
    ids_a = cand.select(F.col("id_a").alias("doc_id")).distinct()
    ids_b = cand.select(F.col("id_b").alias("doc_id")).distinct()
    ex_a = shingle_rows(
        corpus.join(F.broadcast(ids_a), "doc_id", "left_semi"), n
    )
    ex_b = shingle_rows(
        batch.join(F.broadcast(ids_b), "doc_id", "left_semi"), n
    )
    sizes = (
        ex_a.unionByName(ex_b)
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    ra = ex_a.join(
        F.broadcast(cand), ex_a.doc_id == cand.id_a
    ).select("id_a", "id_b", "s")
    rb = ex_b.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    co = (
        ra.join(rb, (ra.id_b == rb.id_b) & (ra.s == rb.s_b))
        .groupBy(ra.id_a, ra.id_b)
        .agg(F.count("*").alias("common"))
    )
    return _jaccard_from_counts(co, sizes, threshold)


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
    # 2.18/2.68/2.98/3.10 s on dd_minhash_lsh / dd_corpus_clean /
    # dd_neardup_components / tx_split_by_cluster; checkpoint-OFF
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


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over the token multiset (repetition = weight).

    Bit i of the hash is the sign of sum over tokens of +/-1 on bit i of
    the token's 32-bit hash. Near-identical token distributions land at
    small Hamming distance.

    Physical shape: explode tokens -> one md5 per token -> groupBy(doc_id)
    with 32 conditional-sum aggregates -> pack bits. Whole-stage codegen
    end to end with map-side partial aggregation (shuffle carries one
    33-column row per doc per partition). The shuffle-free higher-order
    formulation (fold a 32-wide histogram per doc) benches ~7x slower:
    Catalyst interprets lambda bodies, tokens x 32 closure evals per row.
    """
    th = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).select("doc_id", P.md5_long("t", nhex=8).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", i) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(32)
    ]
    packed = sum(
        [F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(32)],
        start=F.lit(0),
    )
    return (
        th.groupBy("doc_id")
        .agg(*bit_sums)
        .select("doc_id", packed.cast("bigint").alias("simhash"))
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, 8-bit-chunk blocked.

    Pigeonhole: with 4 chunks and hamming <= 3, at least one chunk is
    bit-identical, so chunk blocking is LOSSLESS here (recall 1.0) while
    cutting the pair space to same-chunk buckets. Raising max_hamming past
    3 would turn blocking into a recall trade — keep <= chunks-1 to stay
    exact.
    """
    # One row per doc — materialize so the self-join below doesn't run the
    # token-explode aggregation DAG once per side.
    sh = simhash(docs).localCheckpoint(eager=True)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), c ->"
                " struct(c as chunk, (shiftright(simhash, c * 8) % 256) as ck))"
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk", "c.ck")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup(
    emb: DataFrame, threshold: float = 0.4, block_col: str = "label"
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on ``block_col``.

    Physical shape: applyInPandas per block — normalize once, one numpy
    GEMM for all within-block cosines, upper-triangle filter. A pairwise
    join with expression cosines benches ~10x slower at sf0.1 (1.25M
    interpreted zip_with folds) and degrades quadratically in lambda
    evals; GEMM rides BLAS. For unlabeled corpora substitute a sign-LSH
    bucket (sign of the dot product with random hyperplanes) as the
    block key.

    Scale notes: a block is one task, so block size must fit executor
    memory (n x dim floats + the n x n score tile); beyond ~50k vectors
    per block, split blocks into sub-chunks and enumerate chunk pairs via
    a cogrouped applyInPandas. BLAS/sequential summation differ in final
    ulps; scores are rounded to 6 dp before the threshold so the emitted
    frontier is stable (exact-boundary collisions have ~0 probability on
    continuous data, unlike decimal-rational scores — see functions.text).
    """
    schema = "id_a bigint, id_b bigint, cosine double"
    thr = float(threshold)

    def block(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        mat = np.stack(pdf["v"].to_numpy()).astype("float64")
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        scores = mat @ mat.T
        iu = np.triu_indices(len(ids), k=1)
        cos = np.round(scores[iu], 6)
        keep = cos >= thr
        a, b = ids[iu[0][keep]], ids[iu[1][keep]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, b),
                "id_b": np.maximum(a, b),
                "cosine": cos[keep],
            }
        )

    e = emb.select(
        "vec_id",
        F.col(block_col).alias("blk"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    return e.groupBy("blk").applyInPandas(block, schema)


def embedding_near_dup_blocked(
    emb: DataFrame,
    threshold: float = 0.4,
    block_col: str = "label",
    n_chunks: int = 4,
) -> DataFrame:
    """Chunked variant of :func:`embedding_near_dup` for blocks too large
    for one task: split each block into ``n_chunks`` (vec_id mod C), fan
    out every chunk pair (i <= j) to its own cogrouped-applyInPandas task,
    GEMM the chunk tile there. Task memory is bounded by (block/C)^2
    instead of block^2, and the C(C+1)/2 tiles run in parallel — the
    standard blocked all-pairs decomposition.

    Emits exactly the same pairs as the unchunked operator (each pair
    lands in exactly one tile); the dd_embedding_neardup oracle checks it.
    """
    schema = "id_a bigint, id_b bigint, cosine double"
    thr = float(threshold)

    def tile(key, lpdf, rpdf):
        import numpy as np
        import pandas as pd

        _, ci, cj = key
        empty = pd.DataFrame(
            {"id_a": [], "id_b": [], "cosine": []}
        ).astype({"id_a": "int64", "id_b": "int64", "cosine": "float64"})

        def norm_rows(pdf):
            ids = pdf["vec_id"].to_numpy()
            mat = np.stack(pdf["v"].to_numpy()).astype("float64")
            return ids, mat / np.linalg.norm(mat, axis=1, keepdims=True)

        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        if ci == cj:
            if len(lpdf) < 2:
                return empty
            ids, mat = norm_rows(lpdf)
            scores = mat @ mat.T
            iu = np.triu_indices(len(ids), k=1)
            cos, a, b = np.round(scores[iu], 6), ids[iu[0]], ids[iu[1]]
        else:
            la, lm = norm_rows(lpdf)
            rb, rm = norm_rows(rpdf)
            scores = lm @ rm.T
            ai, bj = np.meshgrid(np.arange(len(la)), np.arange(len(rb)), indexing="ij")
            cos, a, b = np.round(scores.ravel(), 6), la[ai.ravel()], rb[bj.ravel()]
        keep = cos >= thr
        a, b = a[keep], b[keep]
        return pd.DataFrame(
            {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b), "cosine": cos[keep]}
        )

    from ..sources.inline import inline_table

    combos = inline_table(
        emb.sparkSession,
        [(i, j) for i in range(n_chunks) for j in range(n_chunks) if i <= j],
        ["ci", "cj"],
    )
    e = emb.select(
        "vec_id",
        F.col(block_col).alias("blk"),
        F.col("embedding").cast("array<double>").alias("v"),
        F.pmod("vec_id", F.lit(n_chunks)).cast("int").alias("c"),
    )
    def replicate(side: str, chunk_col: str):
        ee, cc = e.alias(f"e{side}"), combos.alias(f"c{side}")
        return ee.join(
            F.broadcast(cc),
            F.col(f"e{side}.c") == F.col(f"c{side}.{chunk_col}"),
        ).select(
            F.col(f"e{side}.blk").alias("blk"),
            F.col(f"c{side}.ci").alias("ci"),
            F.col(f"c{side}.cj").alias("cj"),
            F.col(f"e{side}.vec_id").alias("vec_id"),
            F.col(f"e{side}.v").alias("v"),
        )

    left = replicate("l", "ci")
    right = replicate("r", "cj")
    return (
        left.groupBy("blk", "ci", "cj")
        .cogroup(right.groupBy("blk", "ci", "cj"))
        .applyInPandas(tile, schema)
    )

"""Text-analysis column builders over the ``documents`` table.

Beyond-reference scope (the reference's only string analytics is the
contains-'DIVID' predicate, streamlit.py:114). Everything here is a pure
JVM-side Column expression (no UDFs in the hot path) with a bit-identical
DuckDB oracle twin in plans.beyond:

- language ID: lexicon-overlap heuristic (argmax of per-language marker
  hits, ties broken by language code). Lexicons are pluggable; the bundled
  ones are tiny demo sets over the fixture vocabulary.
- quality scoring: token/char stats, stopword ratio, distinct-token ratio
  folded into one [0,1] score — the shape of a Gopher/C4-style filter.
- token counting: whitespace tokens + regex word/number runs (a BPE-ish
  proxy: letter runs, digit runs, and symbols count separately).
- fingerprinting: order-sensitive rolling hash of the token stream, plus a
  winnowing-style min-hash over 4-token windows (robust to local edits).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import portable as P

# Demo marker lexicons (fixture vocabulary is ~31 tech words + articles).
LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "es": ("data", "table", "row"),
    "zh": ("spark", "stream", "window"),
}
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in")


def _in_list(var: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"array_contains(array({lst}), {var})"


def lexicon_hits(col: str, words: tuple[str, ...]) -> Column:
    """Count of tokens that appear in ``words``."""
    return F.expr(
        f"size(filter(split({col}, ' '), t -> {_in_list('t', words)}))"
    )


def lang_scores(col: str = "text") -> list[Column]:
    return [
        lexicon_hits(col, words).alias(f"hits_{lang}")
        for lang, words in sorted(LEXICONS.items())
    ]


def predicted_lang() -> Column:
    """argmax over hits_<lang> columns, tie-break by language code asc —
    expressed as a greatest() + case chain so it is portable SQL."""
    langs = sorted(LEXICONS)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    expr = F.lit(None).cast("string")
    # Build the case chain in reverse so earlier languages win ties.
    for lg in reversed(langs):
        expr = F.when(F.col(f"hits_{lg}") == best, F.lit(lg)).otherwise(expr)
    return expr


def quality_columns(col: str = "text") -> dict[str, Column]:
    """Component metrics (rounded doubles — ratios of exact ints, safe to
    round) + a composite score in INTEGER arithmetic (0..100 points).

    Rationale for the integer composite: a float-weighted sum rounds
    nondeterministically across engines when the exact rational lands on a
    .5 ulp at the rounding scale (observed 2-in-500 at 6 dp); integer
    division is exact and portable by construction. Components: length
    (0..25), distinct-token ratio (0..35), stopword ratio (0..20, capped),
    mean token length vs 8 chars (0..20, capped).
    """
    toks = f"split({col}, ' ')"
    stop_list = _in_list("t", STOPWORDS)
    n_tokens = F.expr(f"size({toks})")
    n_distinct = F.expr(f"size(array_distinct({toks}))")
    stop_hits = lexicon_hits(col, STOPWORDS)
    char_sum_e = f"aggregate({toks}, 0L, (acc, t) -> acc + length(t))"
    mean_len = F.expr(char_sum_e) / n_tokens
    distinct_ratio = n_distinct.cast("double") / n_tokens
    stop_ratio = stop_hits.cast("double") / n_tokens
    score_pts = F.expr(
        f"(least(size({toks}), 100) * 25) div 100"
        f" + (size(array_distinct({toks})) * 35) div size({toks})"
        f" + least((size(filter({toks}, t -> {stop_list})) * 100)"
        f"          div size({toks}), 20)"
        f" + least(({char_sum_e} * 20) div (8 * size({toks})), 20)"
    )
    return {
        "n_tokens": n_tokens.cast("bigint"),
        "distinct_ratio": F.round(distinct_ratio, 6),
        "stop_ratio": F.round(stop_ratio, 6),
        "mean_token_len": F.round(mean_len, 6),
        "quality_pts": score_pts.cast("bigint"),
    }


def text_profile(docs, col: str = "text", carry: tuple[str, ...] = ()):
    """doc_id + language hits + quality stats in ONE explode +
    whole-stage-codegen aggregation — the hot-path formulation of
    lang_scores/quality_columns (whose higher-order-function lambdas
    Catalyst INTERPRETS; measured ~4x slower per evaluation at sf0.1).

    Physical shape: explode tokens -> one hash-aggregate on doc_id with
    conditional counts; map-side partial aggregation reduces the shuffle
    to one stats row per doc per partition (countDistinct adds the usual
    two-phase expand). ``carry`` names doc-level columns (functionally
    dependent on doc_id — e.g. the lang label) to return alongside the
    stats; they ride on the BASE side of the doc_id re-join, never
    through the shuffle and never in the join condition (NULL-safe by
    construction). Do NOT carry wide payload columns (text) — join back
    on doc_id instead.

    Values are integer/ratio-identical to the column builders above
    (pinned by the same DuckDB oracles), INCLUDING the NULL-text edge:
    explode would silently DROP a NULL-text document (split(NULL) is
    NULL), while the column builders and the SQL oracles emit the row
    with NULL stats — so the profile is left-joined back onto the
    document id set to restore those rows.
    """
    from pyspark.sql import functions as F

    base = docs.select("doc_id", *carry)
    tok = docs.select("doc_id", F.explode(F.split(F.col(col), " ")).alias("t"))
    lex_aggs = [
        F.count(F.when(F.col("t").isin(*words), 1)).alias(f"hits_{lang}")
        for lang, words in sorted(LEXICONS.items())
    ]
    prof = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("t").alias("n_distinct"),
        F.count(F.when(F.col("t").isin(*STOPWORDS), 1)).alias("stop_hits"),
        F.sum(F.length("t")).alias("char_sum"),
        *lex_aggs,
    )
    # Join back on doc_id ONLY: carry columns ride on the base side, never
    # into the join condition — a NULL carry value (e.g. lang) would fail
    # an equi-join against itself and silently NULL the doc's stats
    # (round-2 review finding; eqNullSafe would also work but would put a
    # redundant condition in the plan — carry columns are functionally
    # dependent on doc_id by contract).
    prof = base.join(prof, "doc_id", "left")
    return prof.select(
        "doc_id",
        *carry,
        "n_tokens",
        *[f"hits_{lang}" for lang in sorted(LEXICONS)],
        F.round(F.col("n_distinct").cast("double") / F.col("n_tokens"), 6).alias(
            "distinct_ratio"
        ),
        F.round(F.col("stop_hits").cast("double") / F.col("n_tokens"), 6).alias(
            "stop_ratio"
        ),
        F.round(F.col("char_sum").cast("double") / F.col("n_tokens"), 6).alias(
            "mean_token_len"
        ),
        F.expr(
            "(least(n_tokens, 100) * 25) div 100"
            " + (n_distinct * 35) div n_tokens"
            " + least((stop_hits * 100) div n_tokens, 20)"
            " + least((char_sum * 20) div (8 * n_tokens), 20)"
        )
        .cast("bigint")
        .alias("quality_pts"),
    )


def token_counts(col: str = "text") -> dict[str, Column]:
    """Whitespace + regex-run token counts (shared RE2/Java-safe regexes)."""
    return {
        "ws_tokens": F.expr(f"size(split({col}, ' '))").cast("bigint"),
        "word_runs": F.expr(
            f"size(regexp_extract_all({col}, '[a-z]+', 0))"
        ).cast("bigint"),
        "digit_runs": F.expr(
            f"size(regexp_extract_all({col}, '[0-9]+', 0))"
        ).cast("bigint"),
        "n_chars_seen": F.length(col).cast("bigint"),
    }


def token_hashes(col: str = "text") -> Column:
    """Per-token portable hash array, mod ROLL_MOD — materialize this as a
    column ONCE and fold fingerprints over it; the md5 is the expensive
    part, and inlining it into every consumer would re-hash every token
    per 4-gram window (~5x the md5 work; HOF bodies are interpreted, so
    no CSE rescues it)."""
    return F.expr(
        f"transform(split({col}, ' '), x -> {P.expr_md5_long('x')} % {P.ROLL_MOD})"
    )


def token_hash_frame(docs, col: str = "text"):
    """doc_id + per-token portable-hash ARRAY, with the md5 computed in
    WHOLE-STAGE CODEGEN: posexplode tokens -> md5_long per row (the
    expensive part, JVM-compiled) -> regroup into position order. The
    fold consumers (fingerprint_columns) then run their interpreted
    lambdas over cheap integer arithmetic only — measured ~3x faster
    end-to-end than hashing inside the lambda (token_hashes), which
    interprets one md5 call per token per closure eval. NULL-text docs
    keep a row with hs = NULL (left join back onto the id set), matching
    the column formulation where transform(NULL) is NULL."""
    from pyspark.sql import functions as F

    base = docs.select("doc_id")
    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col(col), " ")).alias("pos", "t")
    )
    hashed = tok.select(
        "doc_id", "pos", (P.md5_long("t") % P.ROLL_MOD).alias("h")
    )
    grouped = hashed.groupBy("doc_id").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, h))), x -> x.h)")
        .alias("hs")
    )
    return base.join(grouped, "doc_id", "left")


def fingerprint_columns(hs_col: str = "hs") -> dict[str, Column]:
    """Whole-doc rolling hash + winnowing-style min 4-token window hash,
    folded (integer-only) over an existing token-hash array column."""
    roll = f"(acc, x) -> (acc * 31 + x) % {P.ROLL_MOD}"
    return {
        "doc_hash": F.expr(f"aggregate({hs_col}, 0L, {roll})"),
        "min_window_hash": F.expr(
            f"array_min(transform(sequence(1, size({hs_col}) - 3), i -> "
            f" aggregate(slice({hs_col}, i, 4), 0L, {roll})))"
        ),
    }


# ---------------------------------------------------------------------------
# BPE merge-table application (tokenizer-grade token ids; VERDICT r8 ask #6)
# ---------------------------------------------------------------------------

#: Ordered BPE merge table — a tiny fixed public-English-bigram list (the
#: th/the/an/in/er/... merges every English BPE learns first), applied in
#: table order. (b, le) -> 'ble' exercises a multi-char second symbol.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("s", "t"), ("o", "r"),
    ("l", "e"), ("b", "le"),
)

#: Leftmost-nonoverlapping replace passes per rule. One pass can miss an
#: occurrence that shares its boundary delimiter with the occurrence just
#: replaced (the '/a/b/a/b/' case); each extra pass halves the remainder,
#: so 4 passes are exhaustive for same-pair runs up to ~16 symbols — far
#: beyond any natural-language word. Both engines run the IDENTICAL
#: generated expression, so the spec is bit-reproducible by construction.
BPE_PASSES = 4

#: 'a'..'z' take ids 0..25; merge i takes BPE_BASE_ID + i.
BPE_BASE_ID = 26


def bpe_vocab() -> dict[str, int]:
    """Symbol -> token id: the 26 base characters plus one id per merge."""
    vocab = {chr(ord("a") + i): i for i in range(26)}
    for i, (a, b) in enumerate(BPE_MERGES):
        vocab[a + b] = BPE_BASE_ID + i
    return vocab


#: A LEARNED 64-merge table, frozen as a public constant (VERDICT r10
#: ask #2: exercise the Arrow tokenizer at a merge-table length the
#: generated nested-replace expression should never be asked to
#: compile — 64 rules x BPE_PASSES would be a 256-deep replace chain).
#: Derived ONCE by running exactly bpe_train's semantics (adjacent
#: pairs weighted by word frequency, global top-1, lexicographic
#: tie-break, leftmost-nonoverlapping merge) over the sf0.01 documents
#: word table, then committed verbatim — so deep ranks genuinely fire
#: on the fixture corpus: 'customer' completes at rank 30, 'value' at
#: rank 62, 'key' at rank 64. The tx_bpe_apply64 oracle replays the
#: table one rank at a time as static '/a/b/' -> '/ab/' patterns.
BPE_MERGES64: tuple[tuple[str, str], ...] = (
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"),
    ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"),
    ("co", "lu"), ("colu", "m"), ("colum", "n"), ("cu", "st"),
    ("cust", "o"), ("custo", "mer"), ("f", "i"), ("fi", "l"),
    ("fil", "t"), ("filt", "er"), ("a", "l"), ("al", "l"),
    ("m", "all"), ("s", "mall"), ("g", "e"), ("l", "ow"),
    ("mer", "ge"), ("s", "low"), ("c", "t"), ("ct", "or"),
    ("d", "er"), ("e", "ctor"), ("or", "der"), ("v", "ector"),
    ("in", "e"), ("l", "ine"), ("a", "b"), ("ab", "l"),
    ("abl", "e"), ("at", "a"), ("d", "ata"), ("t", "able"),
    ("u", "p"), ("a", "g"), ("ag", "g"), ("a", "lu"),
    ("alu", "e"), ("v", "alue"), ("e", "y"), ("k", "ey"),
)


def _bpe_replace_chain(seed: str, merges=BPE_MERGES) -> str:
    """Nested leftmost-nonoverlapping replace() applying every merge rule
    in table order, BPE_PASSES times each. Symbols are kept unambiguous by
    '/'-delimiting every boundary ('/t/a/b/l/e/'), so a rule (a, b) is the
    literal pattern '/a/b/' -> '/ab/' — multi-char symbols can never match
    across a boundary. replace() has identical semantics (all occurrences,
    left to right, no re-scan of replaced text) in Spark SQL and DuckDB."""
    expr = seed
    for a, b in merges:
        for _ in range(BPE_PASSES):
            expr = f"replace({expr}, '/{a}/{b}/', '/{a}{b}/')"
    return expr


def bpe_words_sql(engine: str, text_col: str = "text") -> str:
    """The shared word-splitting fragment (lowercase -> non-alpha to
    space -> split -> drop empties) — factored out so the Arrow
    tokenizer path consumes the IDENTICAL word stream as the generated
    expression path and the oracles."""
    if engine == "spark":
        return (
            f"filter(split(regexp_replace(lower({text_col}),"
            f" '[^a-z]+', ' '), ' '), w -> w != '')"
        )
    if engine == "duckdb":
        return (
            f"list_filter(string_split(regexp_replace(lower({text_col}),"
            f" '[^a-z]+', ' ', 'g'), ' '), w -> w != '')"
        )
    raise ValueError(f"unknown engine: {engine}")


def bpe_vocab_case_sql() -> str:
    """The fixed-table symbol -> token-id lookup expression (identical
    text in both dialects — ``if``/``ascii``/``length``/``CASE`` parse
    and evaluate the same in Spark SQL and DuckDB).

    r17 shape (guide section 4.1 — cheapen the interpreted per-element
    body): base symbols are SINGLE characters with ids 0..25 assigned
    as ``chr(97+i) -> i``, so a 1-char token resolves arithmetically
    (``ascii(t) - 97``) instead of walking up to 26 CASE comparisons;
    only multi-char tokens (exactly the merge outputs — the replace
    chain can only ever create '/ab/' segments for rules in the table)
    fall through to a CASE over the |merges| rows. PRECONDITION: tokens
    come from bpe_token_ids_sql's pipeline, whose '[^a-z]+ -> space'
    pass guarantees every 1-char token is in [a-z] (an out-of-alphabet
    single char would map arithmetically, not to the old form's -1).
    Token ids are bit-identical to the full-table CASE on that domain;
    ELSE -1 still covers impossible multi-char symbols."""
    merge_case = "CASE t " + " ".join(
        f"WHEN '{a + b}' THEN {BPE_BASE_ID + i}"
        for i, (a, b) in enumerate(BPE_MERGES)
    ) + " ELSE -1 END"
    return f"if(length(t) = 1, ascii(t) - 97, {merge_case})"


def bpe_token_ids_sql(engine: str, text_col: str = "text") -> str:
    """The full text -> array<token id> expression, generated for either
    engine from the same merge table and vocab (one generator, two
    dialects, zero semantic drift).

    Pipeline: lowercase -> non-alpha to space -> delimiter-encode the
    WHOLE document in one pass ('/t/h/e/ /c/a/t/' — every character,
    spaces included, gets its own '/'-bounded segment), apply the merge
    chain to the one document string, split back to symbols, drop the
    ''/' ' boundary segments -> the doc's token stream -> vocab lookup.
    Every stage is engine-portable string/array kernels; integer ids
    mean NO float anywhere — the whole operator is exact by
    construction.

    Whole-document encoding (r16) replaces the original per-word
    form (encode each word inside a transform/list_transform lambda,
    run the replace chain per word, flatten): a merge pattern
    '/a/b/' has non-empty alphabetic a and b, so it can never match
    across a '/ /' word boundary, and a replacement never erases a
    boundary — per-word and whole-document chains therefore produce
    the IDENTICAL symbol stream (pinned by
    tests/test_beyond_ops.py::test_bpe_whole_doc_equals_per_word).
    What changes is the physical cost: Spark evaluates lambda bodies
    interpreted, so the old form paid |words| interpreted evaluations
    of a (merges x BPE_PASSES)-deep replace chain per document; the
    new chain is one top-level whole-stage-codegen expression over the
    same total bytes (guide section 4.1: prefer built-in expressions
    at the top level over per-element lambda work)."""
    vocab_case = bpe_vocab_case_sql()
    if engine == "spark":
        spaced = f"regexp_replace(lower({text_col}), '[^a-z]+', ' ')"
        enc = f"'/' || regexp_replace({spaced}, '(.)', '$1/')"
        toks = (
            f"filter(split({_bpe_replace_chain(enc)}, '/'),"
            f" t -> t != '' AND t != ' ')"
        )
        return f"transform({toks}, t -> {vocab_case})"
    if engine == "duckdb":
        spaced = f"regexp_replace(lower({text_col}), '[^a-z]+', ' ', 'g')"
        enc = rf"'/' || regexp_replace({spaced}, '(.)', '\1/', 'g')"
        toks = (
            f"list_filter(string_split({_bpe_replace_chain(enc)}, '/'),"
            f" t -> t != '' AND t != ' ')"
        )
        return f"list_transform({toks}, t -> {vocab_case})"
    raise ValueError(f"unknown engine: {engine}")


#: mapInPandas output schema for the Arrow tokenizer path.
BPE_TOKS_SCHEMA = "doc_id bigint, toks array<string>"


def bpe_tokenize_arrow(docs, merges, text_col: str = "text"):
    """Arrow-batched BPE application for ARBITRARY-length merge tables —
    the production tokenizer path (VERDICT r9 ask #3): the generated
    nested-replace expression bpe_token_ids_sql emits is bounded to
    ~dozens of merges (the expression grows by 4 replace() calls per
    rule — a learned 50k-merge vocab cannot compile that way), while
    this path takes the merge list as plain Python data, so its cost is
    per-token work, not expression size.

    Word splitting stays JVM-SIDE (the exact bpe_words_sql fragment the
    expression path uses — both paths consume the identical word
    stream); only the per-word merge loop runs in pandas batches, with
    a per-executor word cache (Zipf: the hot words dominate). Per rule,
    ONE leftmost scan is exhaustive (a merged symbol 'ab' can never
    re-match (a, b) — only later rules consume it), which equals the
    delimiter-encoded replace-chain fixpoint whenever no word repeats a
    unit more than 2**BPE_PASSES times consecutively — the corpus
    guard test_bpe_pass_budget_covers_fixture_corpora pins exactly
    that, so Arrow path == expression path == oracle on every fixture.

    Returns (doc_id, toks array<string>): the merged SYMBOL stream.
    Callers map symbols to ids JVM-side (fixed vocab: the
    bpe_vocab_case_sql transform) or hash the symbols directly
    (learned vocab)."""
    from pyspark.sql import functions as F

    mlist = [(str(a), str(b)) for a, b in merges]
    src = docs.select(
        "doc_id", F.expr(bpe_words_sql("spark", text_col)).alias("ws")
    )

    def run(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def tok_word(w: str) -> list[str]:
            hit = cache.get(w)
            if hit is not None:
                return hit
            syms = list(w)
            for a, b in mlist:
                if len(syms) < 2:
                    break
                out: list[str] = []
                i, n = 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[w] = syms
            return syms

        for pdf in batches:
            # NULL text propagates as a NULL token array (ADVICE r10):
            # the expression path's split/transform chain and the
            # DuckDB oracles all map NULL -> NULL (size/len of NULL is
            # NULL), so the Arrow path must too — emitting [] would
            # desynchronize the tx_bpe_apply_arrow verbatim twin pin
            # the moment a NULL text row appears.
            toks = [
                None
                if ws is None
                else [t for w in ws for t in tok_word(w)]
                for ws in pdf["ws"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "toks": toks})

    return src.mapInPandas(run, schema=BPE_TOKS_SCHEMA)


#: Merges learned by tx_bpe_train (kept small so the unrolled oracle
#: stays readable; each merge is one full distributed iteration).
BPE_TRAIN_MERGES = 8


def bpe_train(docs, n_merges: int = BPE_TRAIN_MERGES, passes: int = BPE_PASSES):
    """LEARN a BPE merge table from the corpus — the training half of the
    tokenizer tier (tx_bpe_apply applies a fixed table; this derives
    one). Classic Sennrich-style loop, distributed:

    1. one corpus pass builds the word-frequency table (the only stage
       that touches the documents; by Heaps' law the vocab is orders of
       magnitude smaller than the corpus, so training state fits
       executors at any corpus size);
    2. per merge: count adjacent symbol pairs (explode + one shuffle on
       the pair key, weighted by word frequency, every adjacent index
       counted — the get_stats convention), take the global top-1
       (ties -> lexicographically smallest pair), then apply the winner
       to every word via the same delimiter-encoded
       leftmost-nonoverlapping replace fixpoint tx_bpe_apply uses
       (``passes`` applications, dynamic pattern from the broadcast
       1-row winner).

    Each iteration is materialized (localCheckpoint) before the next —
    the kmeans-iteration discipline: the word table is tiny but its
    lineage stacks a full replace chain per round. All counts are
    integers and all tie-breaks total, so the learned table is
    bit-reproducible in the DuckDB oracle (which unrolls the identical
    loop). Returns (rank, left_sym, right_sym, pair_weight)."""
    words = (
        docs.select(
            F.explode(
                F.expr(
                    "filter(split(regexp_replace(lower(text),"
                    " '[^a-z]+', ' '), ' '), w -> w != '')"
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            F.expr("'/' || regexp_replace(w, '(.)', '$1/')").alias("enc"),
            "freq",
        )
        .localCheckpoint(eager=True)
    )
    merges = None
    for rank in range(1, n_merges + 1):
        pairs = (
            words.select(
                "freq",
                F.expr("filter(split(enc, '/'), t -> t != '')").alias("s"),
            )
            # single-symbol words contribute no pairs; also guards the
            # explode: sequence(1, size-1) DESCENDS ([1, 0]) when
            # size < 2 and element_at would throw on index 0/size+1.
            .filter(F.size("s") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(s) - 1),"
                        " i -> struct(element_at(s, i) AS a,"
                        " element_at(s, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .select("freq", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        )
        win = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("w8"))
            .orderBy(F.desc("w8"), F.asc("a"), F.asc("b"))
            .limit(1)
            .withColumn("rank", F.lit(rank))
            .localCheckpoint(eager=True)
        )
        merges = win if merges is None else merges.unionAll(win)
        pat = F.concat(F.lit("/"), F.col("a"), F.lit("/"), F.col("b"), F.lit("/"))
        rep = F.concat(F.lit("/"), F.col("a"), F.col("b"), F.lit("/"))
        enc2 = F.col("enc")
        for _ in range(passes):
            enc2 = F.replace(enc2, pat, rep)
        words = (
            words.crossJoin(F.broadcast(win.select("a", "b")))
            .select(enc2.alias("enc"), "freq")
            .localCheckpoint(eager=True)
        )
    return merges.select(
        F.col("rank").cast("int").alias("rank"),
        F.col("a").alias("left_sym"),
        F.col("b").alias("right_sym"),
        F.col("w8").cast("bigint").alias("pair_weight"),
    )


def _bpe_dyn_replace(src: str, passes: int) -> str:
    """replace() fixpoint chain for a DYNAMIC pattern (the 1-row merge
    winner's a/b columns) — shared by the training unroll and the
    train->apply oracle."""
    pat = "'/' || a || '/' || b || '/'"
    rep = "'/' || a || b || '/'"
    merged = src
    for _ in range(passes):
        merged = f"replace({merged}, {pat}, {rep})"
    return merged


def bpe_train_ctes(
    n_merges: int = BPE_TRAIN_MERGES, passes: int = BPE_PASSES
) -> list[str]:
    """The training-loop CTE list (word-frequency table, then per merge
    a pair-count CTE, a top-1 CTE with the total tie-break, and a
    merged-words CTE) — factored from bpe_train_sql so the train->apply
    oracle can replay the SAME learned table (m0..m{n-1}) against the
    document stream."""
    merged = _bpe_dyn_replace("enc", passes)
    ctes = [
        "w0 AS (\n"
        "  SELECT '/' || regexp_replace(w, '(.)', '\\1/', 'g') AS enc,\n"
        "         count(*) AS freq\n"
        "  FROM (SELECT unnest(list_filter(string_split(\n"
        "          regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),\n"
        "          x -> x != '')) AS w\n"
        "        FROM documents)\n"
        "  GROUP BY 1)"
    ]
    for i in range(n_merges):
        ctes += [
            f"s{i} AS (SELECT freq,\n"
            f"  list_filter(string_split(enc, '/'), t -> t != '') AS s\n"
            f"  FROM w{i})",
            f"p{i} AS (SELECT u.a AS a, u.b AS b, sum(freq) AS w8\n"
            f"  FROM s{i},\n"
            "       unnest([{'a': s[j], 'b': s[j + 1]}\n"
            "               for j in range(1, len(s))]) AS t(u)\n"
            "  GROUP BY 1, 2)",
            f"m{i} AS (SELECT a, b, w8, {i + 1} AS rank FROM p{i}\n"
            f"  ORDER BY w8 DESC, a, b LIMIT 1)",
            f"w{i + 1} AS (SELECT {merged} AS enc, freq FROM w{i}, m{i})",
        ]
    return ctes


def bpe_train_sql(n_merges: int = BPE_TRAIN_MERGES, passes: int = BPE_PASSES) -> str:
    """DuckDB oracle for :func:`bpe_train`: the identical loop unrolled —
    word-frequency CTE, then per merge a pair-count CTE, a top-1 CTE
    (same total tie-break), and a merged-words CTE applying the winner
    with the same replace fixpoint via a 1-row cross join."""
    ctes = bpe_train_ctes(n_merges, passes)
    union = "\nUNION ALL\n".join(f"SELECT * FROM m{i}" for i in range(n_merges))
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT CAST(rank AS INTEGER) AS rank, a AS left_sym,\n"
        "       b AS right_sym, CAST(w8 AS BIGINT) AS pair_weight\n"
        f"FROM ({union})\n"
        "ORDER BY rank"
    )


def bpe_train_apply_sql(
    n_merges: int = BPE_TRAIN_MERGES, passes: int = BPE_PASSES
) -> str:
    """DuckDB oracle for tx_bpe_train_apply: the training CTEs
    (bpe_train_ctes — every learned merge decision m0..m{n-1} rides
    inside this hash too), then the learned table APPLIED to every
    document: the whole doc is delimiter-encoded as the concatenation
    of per-word encodings ('/t/h/e//c/a/t/' — the '//' word boundary
    can never match a '/a/b/' merge pattern, and splitting on '/'
    drops the empty boundary tokens), then one replace-fixpoint CTE
    per learned merge in rank order (the same 1-row cross-join shape
    the training loop uses on the word table)."""
    ctes = bpe_train_ctes(n_merges, passes)
    ctes.append(
        "a0 AS (\n"
        "  SELECT doc_id, array_to_string(list_transform(\n"
        "    list_filter(string_split(\n"
        "      regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),\n"
        "      x -> x != ''),\n"
        "    w -> '/' || regexp_replace(w, '(.)', '\\1/', 'g')), '')\n"
        "    AS enc\n"
        "  FROM documents)"
    )
    merged = _bpe_dyn_replace("enc", passes)
    for i in range(n_merges):
        ctes.append(
            f"a{i + 1} AS (SELECT doc_id, {merged} AS enc"
            f" FROM a{i}, m{i})"
        )
    ctes.append(
        f"toks AS (SELECT doc_id,\n"
        f"  list_filter(string_split(a{n_merges}.enc, '/'),"
        f" t -> t != '') AS ts\n"
        f"  FROM a{n_merges})"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,\n"
        "       CAST(len(list_filter(ts, t -> length(t) > 1)) AS BIGINT)\n"
        "         AS n_merged,\n"
        "       coalesce(array_to_string(ts[1:8], ' '), '') AS head_syms,\n"
        "       md5(coalesce(array_to_string(ts, ' '), ''))"
        " AS tokens_md5\n"
        "FROM toks ORDER BY doc_id"
    )


def bpe_apply_fixed_sql(
    merges=BPE_MERGES64, passes: int = BPE_PASSES
) -> str:
    """DuckDB oracle for applying a FIXED merge table of arbitrary
    length (tx_bpe_apply64): the document stream is delimiter-encoded
    as the concatenation of per-word encodings (the bpe_train_apply_sql
    a0 shape — '//' word boundaries can never match a '/a/b/' merge
    pattern), then ONE replace-fixpoint CTE per rank with the rank's
    STATIC '/a/b/' -> '/ab/' pattern, in table order — the
    one-rank-at-a-time replay the learned-table oracle uses, but with
    literal patterns instead of 1-row cross joins. Output hashes the
    merged SYMBOL stream (a learned vocab has no static id table;
    symbols ARE the tokens)."""
    ctes = [
        "a0 AS (\n"
        "  SELECT doc_id, array_to_string(list_transform(\n"
        "    list_filter(string_split(\n"
        "      regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),\n"
        "      x -> x != ''),\n"
        "    w -> '/' || regexp_replace(w, '(.)', '\\1/', 'g')), '')\n"
        "    AS enc\n"
        "  FROM documents)"
    ]
    for i, (a, b) in enumerate(merges):
        merged = "enc"
        for _ in range(passes):
            merged = f"replace({merged}, '/{a}/{b}/', '/{a}{b}/')"
        ctes.append(
            f"a{i + 1} AS (SELECT doc_id, {merged} AS enc FROM a{i})"
        )
    n = len(merges)
    ctes.append(
        f"toks AS (SELECT doc_id,\n"
        f"  list_filter(string_split(a{n}.enc, '/'),"
        f" t -> t != '') AS ts\n"
        f"  FROM a{n})"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,\n"
        "       CAST(len(list_filter(ts, t -> length(t) > 1)) AS BIGINT)\n"
        "         AS n_merged,\n"
        "       coalesce(array_to_string(ts[1:8], ' '), '') AS head_syms,\n"
        "       md5(coalesce(array_to_string(ts, ' '), ''))"
        " AS tokens_md5\n"
        "FROM toks ORDER BY doc_id"
    )

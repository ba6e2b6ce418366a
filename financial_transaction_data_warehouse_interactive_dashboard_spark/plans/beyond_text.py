"""Text-analysis-tier named queries (tx_*) — split from ``plans/beyond.py`` in round 8.

Pure mechanical move (VERDICT r7 ask #8): registry names, oracles, and
driver history are unchanged; ``plans.beyond`` still imports and
re-exports every entry, so existing import paths keep working. Shared
DuckDB fragments/helpers stay in ``plans.beyond`` and are imported from
there (it is mid-initialization at that point, but the shared block is
defined before the tier imports at its bottom run).
"""

from __future__ import annotations

from ..functions import portable as _P
from ..functions import text as T
from ..operators import dedup as D
from ..operators import sampling as SP
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .beyond import (  # shared fragments/helpers
    CHUNK_STRIDE,
    CHUNK_WORDS,
    MIX_TAU,
    NEG_K,
    SPAN_LEN,
    SPAN_RATE,
    SPAN_STRIDE,
    SQL_DOCS_SHINGLES,
    SQL_JACCARD,
    _CLUSTER_SPLIT_CASE,
    _CLUSTER_SPLIT_SALT,
    _CLUSTER_SPLIT_WEIGHTS,
    _HITS,
    _LANG_CASE,
    _PII_EMAIL,
    _PII_PHONE,
    _SPLIT_WEIGHTS,
    _SQL_QUALITY_PTS,
    _STOP_SQL,
)
from .queries import _t, query




@query(
    "tx_lang_id",
    f"""
    WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    h AS (SELECT doc_id, lang,
            {_HITS['en']}::BIGINT AS hits_en,
            {_HITS['es']}::BIGINT AS hits_es,
            {_HITS['zh']}::BIGINT AS hits_zh
          FROM d)
    SELECT doc_id, hits_en, hits_es, hits_zh,
           {_LANG_CASE} AS predicted_lang,
           lang AS labeled_lang
    FROM h ORDER BY doc_id
    """,
)
def tx_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-overlap language ID: argmax of marker hits, ties to the
    alphabetically-first language. Runs on the explode+codegen profile
    (functions.text.text_profile) — the lang label rides through the
    groupBy as a carried key."""
    docs = _t(spark, sf_dir, "documents")
    prof = T.text_profile(docs, carry=("lang",))
    return prof.select(
        "doc_id", "hits_en", "hits_es", "hits_zh",
        T.predicted_lang().alias("predicted_lang"),
        F.col("lang").alias("labeled_lang"),
    ).orderBy("doc_id")




@query(
    "tx_split_by_cluster",
    f"""
    WITH RECURSIVE {SQL_DOCS_SHINGLES},
    ab AS (SELECT doc_id,
             [{_P.sql_md5_long('s', 15, 1)} % {_P.ROLL_MOD} for s in sh] AS ha,
             [{_P.sql_md5_long('s', 15, 16)} % {_P.ROLL_MOD} for s in sh] AS hb
           FROM sh),
    sig AS (SELECT doc_id,
              [list_min([(ha[i] + j * hb[i]) % {_P.ROLL_MOD}
                         for i in range(1, len(ha) + 1)])
               for j in range(0, {D.MINHASH_N})] AS sig
            FROM ab),
    bands AS (SELECT doc_id, b AS band,
                array_to_string(
                  sig[b*{D.LSH_ROWS}+1 : b*{D.LSH_ROWS}+{D.LSH_ROWS}], ',')
                  AS key
              FROM sig, range(0, {D.LSH_BANDS}) AS r(b)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.key = b.key
                         AND a.doc_id < b.doc_id),
    pairs AS (SELECT id_a, id_b
              FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
                        JOIN sh sb ON cand.id_b = sb.doc_id
              WHERE {SQL_JACCARD} >= 0.5),
    e AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS n FROM e),
    reach AS (
      SELECT n, n AS m FROM nodes
      UNION
      SELECT r.n, e.dst AS m FROM reach r JOIN e ON e.src = r.m
    ),
    comp AS (SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS component
             FROM reach GROUP BY n)
    SELECT doc_id, rep, {_CLUSTER_SPLIT_CASE} AS split
    FROM (SELECT d.doc_id,
                 coalesce(c.component, d.doc_id) AS rep
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
    ORDER BY doc_id
    """,
)
def tx_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/test split: a document's split is decided by
    the hash of its near-dup CLUSTER representative (min doc_id of its
    LSH connected component), not its own id — so near-duplicate
    documents can never straddle the train/test boundary, the failure
    mode a plain per-doc hash split (tx_hash_split) silently allows and
    every serious eval pipeline must close. Singleton docs fall back to
    their own id (coalesce), keeping the split a total, deterministic
    function of content clusters. Composition: MinHash-LSH pairs ->
    connected components -> label map equi-joined back on doc_id (the
    map holds only clustered docs, so AQE broadcasts it when small and
    shuffles when the dup rate is high — both correct) ->
    portable hash split on the representative. The oracle replays the
    whole chain in DuckDB (recursive transitive closure + the same md5
    bucket arithmetic) and pins exact per-doc membership."""
    from ..operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    comp = connected_components(pairs)
    rep = (
        docs.join(comp, docs.doc_id == comp.node, "left")
        .select(
            docs.doc_id,
            F.coalesce("component", docs.doc_id).alias("rep"),
        )
    )
    return (
        rep.withColumn(
            "split",
            SP.split_column(
                "rep", _CLUSTER_SPLIT_WEIGHTS, salt=_CLUSTER_SPLIT_SALT
            ),
        )
        .orderBy("doc_id")
    )




# ===========================================================================
# Text analysis
# ===========================================================================


@query(
    "tx_text_profile",
    f"""
    WITH d AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w
               FROM documents),
    h AS (SELECT doc_id, lang, text, w,
            {_HITS['en']}::BIGINT AS hits_en,
            {_HITS['es']}::BIGINT AS hits_es,
            {_HITS['zh']}::BIGINT AS hits_zh,
            len(w)::BIGINT AS n_tokens,
            round(len(list_distinct(w)) / len(w), 6) AS distinct_ratio,
            round({_STOP_SQL} / len(w), 6) AS stop_ratio,
            round(list_sum([length(t) for t in w]) / len(w), 6)
              AS mean_token_len,
            {_SQL_QUALITY_PTS} AS quality_pts
          FROM d),
    hw AS (SELECT doc_id, w,
             [('0x' || substr(md5(x), 1, 15))::BIGINT % {1_000_000_007}
              for x in w] AS hs
           FROM d)
    SELECT h.doc_id, lang AS labeled_lang, hits_en, hits_es, hits_zh,
           {_LANG_CASE} AS predicted_lang,
           n_tokens, distinct_ratio, stop_ratio, mean_token_len, quality_pts,
           len(string_split(text, ' '))::BIGINT AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+'))::BIGINT AS word_runs,
           len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS digit_runs,
           length(text)::BIGINT AS n_chars_seen,
           list_reduce(list_prepend(0, hs),
                       (a, b) -> (a * 31 + b) % {1_000_000_007})::BIGINT
             AS doc_hash,
           list_min([list_reduce(list_prepend(0, hs[i:i+3]),
                                 (a, b) -> (a * 31 + b) % {1_000_000_007})
                     for i in range(1, len(hw.w) - 2)])::BIGINT
             AS min_window_hash
    FROM h JOIN hw USING (doc_id)
    ORDER BY doc_id
    """,
)
def tx_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-document text-analysis profile in ONE entry:
    language-ID (lexicon argmax), quality scoring, token counting, and
    rolling-hash fingerprinting — the four operators the
    tx_lang_id / tx_quality_score / tx_token_count / tx_fingerprint
    entries pin individually.

    Plan shape: three branches over one documents scan — the
    explode+codegen profile shuffle (functions.text.text_profile), a
    map-only token-count projection, and the codegen-hashed fingerprint
    regroup (token_hash_frame) — joined back on doc_id. Two shuffles
    total; payload text never rides through either groupBy.
    """
    docs = _t(spark, sf_dir, "documents")
    prof = T.text_profile(docs, carry=("lang",))
    counts = docs.select(
        "doc_id", *[c.alias(n) for n, c in T.token_counts("text").items()]
    )
    fp = T.token_hash_frame(docs).select(
        "doc_id", *[c.alias(n) for n, c in T.fingerprint_columns("hs").items()]
    )
    return (
        prof.select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            "hits_en",
            "hits_es",
            "hits_zh",
            T.predicted_lang().alias("predicted_lang"),
            "n_tokens",
            "distinct_ratio",
            "stop_ratio",
            "mean_token_len",
            "quality_pts",
        )
        .join(counts, "doc_id")
        .join(fp, "doc_id")
        .orderBy("doc_id")
    )








@query(
    "tx_quality_score",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           len(w)::BIGINT AS n_tokens,
           round(len(list_distinct(w)) / len(w), 6) AS distinct_ratio,
           round({_STOP_SQL} / len(w), 6) AS stop_ratio,
           round(list_sum([length(t) for t in w]) / len(w), 6) AS mean_token_len,
           ( (least(len(w), 100) * 25) // 100
             + (len(list_distinct(w)) * 35) // len(w)
             + least(({_STOP_SQL} * 100) // len(w), 20)
             + least((list_sum([length(t) for t in w]) * 20) // (8 * len(w)), 20)
           )::BIGINT AS quality_pts
    FROM d ORDER BY doc_id
    """,
)
def tx_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality score (C4/Gopher-filter shape), computed
    with the MAP-ONLY column expressions (functions.text.quality_columns)
    — no explode, no shuffle beyond the output sort.

    Formulation choice is measured, not assumed: the explode+aggregate
    text_profile formulation won this round's A/B for the COMBINED
    lang+quality profile (the explode amortizes across five lexicon
    scans), but for the quality components alone it is 2x SLOWER
    (median-of-3 at sf0.1: 1.15s vs 0.56s) — the explode+join overhead
    without the amortization. tx_text_profile keeps the exploded path;
    this standalone query keeps the map-only one; the shared oracle pins
    both to identical integers."""
    docs = _t(spark, sf_dir, "documents")
    cols = T.quality_columns("text")
    return docs.select(
        "doc_id", *[v.alias(k) for k, v in cols.items()]
    ).orderBy("doc_id")




@query(
    "tx_mixture_weights",
    f"""
    WITH tc AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM tc),
    pw AS (
      SELECT source, n_docs, n_tokens, t,
             round(n_tokens::DOUBLE / t, 6) AS p,
             CAST(round(power(n_tokens::DOUBLE / t, {MIX_TAU}), 6)
                  AS DECIMAL(18,6)) AS pt
      FROM tc, tot),
    s AS (SELECT CAST(sum(pt) AS DOUBLE) AS st FROM pw)
    SELECT source, n_docs, n_tokens, p,
           round(CAST(pt AS DOUBLE) / st, 6) AS w,
           round(CAST(pt AS DOUBLE) / st * t / n_tokens, 6)
             AS expected_epochs
    FROM pw, s ORDER BY source
    """,
)
def tx_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (the multilingual-sampling
    recipe: w_i = p_i^tau / sum p_j^tau with tau=0.7): given per-source
    token mass, compute the sampling weight each source gets in the
    training mixture and the expected epoch count (how many times the
    source's data is repeated when sampling the reweighted mixture for
    one total-corpus pass) — upsampling low-resource sources is
    expected_epochs > 1. The last step of corpus curation before
    packing.

    Exactness: token counts exact BIGINT; p^tau follows the repo-wide
    transcendental convention (round-6 then exact DECIMAL sum for the
    normalizer); w and expected_epochs are identically-shaped double
    expressions over those exact parts.

    Scale: one grouped count over the corpus (map-side combined) + a
    |sources|-row frame; everything after the first aggregate is
    dimension-sized. Reference analogue: none."""
    docs = _t(spark, sf_dir, "documents")
    tc = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    tot = tc.agg(F.sum("n_tokens").cast("bigint").alias("t"))
    pw = tc.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "t",
        F.round(F.col("n_tokens").cast("double") / F.col("t"), 6).alias("p"),
        F.round(
            F.pow(F.col("n_tokens").cast("double") / F.col("t"), MIX_TAU), 6
        )
        .cast("decimal(18,6)")
        .alias("pt"),
    )
    s = pw.agg(F.sum("pt").cast("double").alias("st"))
    ptd = F.col("pt").cast("double")
    return (
        pw.crossJoin(F.broadcast(s))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "p",
            F.round(ptd / F.col("st"), 6).alias("w"),
            F.round(
                ptd / F.col("st") * F.col("t") / F.col("n_tokens"), 6
            ).alias("expected_epochs"),
        )
        .orderBy("source")
    )




@query(
    "tx_token_count",
    """
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+'))::BIGINT AS word_runs,
           len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS digit_runs,
           length(text)::BIGINT AS n_chars_seen
    FROM documents ORDER BY doc_id
    """,
)
def tx_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex letter/digit runs."""
    cols = T.token_counts("text")
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", *[c.alias(n) for n, c in cols.items()])
        .orderBy("doc_id")
    )




@query(
    "tx_fingerprint",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    hw AS (SELECT doc_id, w,
             [('0x' || substr(md5(x), 1, 15))::BIGINT % {1_000_000_007}
              for x in w] AS hs
           FROM d)
    SELECT doc_id,
           list_reduce(list_prepend(0, hs),
                       (a, b) -> (a * 31 + b) % {1_000_000_007})::BIGINT
             AS doc_hash,
           list_min([list_reduce(list_prepend(0, hs[i:i+3]),
                                 (a, b) -> (a * 31 + b) % {1_000_000_007})
                     for i in range(1, len(w) - 2)])::BIGINT
             AS min_window_hash
    FROM hw ORDER BY doc_id
    """,
)
def tx_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash doc fingerprint + winnowing-style min 4-token window.
    Hashing runs codegen-side (functions.text.token_hash_frame); only the
    integer fold is interpreted."""
    cols = T.fingerprint_columns("hs")
    return (
        T.token_hash_frame(_t(spark, sf_dir, "documents"))
        .select("doc_id", *[c.alias(n) for n, c in cols.items()])
        .orderBy("doc_id")
    )




@query(
    "tx_tfidf_top_terms",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf,
           round(tf * ln(n_docs / df), 6) AS tfidf
    FROM tf JOIN dfreq USING (term), n
    QUALIFY row_number() OVER (
      PARTITION BY doc_id
      ORDER BY round(tf * ln(n_docs / df), 6) DESC, term ASC
    ) <= 3
    ORDER BY doc_id, tfidf DESC, term
    """,
)
def tx_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF, top-3 terms per document.

    Scale shape: two shuffles (tf groupBy, df groupBy); document frequency
    is a tiny vocabulary-sized table -> broadcast back onto tf; N arrives
    as a broadcast 1-row count, not a collected literal. Tie-break (term
    asc) makes the per-doc top-3 engine-independent.
    """
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "term")
    )




@query(
    "tx_hash_split",
    f"""
    SELECT {SP.sql_split_column('doc_id', _SPLIT_WEIGHTS)} AS split,
           lang, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY 1, 2 ORDER BY split, lang
    """,
)
def tx_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by key hash
    (operators.sampling.split_column) — reproducible dataset splitting as
    a pure function of doc_id: stable under repartitioning, task
    retries, engines (the oracle runs the SAME md5 arithmetic), and
    incremental data arrival (new docs join a split without moving old
    ones — the property seeded-RNG sample() lacks). Output: per
    (split, lang) doc counts and total chars."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", SP.split_column("doc_id", _SPLIT_WEIGHTS))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
        .orderBy("split", "lang")
    )




@query(
    "tx_decontaminate",
    f"""
    WITH d AS (
      SELECT doc_id,
             {SP.sql_split_column('doc_id', _SPLIT_WEIGHTS)} AS split,
             string_split(text, ' ') AS w
      FROM documents),
    sh AS (SELECT doc_id, split, {_P.sql_shingles('w', D.N_SHINGLE)} AS sh
           FROM d),
    ex AS (SELECT doc_id, split, {_P.sql_md5_long('s')} AS h
           FROM (SELECT doc_id, split, unnest(sh) AS s FROM sh)),
    t AS (SELECT DISTINCT h FROM ex WHERE split = 'test')
    SELECT ex.doc_id, count(*) AS n_shared
    FROM ex JOIN t USING (h)
    WHERE ex.split = 'train'
    GROUP BY 1 HAVING count(*) >= 2
    ORDER BY n_shared DESC, doc_id ASC
    """,
)
def tx_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination report
    (operators.dedup.contamination_report): train-split documents (the
    deterministic tx_hash_split assignment) sharing >= 2 distinct
    word-5-gram shingles with any test-split document, ranked most
    contaminated first. The oracle reproduces the split, the shingling,
    and the 60-bit hash join, so the flagged SET is pinned exactly."""
    docs = _t(spark, sf_dir, "documents")
    split = docs.withColumn("split", SP.split_column("doc_id", _SPLIT_WEIGHTS))
    train = split.filter(F.col("split") == "train")
    test = split.filter(F.col("split") == "test")
    return (
        D.contamination_report(train, test, min_shared=2)
        .orderBy(F.desc("n_shared"), F.asc("doc_id"))
    )




@query(
    "tx_stratified_sample",
    f"""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_P.sql_md5_long("doc_id::VARCHAR || 'strat1'")} ASC,
                        doc_id ASC) AS rk
      FROM documents)
    SELECT doc_id, lang FROM r WHERE rk <= 20 ORDER BY lang, doc_id
    """,
)
def tx_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-20-docs-per-language stratified sample
    (operators.sampling.stratified_topk): per-stratum quotas for
    balancing a training mix, ranked by salted portable md5 so the
    selected SET is a pure function of the keys — the oracle pins exact
    membership, not just counts, because the same hash arithmetic runs
    in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return (
        SP.stratified_topk(docs, "lang", "doc_id", k=20, salt="strat1")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )




@query(
    "tx_heavy_collocations",
    """
    WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
    g AS (SELECT unnest([w[i] || ' ' || w[i+1]
                         for i in range(1, len(w))]) AS gram FROM d),
    v AS (SELECT gram, count(*) AS n FROM g GROUP BY 1),
    t AS (SELECT sum(n) AS total FROM v)
    SELECT gram, n, round(n::DOUBLE / total, 6) AS share
    FROM v, t WHERE n > 0.001 * total
    ORDER BY n DESC, gram
    """,
)
def tx_heavy_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent collocations (word bigrams with >0.1% corpus share) via
    the Misra-Gries two-pass sketch (operators.sketch.heavy_hitters):
    pass 1 keeps O(1/phi) counters per partition in a mapInPandas
    summary, pass 2 exact-counts only the candidate union — state is
    bounded by the sketch, never by the n-gram domain, yet the output
    is the EXACT heavy set (the superset guarantee means no heavy gram
    can be missed), which is why a plain GROUP BY oracle can pin it.
    Bigrams are built with posexplode + lead (the codegen-friendly
    pattern; HOF string-building lambdas measured 3-14x slower)."""
    from pyspark.sql.window import Window

    from ..operators.sketch import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.withColumn("nxt", F.lead("term").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.concat_ws(" ", "term", "nxt").alias("gram"))
    )
    return heavy_hitters(grams, "gram", phi=0.001)




@query(
    "tx_unigram_logprob",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    v AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
    n AS (SELECT sum(c) AS total FROM v),
    lp AS (SELECT term,
                  round(ln(c::DOUBLE / total), 6)::DECIMAL(18,6) AS logp
           FROM v, n)
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(logp) AS DOUBLE) AS sum_logp,
           round(CAST(sum(logp) AS DOUBLE) / count(*), 6) AS avg_logp
    FROM tok JOIN lp USING (term)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def tx_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram language-model scoring — the statistical quality
    signal beside the rule-based heuristics (functions.text
    quality_pts): each document's mean token log-likelihood under the
    corpus's own unigram distribution; rare-token soup scores low, the
    cheap first-pass perplexity filter of LLM data pipelines.

    Scale + determinism shape: the LM itself is a vocabulary-sized
    frame (term counts -> broadcast), so scoring is one explode + one
    broadcast join + one groupBy. Per-term log-probs are rounded to 6dp
    and summed as DECIMAL(18,6) — decimal addition is exact and
    associative, so the per-doc sum is identical no matter what order
    partial aggregation combines tokens in (raw double sums would drift
    between engines and between runs)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    v = tok.groupBy("term").agg(F.count("*").alias("c"))
    n = v.agg(F.sum("c").alias("total"))
    lp = (
        v.crossJoin(F.broadcast(n))
        .select(
            "term",
            F.round(F.log(F.col("c").cast("double") / F.col("total")), 6)
            .cast("decimal(18,6)")
            .alias("logp"),
        )
    )
    return (
        tok.join(F.broadcast(lp), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("logp").cast("double").alias("sum_logp"),
        )
        .withColumn(
            "avg_logp",
            F.round(F.col("sum_logp") / F.col("n_tokens"), 6),
        )
        .orderBy("doc_id")
    )




@query(
    "tx_weighted_sample",
    f"""
    WITH r AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {SP.sql_weighted_rank_key("doc_id", "n_chars", "wtd1")}
                          DESC,
                        doc_id ASC) AS rk
      FROM documents)
    SELECT doc_id, lang, n_chars FROM r WHERE rk <= 15
    ORDER BY lang, doc_id
    """,
)
def tx_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted per-language sample
    (operators.sampling.weighted_topk, Efraimidis–Spirakis A-Res):
    15 docs per language with inclusion probability proportional to
    n_chars — the 'sample proportional to token count' draw a training
    mix uses so long documents aren't underrepresented per-doc. The
    oracle runs the identical hash→uniform→ln(u)/w arithmetic in DuckDB
    and pins exact membership, not just counts."""
    docs = _t(spark, sf_dir, "documents")
    return (
        SP.weighted_topk(
            docs, "lang", "doc_id", "n_chars", k=15, salt="wtd1"
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy("lang", "doc_id")
    )




@query(
    "tx_chunk_documents",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    n AS (SELECT doc_id, ws, len(ws) AS nw FROM w),
    s AS (SELECT doc_id, ws, nw,
                 unnest(range(1, greatest(nw - {CHUNK_WORDS - CHUNK_STRIDE},
                                          1) + 1, {CHUNK_STRIDE})) AS st
          FROM n)
    SELECT doc_id,
           CAST((st - 1) / {CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(st AS BIGINT) AS start_word,
           CAST(least({CHUNK_WORDS}, nw - st + 1) AS BIGINT) AS n_words,
           array_to_string(
             list_slice(ws, st, least(st + {CHUNK_WORDS - 1}, nw)), ' ')
             AS chunk_text
    FROM s ORDER BY doc_id, chunk_idx
    """,
)
def tx_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document CHUNKING — the context-window splitter of
    every RAG/pretraining pipeline: each document becomes overlapping
    {CHUNK_WORDS}-word chunks at stride {CHUNK_STRIDE} ({CHUNK_WORDS -
    CHUNK_STRIDE}-word overlap so no boundary-spanning text is lost),
    with start offsets so chunks map back to their source span. Start
    positions are sequence(1, max(n_words - overlap, 1), stride): every
    word is covered, the final chunk may run short, and a document
    shorter than one stride still yields exactly one chunk (including
    the empty document, whose single chunk is the empty string — the
    split('') == [''] convention both engines share).

    Pure codegen: split + sequence + explode + slice + concat_ws — no
    UDF, no shuffle at all (chunking is embarrassingly map-side; the
    ORDER BY is presentation). Output size ~ n_words/stride rows per
    doc; at 100 TB this runs as a map-only pass whose output feeds
    straight into the tokenize/pack stages (tx_token_count,
    tx_pack_sequences). Reference analogue: none."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    d = docs.select("doc_id", ws.alias("ws"), F.size(ws).alias("nw"))
    starts = F.sequence(
        F.lit(1),
        F.greatest(
            F.col("nw") - (CHUNK_WORDS - CHUNK_STRIDE), F.lit(1)
        ),
        F.lit(CHUNK_STRIDE),
    )
    c = d.select("doc_id", "nw", "ws", F.explode(starts).alias("st"))
    chunk = F.slice("ws", F.col("st"), CHUNK_WORDS)
    return c.select(
        "doc_id",
        ((F.col("st") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("st").cast("bigint").alias("start_word"),
        F.size(chunk).cast("bigint").alias("n_words"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")




@query(
    "tx_pack_sequences",
    """
    WITH o AS (
      SELECT lang, n_chars,
             sum(n_chars) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_chars AS off
      FROM documents)
    SELECT lang, CAST(off // 4096 AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM o GROUP BY 1, 2 ORDER BY lang, bin
    """,
)
def tx_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: documents laid out per
    language in doc_id order and binned by STARTING offset into
    4096-char budgets (operators.sampling.pack_offset_bins — the
    window-cumsum packing rule that parallelizes; exact greedy first-fit
    is a sequential chain). n_chars stands in for the token count the
    real pipeline would use (tx_token_count provides it). The per-bin
    aggregate oracle fails if any document lands in the wrong bin."""
    docs = _t(spark, sf_dir, "documents")
    packed = SP.pack_offset_bins(
        docs, part_col="lang", order_col="doc_id", size_col="n_chars",
        budget=4096,
    )
    return (
        packed.groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang", "bin")
    )




@query(
    "tx_pii_scrub",
    f"""
    WITH injected AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or +1-555-01'
                  || lpad((doc_id % 100)::VARCHAR, 2, '0') || ' now' AS text2
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text2, '{_PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text2, '{_PII_PHONE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(text2, '{_PII_EMAIL}', '<EMAIL>',
                                             'g'),
                              '{_PII_PHONE}', '<PHONE>', 'g')) AS clean_md5
    FROM injected ORDER BY doc_id
    """,
)
def tx_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every LLM training pipeline
    runs before text leaves the curation layer: email/phone patterns
    masked with typed placeholders, entirely in JVM regexp expressions
    (no Python in the hot path; at 100 TB this is a map-only stage with
    zero shuffle).

    The fixture text is a synthetic word salad with NO PII, so the query
    first INJECTS deterministic PII derived from doc_id (same expression
    in the oracle) — otherwise the scrub would pass vacuously on text it
    never touched. The md5 of the scrubbed text pins every byte of the
    rewrite; the extract_all counts pin the detector itself.

    Reference analogue: none (reference has no text pipeline)."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" now"),
        ).alias("text2"),
    )
    clean = F.regexp_replace(
        F.regexp_replace("text2", F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
        F.lit(_PII_PHONE),
        F.lit("<PHONE>"),
    )
    return injected.select(
        "doc_id",
        F.size(F.regexp_extract_all("text2", F.lit(_PII_EMAIL), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text2", F.lit(_PII_PHONE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(clean).alias("clean_md5"),
    ).orderBy("doc_id")




@query(
    "tx_repetition_ratio",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents),
    b AS (
      SELECT doc_id,
             [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] AS bg
      FROM t)
    SELECT doc_id,
           CAST(len(bg) AS BIGINT) AS n_bigrams,
           round(1 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
             AS rep_ratio
    FROM b WHERE len(bg) > 0 ORDER BY doc_id
    """,
)
def tx_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: the fraction of duplicate
    word 2-grams per document (boilerplate and degenerate generations
    score high and get filtered before training).

    Physical shape: posexplode tokens -> per-doc lead(1) window ->
    count vs countDistinct — one shuffle on doc_id, all whole-stage
    codegen. The shuffle-free alternative (transform over a sequence +
    element_at, a pure array-expression map stage) is interpreted by
    Catalyst, not codegen'd, and measured 14x slower at sf0.1 (19.6s vs
    1.4s) — the same HOF-vs-codegen trade documented at
    operators/dedup.py shingle_rows.

    Reference analogue: none (reference has no text pipeline)."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " +")).alias("pos", "t")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        "doc_id",
        F.col("t").alias("a"),
        F.lead("t", 1).over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    return (
        bg.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.countDistinct("a", "b").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                1 - F.col("n_distinct").cast("double") / F.col("n_bigrams"), 6
            ).alias("rep_ratio"),
        )
        .orderBy("doc_id")
    )




@query(
    "tx_bigram_logprob",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (SELECT doc_id, unnest(w) AS term FROM d),
    v AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
    n AS (SELECT sum(c) AS total FROM v),
    bg AS (
      SELECT doc_id,
             unnest([{'a': w[i], 'b': w[i+1]}
                     for i in range(1, len(w))]) AS p
      FROM d),
    pairs AS (SELECT doc_id, p.a AS w1, p.b AS w2 FROM bg),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
    lp AS (
      SELECT pairs.doc_id,
             round(ln(CAST(0.7 AS DOUBLE) * c12 / v1.c
                      + CAST(0.3 AS DOUBLE) * v2.c / total), 6)
               ::DECIMAL(18,6) AS logp
      FROM pairs
      JOIN c12 USING (w1, w2)
      JOIN v v1 ON w1 = v1.term
      JOIN v v2 ON w2 = v2.term
      CROSS JOIN n)
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(logp) AS DOUBLE) AS sum_logp,
           round(CAST(sum(logp) AS DOUBLE) / count(*), 6) AS avg_logp
    FROM lp GROUP BY doc_id ORDER BY doc_id
    """,
)
def tx_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated BIGRAM language-model scoring — the second-order
    fluency signal above tx_unigram_logprob: each document's mean
    log-likelihood of its adjacent token pairs under
    p(w2|w1) = 0.7 * c(w1,w2)/c(w1) + 0.3 * c(w2)/N (Jelinek-Mercer
    interpolation with the corpus unigram as the backoff, so unseen
    continuations never hit log(0)). Word-salad text with plausible
    unigrams but incoherent transitions scores low here and normal
    there — exactly the gap a bigram filter exists to close.

    Scale + determinism shape: both model frames (bigram and unigram
    counts) are vocabulary-sized broadcasts; occurrences come from the
    codegen posexplode+lead pipeline (no HOF lambdas in the hot path);
    per-pair log-probs are rounded to 6dp and summed as DECIMAL —
    exact, order-independent re-aggregation, same discipline as the
    unigram entry."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        tok.select(
            "doc_id",
            F.col("term").alias("w1"),
            F.lead("term", 1).over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    v = tok.groupBy("term").agg(F.count("*").alias("c"))
    n = v.agg(F.sum("c").alias("total"))
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    v1 = v.select(F.col("term").alias("w1"), F.col("c").alias("c1"))
    v2 = v.select(F.col("term").alias("w2"), F.col("c").alias("c2"))
    lp = (
        pairs.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(v1), "w1")
        .join(F.broadcast(v2), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.lit(0.7) * F.col("c12") / F.col("c1")
                    + F.lit(0.3) * F.col("c2") / F.col("total")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("logp"),
        )
    )
    return (
        lp.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("logp").cast("double").alias("sum_logp"),
        )
        .withColumn(
            "avg_logp",
            F.round(F.col("sum_logp") / F.col("n_bigrams"), 6),
        )
        .orderBy("doc_id")
    )




@query(
    "tx_negative_sampling",
    f"""
    WITH pb AS (SELECT DISTINCT o_custkey AS ck, p_brand AS b
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                            JOIN part ON l_partkey = p_partkey),
    u AS (SELECT DISTINCT ck FROM pb),
    br AS (SELECT DISTINCT p_brand AS b FROM part),
    cand AS (SELECT u.ck AS ck, br.b AS b FROM u CROSS JOIN br
             WHERE NOT EXISTS (SELECT 1 FROM pb
                               WHERE pb.ck = u.ck AND pb.b = br.b)),
    r AS (SELECT ck, b,
            row_number() OVER (
              PARTITION BY ck
              ORDER BY ('0x' || substr(md5(ck::VARCHAR || '|' || b), 1, 15))
                         ::BIGINT, b) AS rnk
          FROM cand)
    SELECT ck AS custkey, b AS neg_brand, rnk
    FROM r WHERE rnk <= {NEG_K} ORDER BY custkey, rnk
    """,
)
def tx_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    for every purchasing customer, the 3 hash-ranked brands they
    have NOT bought — the negatives a two-tower recommender or
    contrastive embedding job pairs against each positive. Sampling by
    portable-hash rank (not rand()) makes the draw reproducible,
    shardable, and oracle-checkable — the same policy as every split/
    sample operator in this engine (Efraimidis-Spirakis family).

    Scale shape: candidates = purchasers x broadcast BRAND DIM (catalog-
    sized, bounded) anti-joined against the distinct purchase pairs;
    ranking is a row_number window PARTITIONED PER CUSTOMER (width <=
    |brands|), never a global sort. At a 10^6-item catalog the cross
    join becomes hash-bucketed candidate generation (sample buckets,
    then anti-join), same skeleton."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("o_custkey").alias("ck"), F.col("p_brand").alias("b"))
        .distinct()
    )
    u = pb.select("ck").distinct()
    br = part.select(F.col("p_brand").alias("b")).distinct()
    cand = u.crossJoin(F.broadcast(br)).join(pb, ["ck", "b"], "left_anti")
    h = _P.md5_long(
        F.concat(F.col("ck").cast("string"), F.lit("|"), F.col("b"))
    )
    wr = Window.partitionBy("ck").orderBy(h.asc(), F.col("b").asc())
    return (
        cand.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= NEG_K)
        .select(
            F.col("ck").alias("custkey"),
            F.col("b").alias("neg_brand"),
            "rnk",
        )
        .orderBy("custkey", "rnk")
    )




@query(
    "tx_span_corruption",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    t AS (
      SELECT doc_id, unnest(range(0, len(w))) AS pos, unnest(w) AS tk
      FROM tok),
    starts AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
               AS sid
      FROM t
      WHERE pos % {SPAN_STRIDE} = 0
        AND ('0x' || substr(md5(doc_id::VARCHAR || '|' || pos::VARCHAR),
                            1, 15))::BIGINT % {SPAN_RATE} = 0),
    masked AS (
      SELECT s.doc_id AS doc_id, s.pos AS start_pos, s.sid AS sid,
             t.pos AS pos, t.tk AS tk
      FROM starts s JOIN t
        ON t.doc_id = s.doc_id
       AND t.pos BETWEEN s.pos AND s.pos + {SPAN_LEN - 1}),
    corrupted AS (
      SELECT t.doc_id AS doc_id,
             string_agg(
               CASE WHEN m.start_pos = t.pos
                    THEN '<extra_id_' || m.sid || '>'
                    WHEN m.pos IS NOT NULL THEN NULL
                    ELSE t.tk END, ' ' ORDER BY t.pos) AS corrupted
      FROM t LEFT JOIN masked m
        ON m.doc_id = t.doc_id AND m.pos = t.pos
      GROUP BY 1),
    tgt AS (
      SELECT doc_id, sid,
             '<extra_id_' || sid || '> '
               || string_agg(tk, ' ' ORDER BY pos) AS seg
      FROM masked GROUP BY 1, 2),
    target AS (
      SELECT doc_id, count(*) AS n_spans,
             string_agg(seg, ' ' ORDER BY sid) AS target
      FROM tgt GROUP BY 1)
    SELECT c.doc_id AS doc_id, coalesce(tg.n_spans, 0) AS n_spans,
           c.corrupted AS corrupted, coalesce(tg.target, '') AS target
    FROM corrupted c LEFT JOIN target tg ON c.doc_id = tg.doc_id
    ORDER BY doc_id
    """,
)
def tx_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style SPAN CORRUPTION (Raffel et al. 2020 §3.1.4): mask
    deterministic 3-token spans (~12% of tokens: candidate
    starts every 5 tokens, kept when the portable hash of
    (doc_id, pos) lands in 1/5), replace each span with a
    numbered sentinel in the input, and emit the denoising TARGET
    (sentinel + the masked tokens, in span order) — the encoder/decoder
    pair a T5-family pretraining job consumes. Hash-gated spans make
    the draw reproducible and shardable — same policy as every sampling
    operator here — and non-overlapping by construction (stride
    5 > span 3).

    Physical: one posexplode token frame, span starts filtered by
    arithmetic (no rand()), spans expanded by an EXPLODE of the
    3 positions and equi-joined back (never a BETWEEN theta
    join), reassembly per doc via the usual bounded array_sort. Three
    shuffles, all keyed by doc_id. Docs whose candidates all miss the
    hash gate pass through uncorrupted with an empty target."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tk")
    )
    ws = Window.partitionBy("doc_id").orderBy("pos")
    starts = (
        tok.filter(
            (F.col("pos") % SPAN_STRIDE == 0)
            & (
                _P.md5_long(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("|"),
                        F.col("pos").cast("string"),
                    )
                )
                % SPAN_RATE
                == 0
            )
        )
        .select("doc_id", F.col("pos").alias("start_pos"))
        .withColumn("sid", F.row_number().over(
            Window.partitionBy("doc_id").orderBy("start_pos")
        ) - 1)
    )
    mask_pos = starts.select(
        "doc_id",
        "start_pos",
        "sid",
        F.explode(
            F.array(
                *[F.col("start_pos") + i for i in range(SPAN_LEN)]
            )
        ).alias("pos"),
    )
    masked = mask_pos.join(tok, ["doc_id", "pos"])
    out_tok = (
        tok.join(
            masked.select("doc_id", "pos", "start_pos", "sid"),
            ["doc_id", "pos"],
            "left",
        )
        .select(
            "doc_id",
            "pos",
            F.when(
                F.col("start_pos") == F.col("pos"),
                F.concat(
                    F.lit("<extra_id_"),
                    F.col("sid").cast("string"),
                    F.lit(">"),
                ),
            )
            .when(F.col("start_pos").isNotNull(), F.lit(None))
            .otherwise(F.col("tk"))
            .alias("out"),
        )
        .filter(F.col("out").isNotNull())
    )
    corrupted = out_tok.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "out"))),
                lambda s: s["out"],
            ),
            " ",
        ).alias("corrupted")
    )
    segs = masked.groupBy("doc_id", "sid").agg(
        F.concat(
            F.lit("<extra_id_"),
            F.col("sid").cast("string"),
            F.lit("> "),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tk"))),
                    lambda s: s["tk"],
                ),
                " ",
            ),
        ).alias("seg")
    )
    target = segs.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sid", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("target"),
    )
    return (
        corrupted.join(target, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            "corrupted",
            F.coalesce("target", F.lit("")).alias("target"),
        )
        .orderBy("doc_id")
    )




# ---------------------------------------------------------------------------
# tx_curriculum_order: scale-safe global curriculum ordering
# ---------------------------------------------------------------------------


@query(
    "tx_curriculum_order",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    q AS (SELECT doc_id, {_SQL_QUALITY_PTS} AS quality_pts FROM d)
    SELECT doc_id, quality_pts,
           row_number() OVER (ORDER BY quality_pts DESC, doc_id)
             AS curriculum_pos
    FROM q ORDER BY curriculum_pos
    """,
)
def tx_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering of the training corpus: every document gets a
    GLOBAL position by (quality DESC, doc_id) — highest-quality text
    first, the easy-to-hard schedule curriculum-learning pipelines feed
    the data loader. The interesting part is WHERE the global ordering
    comes from: this entry runs operators.surrogate.two_phase_rank BY
    DEFAULT (range-partition histogram + per-partition offsets — no
    single-partition window anywhere), so the scale_safe machinery that
    elsewhere sits behind opt-in flags is itself under the driver's
    value-hash gate here, checked against the oracle's plain
    row_number() — the two formulations must agree to the last row.
    Quality is the same map-only C4/Gopher composite as
    tx_quality_score (shared oracle arithmetic, integer points)."""
    from ..operators.surrogate import two_phase_rank

    docs = _t(spark, sf_dir, "documents")
    cols = T.quality_columns("text")
    q = docs.select(
        "doc_id", cols["quality_pts"].alias("quality_pts")
    )
    ranked, _ = two_phase_rank(
        q,
        [F.desc("quality_pts"), F.asc("doc_id")],
        rank_col="curriculum_pos",
    )
    return ranked.select(
        "doc_id", "quality_pts", "curriculum_pos"
    ).orderBy("curriculum_pos")


# ---------------------------------------------------------------------------
# BPE tokenization tier (r9, VERDICT r8 ask #6)
# ---------------------------------------------------------------------------

_BPE_IDS_DUCK = T.bpe_token_ids_sql("duckdb")
_BPE_IDS_SPARK = T.bpe_token_ids_sql("spark")

_BPE_PACK_BUDGET = 512  # tokens per packed training sequence


@query(
    "tx_bpe_apply",
    f"""
    WITH ids AS (SELECT doc_id, {_BPE_IDS_DUCK} AS ids FROM documents)
    SELECT doc_id,
           CAST(len(ids) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(ids, i -> i >= {T.BPE_BASE_ID}))
                AS BIGINT) AS n_merged,
           coalesce(array_to_string(ids[1:12], ','), '') AS head_ids_csv,
           md5(coalesce(array_to_string(ids, ','), '')) AS tokens_md5
    FROM ids ORDER BY doc_id
    """,
)
def tx_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-grade BPE merge-table application
    (functions.text.bpe_token_ids_sql): each document is lowercased,
    split to words, delimiter-encoded per word ('/t/a/b/l/e/'), run
    through the fixed ordered merge table (functions.text.BPE_MERGES —
    the th/the/an/in/er/... bigrams every English BPE learns first,
    each rule applied as leftmost-nonoverlapping replace to a fixpoint),
    then mapped symbol->token-id through the derived vocab. Replaces
    tx_token_count's whitespace proxy with REAL token ids: n_tokens is
    the sequence length a packing/mixture stage consumes
    (tx_bpe_pack), n_merged counts multi-char tokens (a dead merge
    table collapses it to 0), and tokens_md5 pins every token of every
    document — one flipped merge anywhere in the corpus fails the hash.

    Spark and DuckDB evaluate the SAME generated expression (one
    generator, two dialects), all integer/string kernels, no floats,
    no UDFs, map-only over documents — at 100 TB this is a zero-shuffle
    codegen stage like tx_pii_scrub. Reference analogue: none."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.expr(_BPE_IDS_SPARK).alias("ids"))
        .select(
            "doc_id",
            F.size("ids").cast("bigint").alias("n_tokens"),
            F.expr(f"size(filter(ids, i -> i >= {T.BPE_BASE_ID}))")
            .cast("bigint")
            .alias("n_merged"),
            # NULL-safe like the oracle's coalesce(array_to_string(..), '')
            # (ADVICE r9: a NULL `text` row must hash identically in both
            # engines — Spark's array_join(NULL) is NULL, DuckDB's wrapped
            # form is md5('')).
            F.coalesce(
                # cast(array<int> as array<string>) emits the identical
                # digit strings as the old per-element transform-cast,
                # without the interpreted lambda (r17, guide 4.1).
                F.expr(
                    "array_join(cast(slice(ids, 1, 12) as array<string>),"
                    " ',')"
                ),
                F.lit(""),
            ).alias("head_ids_csv"),
            F.md5(
                F.coalesce(
                    F.expr("array_join(cast(ids as array<string>), ',')"),
                    F.lit(""),
                )
            ).alias("tokens_md5"),
        )
        .orderBy("doc_id")
    )




@query(
    "tx_bpe_pack",
    f"""
    WITH tl AS (
      SELECT doc_id, lang,
             CAST(len({_BPE_IDS_DUCK}) AS BIGINT) AS n_tokens
      FROM documents),
    o AS (
      SELECT lang, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS off
      FROM tl)
    SELECT lang, CAST(off // {_BPE_PACK_BUDGET} AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM o GROUP BY 1, 2 ORDER BY lang, bin
    """,
)
def tx_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over REAL tokenizer lengths: the offset-bin
    packing rule (operators.sampling.pack_offset_bins — window cumsum,
    one shuffle) fed by tx_bpe_apply's BPE token counts instead of the
    n_chars stand-in tx_pack_sequences documents. Per language,
    documents are laid out in doc_id order and binned into
    512-token training-sequence budgets; the per-bin aggregate oracle
    fails if any document's TOKEN COUNT (not byte count) lands it in
    the wrong bin — so the packing claim now rests on the tokenizer
    the training pipeline would actually run. Reference analogue:
    none."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(f"size({_BPE_IDS_SPARK})").cast("bigint").alias("n_tokens"),
    )
    packed = SP.pack_offset_bins(
        docs, part_col="lang", order_col="doc_id", size_col="n_tokens",
        budget=_BPE_PACK_BUDGET,
    )
    return (
        packed.groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang", "bin")
    )


@query(
    "tx_bpe_train",
    T.bpe_train_sql(),
)
def tx_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE TRAINING (functions.text.bpe_train): learn the
    first 8 merges from the corpus itself — one corpus pass builds the
    word-frequency table (Heaps' law: vocab << corpus, so training
    state fits executors at 100 TB), then per merge one shuffle counts
    adjacent symbol pairs weighted by word frequency, the global top-1
    wins (ties lexicographic), and the winner is folded into every word
    via the same delimiter-encoded replace fixpoint tx_bpe_apply uses —
    the kmeans-iteration discipline (materialize per round) applied to
    tokenizer training. The oracle unrolls the identical loop, so every
    intermediate merge decision — not just the final table — is inside
    the hash: a wrong count, tie-break, or merge application anywhere
    in the 8 rounds flips a row. Output: (rank, left_sym, right_sym,
    pair_weight). Integer-only; exact by construction. Reference
    analogue: none (beyond-reference LLM-pipeline tier)."""
    return T.bpe_train(_t(spark, sf_dir, "documents")).orderBy("rank")


@query(
    "tx_bpe_apply_arrow",
    # Shares tx_bpe_apply's oracle STRING verbatim (the twin
    # discipline): Arrow path == expression path is the checked
    # contract — the mapInPandas tokenizer must reproduce every token id
    # of every document that the generated nested-replace expression
    # produces, or the hash fails.
    f"""
    WITH ids AS (SELECT doc_id, {_BPE_IDS_DUCK} AS ids FROM documents)
    SELECT doc_id,
           CAST(len(ids) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(ids, i -> i >= {T.BPE_BASE_ID}))
                AS BIGINT) AS n_merged,
           coalesce(array_to_string(ids[1:12], ','), '') AS head_ids_csv,
           md5(coalesce(array_to_string(ids, ','), '')) AS tokens_md5
    FROM ids ORDER BY doc_id
    """,
)
def tx_bpe_apply_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ARROW tokenizer path (functions.text.bpe_tokenize_arrow)
    applied with the fixed 12-merge table and pinned against the
    expression path's oracle VERBATIM: word splitting runs JVM-side
    (the identical bpe_words_sql fragment), the per-word merge loop
    runs in Arrow pandas batches with a word cache, and symbol -> id
    mapping comes back JVM-side through the same vocab CASE the
    generated expression compiles. This is the path that scales to a
    LEARNED 50k-merge production vocab (the r9 design boundary: the
    nested-replace expression grows 4 replace() calls per merge and
    cannot compile at that size); pinning it bit-equal to the codegen
    path at 12 merges is what licenses tx_bpe_train_apply to trust it
    at arbitrary table length. Reference analogue: none."""
    docs = _t(spark, sf_dir, "documents")
    toks = T.bpe_tokenize_arrow(docs, T.BPE_MERGES)
    vocab_case = T.bpe_vocab_case_sql()
    return (
        toks.select(
            "doc_id",
            F.expr(f"transform(toks, t -> {vocab_case})").alias("ids"),
        )
        .select(
            "doc_id",
            F.size("ids").cast("bigint").alias("n_tokens"),
            F.expr(f"size(filter(ids, i -> i >= {T.BPE_BASE_ID}))")
            .cast("bigint")
            .alias("n_merged"),
            F.coalesce(
                # cast(array<int> as array<string>) emits the identical
                # digit strings as the old per-element transform-cast,
                # without the interpreted lambda (r17, guide 4.1).
                F.expr(
                    "array_join(cast(slice(ids, 1, 12) as array<string>),"
                    " ',')"
                ),
                F.lit(""),
            ).alias("head_ids_csv"),
            F.md5(
                F.coalesce(
                    F.expr("array_join(cast(ids as array<string>), ',')"),
                    F.lit(""),
                )
            ).alias("tokens_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "tx_bpe_train_apply",
    T.bpe_train_apply_sql(),
)
def tx_bpe_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN -> APPLY composition: the merge table comes from
    DISTRIBUTED TRAINING (functions.text.bpe_train — the same 8-merge
    learning loop tx_bpe_train pins, every intermediate decision inside
    this oracle too), is collected as a bounded frame (8 rows; a
    production 50k-merge vocab is still megabytes — driver-collectable
    by design, the audited-collect discipline), and is applied to every
    document through the Arrow tokenizer (bpe_tokenize_arrow — the
    arbitrary-length path, licensed by tx_bpe_apply_arrow's verbatim
    twin pin at fixed 12 merges). Output hashes the merged SYMBOL
    stream (learned vocabs have no static id table; symbols ARE the
    tokens), so a drift anywhere in train OR apply — a flipped merge
    decision, a wrong tie-break, a boundary-crossing merge — shifts
    tokens_md5.

    The oracle unrolls training (m0..m7) and then applies the learned
    winners to the delimiter-encoded document stream one rank at a
    time ('//' word boundaries cannot match any '/a/b/' pattern), the
    exact 1-row-cross-join shape training itself uses. At 100 TB:
    train = one corpus pass + one shuffle per merge over the Heaps-law
    word table; apply = map-only Arrow stage over documents.
    Reference analogue: none."""
    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in T.bpe_train(docs).orderBy("rank").collect()
    ]
    toks = T.bpe_tokenize_arrow(docs, merges)
    return (
        toks.select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.expr("size(filter(toks, t -> length(t) > 1))")
            .cast("bigint")
            .alias("n_merged"),
            F.coalesce(
                F.expr("array_join(slice(toks, 1, 8), ' ')"), F.lit("")
            ).alias("head_syms"),
            F.md5(
                F.coalesce(F.expr("array_join(toks, ' ')"), F.lit(""))
            ).alias("tokens_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "tx_bpe_apply64",
    T.bpe_apply_fixed_sql(T.BPE_MERGES64),
)
def tx_bpe_apply64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow tokenizer at a 64-MERGE table — the depth where the
    'arbitrary-length learned vocab' claim is finally exercised, not
    just licensed (VERDICT r10 ask #2: every prior entry ran <= 12
    merges, a size the generated nested-replace expression can still
    compile; at 64 rules x BPE_PASSES the expression path would be a
    256-deep replace chain and is never built — only the
    functions.text.bpe_tokenize_arrow mapInPandas path runs, its cost
    per-token, not per-rule). The table (functions.text.BPE_MERGES64)
    was learned ONCE by bpe_train's exact semantics over the sf0.01
    word table and frozen as a public constant, so deep ranks genuinely
    fire on the corpus: 'customer' completes at rank 30, 'value' at
    rank 62, 'key' at rank 64 — a tokenizer that silently truncated or
    reordered the table shifts tokens_md5 on most documents.

    The oracle replays the frozen table one rank at a time as static
    '/a/b/' -> '/ab/' replace-fixpoint CTEs over the delimiter-encoded
    document stream (the tx_bpe_train_apply shape with literal
    patterns). Output hashes the merged SYMBOL stream. Word splitting
    stays JVM-side (the shared bpe_words_sql fragment); the plan is a
    single MapInPandas stage over a pruned scan, no shuffle
    (plan-pinned with tx_bpe_apply_arrow). At 100 TB: map-only over
    documents — per-merge cost is a dict-cached per-word loop, flat in
    table length (the bench's bpe_arrow64_vs_arrow12 twin ratio
    records it). Reference analogue: none."""
    docs = _t(spark, sf_dir, "documents")
    toks = T.bpe_tokenize_arrow(docs, T.BPE_MERGES64)
    return (
        toks.select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.expr("size(filter(toks, t -> length(t) > 1))")
            .cast("bigint")
            .alias("n_merged"),
            F.coalesce(
                F.expr("array_join(slice(toks, 1, 8), ' ')"), F.lit("")
            ).alias("head_syms"),
            F.md5(
                F.coalesce(F.expr("array_join(toks, ' ')"), F.lit(""))
            ).alias("tokens_md5"),
        )
        .orderBy("doc_id")
    )


_BPE_WORDS_DUCK = T.bpe_words_sql("duckdb")
_BPE_WORDS_SPARK = T.bpe_words_sql("spark")


@query(
    "tx_bpe_fertility",
    f"""
    WITH d AS (
      SELECT lang,
             CAST(len({_BPE_WORDS_DUCK}) AS BIGINT) AS n_words,
             CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                  AS BIGINT) AS n_chars,
             CAST(len({_BPE_IDS_DUCK}) AS BIGINT) AS n_tokens,
             CAST(len(list_filter({_BPE_IDS_DUCK},
                                  i -> i >= {T.BPE_BASE_ID}))
                  AS BIGINT) AS n_merged
      FROM documents),
    g AS (SELECT lang, count(*) AS n_docs,
                 sum(n_words) AS words, sum(n_chars) AS chars,
                 sum(n_tokens) AS tokens, sum(n_merged) AS merged
          FROM d GROUP BY 1)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(words AS BIGINT) AS total_words,
           CAST(tokens AS BIGINT) AS total_tokens,
           round(CAST(tokens AS DOUBLE) / CAST(words AS DOUBLE), 6)
             AS fertility6,
           round(CAST(chars AS DOUBLE) / CAST(tokens AS DOUBLE), 6)
             AS chars_per_token6,
           round(CAST(merged AS DOUBLE) / CAST(tokens AS DOUBLE), 6)
             AS merged_frac6
    FROM g ORDER BY lang
    """,
)
def tx_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY evaluation per language — the standard
    multilingual tokenizer-QA table (fertility = tokens per word;
    chars per token = compression; merged fraction = how much of the
    stream the merge table actually covers): the metric suite a
    training pipeline reads before committing to a vocabulary, because
    a tokenizer that is fluent in English and 2x-fertile in another
    language silently doubles that language's effective sequence cost.
    Counts ride the SAME generated expression tx_bpe_apply pins
    (functions.text.bpe_token_ids_sql) plus the shared word fragment,
    so the metrics are exactly the tokenizer's, not a proxy's.

    All per-document quantities are integers; per-language sums are
    exact (map-side combinable, ONE shuffle to 5 lang groups); each
    ratio is a single identically-parenthesized double division rounded
    to 6 dp — bit-equal across engines by the repo's standard
    discipline. At 100 TB: one corpus pass, 5-row output.
    Reference analogue: none."""
    # Project the token-id array ONCE, then take both counts off it —
    # the generated 48-replace expression is the dominant per-row cost,
    # and evaluating it twice (n_tokens + n_merged) doubled the map
    # stage (VERDICT r10 plan audit). Two chained selects guarantee the
    # single evaluation regardless of CSE.
    ids = _t(spark, sf_dir, "documents").select(
        "lang",
        F.expr(f"size({_BPE_WORDS_SPARK})").cast("bigint").alias("n_words"),
        F.length(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
        ).cast("bigint").alias("n_chars"),
        F.expr(_BPE_IDS_SPARK).alias("ids"),
    )
    d = ids.select(
        "lang",
        "n_words",
        "n_chars",
        F.size("ids").cast("bigint").alias("n_tokens"),
        F.expr(f"size(filter(ids, i -> i >= {T.BPE_BASE_ID}))")
        .cast("bigint")
        .alias("n_merged"),
    )
    g = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_chars").alias("chars"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_merged").alias("merged"),
    )
    return g.selectExpr(
        "lang",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(words AS BIGINT) AS total_words",
        "CAST(tokens AS BIGINT) AS total_tokens",
        "round(CAST(tokens AS DOUBLE) / CAST(words AS DOUBLE), 6)"
        " AS fertility6",
        "round(CAST(chars AS DOUBLE) / CAST(tokens AS DOUBLE), 6)"
        " AS chars_per_token6",
        "round(CAST(merged AS DOUBLE) / CAST(tokens AS DOUBLE), 6)"
        " AS merged_frac6",
    ).orderBy("lang")

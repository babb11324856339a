"""Text-analysis operators for training-data curation.

All JVM-side (built-in functions, whole-stage codegen) — no Python in
the hot path. Operates on a ``documents(doc_id, text, ...)`` table.

The per-document builders take the text column's NAME and return SQL
text (the ``dedup`` shingle-builder form): the caller parses it once
with ``F.expr`` or ``selectExpr``, instead of the client assembling
the tree node by node over py4j. Literals and regexes go through
``sql_literal``, so caller strings (stopwords) cannot break the text.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import sql_literal, sql_name
from idr_data_pipelines_spark.llmdata.dedup import (
    _WHITESPACE_RUN,
    _kgrams_sql,
    _let_sql,
    _tokens_sql,
    md5_hash32,
    shingle_hashes_positional,
)


def token_count(col: str = "text") -> str:
    """SQL text of the whitespace token count, a long. For BPE-ish
    subword estimates see ``bpe_token_estimate``."""
    c = f"trim({sql_name(col)})"
    return (
        f"CAST(CASE WHEN length({c}) = 0 THEN 0 "
        f"ELSE size(split({c}, {_WHITESPACE_RUN})) END AS BIGINT)"
    )


_BPE_PIECE = sql_literal(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")


def bpe_token_estimate(col: str = "text") -> str:
    """SQL text of a rough BPE token estimate, a long: split on
    word/number/punct boundaries (a GPT-2-style pre-tokenizer regex),
    count pieces. Heuristic, but deterministic and cheap at scale."""
    return (
        f"CAST(size(regexp_extract_all({sql_name(col)}, {_BPE_PIECE}, 0))"
        " AS BIGINT)"
    )


# Tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language identifier. Real pipelines would plug fastText /
# CLD3 here via a Pandas UDF; the heuristic keeps the operator
# dependency-free and fully JVM-side.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "les", "de", "et"],
    "de": ["der", "die", "das", "und", "ist"],
}
# the fewest marker hits that name a language; below it → 'und'
_LANG_MIN_HITS = 1


def _word_hits(c: str, words: list[str]) -> str:
    """SQL text of the number of marker-word occurrences in the string
    expression ``c`` (word-bounded regex count).

    Words are ``re.escape``d before interpolation: quality_score takes
    CALLER-supplied stopwords, and an unescaped ``'c++'`` compiles as
    a possessive quantifier (silently counting runs of 'c') while
    ``'('`` fails regex compilation at execution time (r09 review).
    Each pattern then goes through ``sql_literal``, so a quote or a
    backslash in a word cannot end or escape the SQL string.
    The ``\\b`` anchors are CONDITIONAL on the word's edge characters:
    ``\\b`` only exists between a word char and a non-word char, so
    ``\\bc\\+\\+\\b`` can never match "c++ " — a word ending in a
    non-word char drops the trailing anchor. Plain-alpha words (every
    built-in ``_LANG_MARKERS`` entry, i.e. every oracle-replayed
    pattern) produce byte-identical regexes to before."""

    def pat(w: str) -> str:
        lead = r"\b" if w[:1] and (w[0].isalnum() or w[0] == "_") else ""
        trail = r"\b" if w[-1:] and (w[-1].isalnum() or w[-1] == "_") else ""
        return lead + re.escape(w) + trail

    hits = "".join(
        f" + size(regexp_extract_all({c}, {sql_literal(pat(w))}, 0))"
        for w in words
    )
    return f"(0{hits})"


def lang_id(col: str = "text") -> str:
    """SQL text of the heuristic language ID: highest marker-stopword
    hit count wins; below one hit → 'und' (undetermined).

    The four 5-regex marker scores are let-bound into one array
    (``_let_sql``) and every comparison references the lambda variable
    (r10 review: the old form referenced each score expression and
    the greatest() of all of them once per when-branch, and Catalyst
    projection inlining re-evaluated the regexes at every use site —
    ~100+ ``regexp_extract_all`` per row on the advertised JVM hot
    path; now each regex runs exactly once per row). Values are
    unchanged: array_max ≡ greatest over the same ints, and the
    first-max tie order is the same marker-dict order."""
    c = f"lower({sql_name(col)})"
    scores = ", ".join(_word_hits(c, words) for words in _LANG_MARKERS.values())
    whens = " ".join(  # first max wins
        f"WHEN element_at(__s, {i + 1}) = array_max(__s) "
        f"AND array_max(__s) >= {_LANG_MIN_HITS} THEN {sql_literal(lang)}"
        for i, lang in enumerate(_LANG_MARKERS)
    )
    return _let_sql(f"array({scores})", "__s", f"CASE {whens} ELSE 'und' END")


_NON_WORD_SPACE = sql_literal(r"[^\w\s]")


def quality_score(
    text_col: str = "text",
    stopwords: list[str] | None = None,
) -> dict[str, str]:
    """Quality signals as SQL text by output name: length, token count,
    mean word length, punctuation ratio, stopword ratio, alpha ratio.
    Combine/threshold downstream (C4/Gopher-style filters)."""
    c = sql_name(text_col)
    n_chars = f"CAST(length({c}) AS DOUBLE)"
    n_tokens = f"CAST({token_count(text_col)} AS DOUBLE)"
    n_punct = (
        f"length({c}) - length(regexp_replace({c}, {_NON_WORD_SPACE}, ''))"
    )
    n_alpha = f"length(regexp_replace({c}, '[^A-Za-z]', ''))"
    sw = stopwords or _LANG_MARKERS["en"]
    sw_hits = f"CAST({_word_hits(f'lower({c})', sw)} AS DOUBLE)"
    safe_tokens = f"CASE WHEN {n_tokens} = 0 THEN 1.0D ELSE {n_tokens} END"
    safe_chars = f"CASE WHEN {n_chars} = 0 THEN 1.0D ELSE {n_chars} END"
    # mean word length from the non-whitespace characters themselves —
    # robust to multi-space runs and leading/trailing padding; 0 for
    # empty/whitespace-only text
    n_word_chars = (
        f"CAST(length(regexp_replace(trim({c}), {_WHITESPACE_RUN}, '')) AS DOUBLE)"
    )
    return {
        "n_chars": f"CAST({n_chars} AS BIGINT)",
        "n_tokens": f"CAST({n_tokens} AS BIGINT)",
        "mean_word_len": f"{n_word_chars} / {safe_tokens}",
        "punct_ratio": f"CAST({n_punct} AS DOUBLE) / {safe_chars}",
        "alpha_ratio": f"CAST({n_alpha} AS DOUBLE) / {safe_chars}",
        "stopword_ratio": f"{sw_hits} / {safe_tokens}",
    }


def fingerprint(col: str = "text") -> str:
    """SQL text of the document fingerprint: md5 of whitespace-
    normalized, lowercased text. Stable across engines (md5 is
    standard), used as the exact-dedup key."""
    return (
        f"md5(lower(trim(regexp_replace({sql_name(col)}, {_WHITESPACE_RUN}, ' '))))"
    )


def _window_min_sql(hs: str, window: int) -> str:
    """SQL text of the winnowing step over the hash array ``hs``: the
    minimum of every ``window`` consecutive hashes, deduplicated (an
    array shorter than ``window`` is one window)."""
    return (
        "array_distinct(transform("
        f"sequence(0, greatest(size({hs}) - {window}, 0)), "
        f"__j -> array_min(slice({hs}, __j + 1, {window}))))"
    )


def winnow_fingerprints(
    col: str = "text", k: int = 4, window: int = 4
) -> str:
    """SQL text of the winnowing document fingerprints
    (Schleimer/Wilkerson/Aiken, SIGMOD'03): rolling word-k-gram hashes,
    then the minimum of every ``window`` consecutive hashes,
    deduplicated — array<long>.

    Guarantee: two documents sharing any run of ≥ window+k-1 tokens
    share at least one fingerprint, while only ~2/(window+1) of all
    k-gram hashes are kept. The k-gram "rolling hash" is the integer
    shingle pipeline from ``dedup.shingle_hashes`` (tokens hashed
    once, k-gram identity hashed from token hashes — pure long
    arithmetic, no string materialization, no shuffle).
    """
    if k < 1 or window < 1:
        # window=0 would take array_min over EMPTY slices — every
        # fingerprint silently null — and k=0 is not a k-gram
        raise ValueError("k and window must be >= 1")
    return _let_sql(
        shingle_hashes_positional(col, k), "__h", _window_min_sql("__h", window)
    )


def winnow_fingerprint_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """(id, fingerprints array<long>) — see winnow_fingerprints."""
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(winnow_fingerprints(text_col, k, window)).alias("fingerprints"),
    )


def winnow_md5_fingerprints(
    col: str = "text", k: int = 4, window: int = 4
) -> str:
    """SQL text of the winnowing fingerprints with the ENGINE-PORTABLE
    md5-32 k-gram hash — same algorithm as ``winnow_fingerprints`` (positional word
    k-gram hashes → min of every ``window`` consecutive hashes →
    distinct), but the k-gram identity is the first 32 bits of
    md5(k-gram string) instead of the xxhash64-over-token-hashes
    rolling form, so a DuckDB oracle replays every fingerprint
    exactly (md5 bytes, array_min, slice semantics — Spark's
    ``slice`` and DuckDB's ``l[i:j]`` both clamp a short tail, and
    documents shorter than k tokens hash their whole text as one
    k-gram in both engines). Production fingerprinting keeps the
    xxhash64 form (no shingle-string materialization, ~5× cheaper
    hash); this variant proves the winnowing pipeline cross-engine.
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    kgrams = (
        f"CASE WHEN size(__t) < {k} THEN array(array_join(__t, ' ')) "
        f"ELSE {_kgrams_sql('__t', k)} END"
    )
    hashes = _let_sql(
        _tokens_sql(col),
        "__t",
        f"transform({kgrams}, __s -> {md5_hash32('__s')})",
    )
    return _let_sql(hashes, "__h", _window_min_sql("__h", window))


def add_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience: append all text-analysis columns in one projection."""
    feats = quality_score(text_col)
    feats["lang_pred"] = lang_id(text_col)
    feats["fp"] = fingerprint(text_col)
    return df.withColumns({name: F.expr(e) for name, e in feats.items()})


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Corpus-self-trained unigram-LM scoring (the CCNet-style quality
    signal): per document, the mean negative log2 probability of its
    tokens under the corpus's own unigram distribution — low = bland
    high-frequency text, high = rare-token-heavy text; both tails are
    the usual filter targets.

    One corpus pass builds the (vocab-sized) token-count table, which
    takes a materialization barrier — two consumers follow (the 1-row
    total and the scoring probe) and Catalyst will not reuse the
    aggregation subtree across them. Scoring is then a broadcast hash
    probe of the vocab against the same exploded tokens and one
    doc-keyed average: the corpus never shuffles on the token key.
    ``-log2 p(t) = log2(N) - log2(n_t)`` keeps the constant out of the
    per-token path. Mean summation order is partitioning-dependent —
    comparators round (the catalog query rounds to 6 decimals).

    ``broadcast_vocab=True`` fits curated corpora; a raw web-scale
    corpus's distinct-token set (URLs, hashes, typos) runs to billions
    of rows and will NOT broadcast — pass ``False`` to fall back to a
    hash join (the exploded tokens then shuffle on the token key once,
    still linear), or frequency-truncate the vocab first (tokens below
    a count floor share one OOV bucket — the standard LM practice, and
    it also caps the broadcast).
    """
    toks = df.selectExpr(
        sql_name(id_col), f"explode({_tokens_sql(text_col)}) AS tok"
    ).filter(F.col("tok") != "")
    # eager=False (r10 review): the checkpoint still materializes the
    # vocab exactly once — at the FIRST action — for all consumers,
    # but constructing the DataFrame (plan lint, composition) no
    # longer launches a corpus-scan job, the assign_global_ids
    # doctrine
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
        .localCheckpoint(eager=False)
    )
    total = vocab.agg(F.sum("n_tok").alias("n_total"))
    return (
        toks.join(F.broadcast(vocab) if broadcast_vocab else vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.avg(
                F.log2(F.col("n_total").cast("double"))
                - F.log2(F.col("n_tok").cast("double"))
            ).alias("mean_neg_log2p"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_context: bool = True,
) -> DataFrame:
    """Corpus-self-trained bigram-LM scoring — the fluency upgrade of
    ``unigram_logprob_scores``: per document, the mean negative log2
    conditional probability of its adjacent token pairs under the
    corpus's own add-0.5-smoothed bigram table,
    ``p(w2|w1) = (c12 + 0.5) / (c1 + 0.5·V)``. Repetitive boilerplate
    scores low, incoherent token soup scores high — the CCNet-family
    filter signal at the next model order.

    Shapes: adjacent pairs come from a zip of two array slices (pure
    projection — no positional self-join); the bigram-count table is
    built once and materialized (``localCheckpoint`` — two consumers,
    the context rollup and the scoring join, and Catalyst will not
    reuse the aggregation subtree); the context counts ``c1`` roll up
    FROM the bigram counts (no second corpus pass); ``V`` is a 1-row
    broadcast total. Scoring joins the doc pairs to the LM on
    ``(w1, w2)`` — corpus-bigram-sized, hash join, never broadcast —
    then one doc-keyed average. Mean summation order is
    partitioning-dependent; comparators round (the catalog query
    rounds to 6 decimals).

    ``broadcast_context=True`` fits curated corpora (``c1`` is
    vocab-sized); for raw web-scale vocabularies pass ``False`` to
    hash-join the rollup instead.
    """
    base = df.selectExpr(
        sql_name(id_col), f"filter({_tokens_sql(text_col)}, __w -> __w != '') AS a"
    )
    pairs = (
        base.filter(F.size("a") >= 2)  # slice(len-1) errors on []
        .select(
            F.col(id_col),
            F.explode(
                F.zip_with(
                    F.expr("slice(a, 1, size(a) - 1)"),
                    F.expr("slice(a, 2, size(a) - 1)"),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("p"),
        )
        .select(id_col, "p.w1", "p.w2")
    )
    # eager=False: one materialization at first action, zero jobs at
    # construction (r10 review; see unigram_logprob_scores)
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    c1 = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = base.select(F.explode("a").alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    lm = (
        big.join(F.broadcast(c1) if broadcast_context else c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (
                -F.log2(
                    (F.col("c12").cast("double") + F.lit(0.5))
                    / (
                        F.col("c1").cast("double")
                        + F.lit(0.5) * F.col("v").cast("double")
                    )
                )
            ).alias("neg_log2p"),
        )
    )
    return (
        pairs.join(lm, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.avg("neg_log2p").alias("mean_neg_log2p"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """Byte-pair-encoding merge statistics: the corpus-wide count of
    every adjacent character pair inside lowercase ``[a-z]+`` words —
    the quantity a BPE tokenizer trainer maximizes at each merge step
    (Sennrich et al. 2016, arXiv:1508.07909), evaluated at the
    character level (merge step 1). Returns the ``top_n`` (pair, n)
    ranked by count desc, pair asc (deterministic at the cut).

    Scale shape: two explodes (words, then in-word pairs) feeding ONE
    counting aggregate with map-side combine; the key space is bounded
    (≤ 26² char pairs), so the shuffle moves |pairs| × |partitions|
    partial counts, not the corpus, and the top-n is a TakeOrdered —
    no sort shuffle. Iterating merges re-runs the same shape over
    re-segmented symbols."""
    c = F.col(text_col)
    words = df.filter(c.isNotNull()).select(
        F.explode(
            F.regexp_extract_all(F.lower(c), F.lit("[a-z]+"), 0)
        ).alias("word")
    ).filter(F.length("word") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(top_n)
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    thresholds: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Vocabulary size needed to cover a fraction of all token
    occurrences — the tokenizer-budget question ("how big must the
    vocab be so ≤1% of running text is OOV?") answered from the corpus
    itself. One row per threshold: ``coverage`` (the ask),
    ``vocab_size`` (ranks needed, most-frequent-first), and
    ``total_tokens``.

    Scale shape: the only corpus-sized pass is the token count
    (explode → one shuffle with map-side combine). Ranking and the
    running total use a GLOBAL ordered window — safe ONLY because it
    runs on the collapsed vocab frame (|vocab| ≪ corpus, the plan
    linter's collapsed-frame rule checks precisely this); the
    normalizer is a 1-row broadcast; the per-threshold election is a
    conditional-min agg, so thresholds never multiply the vocab frame
    through a join.

    Ties are broken (count desc, token asc) so the cumulative series —
    and therefore every threshold answer — is deterministic.
    """
    from pyspark.sql import Window

    toks = df.selectExpr(
        f"explode(filter({_tokens_sql(text_col)}, __w -> __w != '')) AS tok"
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("tok")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = vocab.select(
        F.row_number().over(w).alias("rank"), F.sum("n").over(w).alias("cum")
    )
    tot = vocab.agg(F.sum("n").alias("__tot"))
    joined = ranked.crossJoin(F.broadcast(tot))
    elected = joined.agg(
        F.max("__tot").alias("total_tokens"),
        *[
            F.min(
                F.when(
                    F.col("cum").cast("double")
                    >= F.lit(float(t)) * F.col("__tot").cast("double"),
                    F.col("rank"),
                )
            ).alias(f"v{i}")
            for i, t in enumerate(thresholds)
        ],
    )
    pairs = ", ".join(
        f"{float(t)}D, v{i}" for i, t in enumerate(thresholds)
    )
    return elected.select(
        F.expr(f"stack({len(thresholds)}, {pairs}) as (coverage, vocab_size)"),
        "total_tokens",
    )


def zipf_lexical_stats(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """Per-group lexical health profile: token/type counts,
    type-token ratio, hapax-legomena fraction, and the Zipf slope —
    the OLS slope of log(frequency) on log(rank) over the group's
    ``top_n`` tokens. Natural text tracks slope ≈ −1 (Zipf's law);
    template/boilerplate sources flatten it and generator noise
    steepens it, which makes the slope a standard corpus-level
    quality screen (per-source here — the granularity a crawl
    curation pass audits at).

    Determinism: all counts are integers; rank ties (equal counts)
    don't move the slope because tied tokens contribute identical
    ``log(freq)`` at interchangeable ranks, and which tokens make the
    top-``n`` boundary is pinned by the (count desc, token asc)
    tie-break. The OLS sums run over ``top_n`` doubles — rounded to 6
    decimals, same discipline as ``bigram_logprob_scores``.

    Scale shape: one token scan → (group, token) count (map-side
    combined — THE corpus-wide shuffle); the per-group rollup and the
    top-``n`` window both ride the collapsed (group, token) frame,
    grouped by the same key; everything after is |groups| rows.
    """
    from pyspark.sql import Window

    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .selectExpr(
            sql_name(group_col), f"explode({_tokens_sql(text_col)}) AS __tok"
        )
        .filter(F.col("__tok") != "")
    )
    tf = toks.groupBy(group_col, "__tok").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    lex = tf.groupBy(group_col).agg(
        F.sum("__cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("__cnt") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("__cnt"), F.asc("__tok")
    )
    top = tf.withColumn("__rank", F.row_number().over(w)).filter(
        F.col("__rank") <= top_n
    )
    x = F.log(F.col("__rank").cast("double"))
    y = F.log(F.col("__cnt").cast("double"))
    ols = top.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
    )
    slope = (
        F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    ) / (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
    return (
        lex.join(
            ols.select(
                F.col(group_col).alias("__g"), slope.alias("__slope")
            ),
            # null-safe: a NULL group (unlabeled source) aggregates in
            # both branches but a plain equality join would silently
            # drop it from the report (r10 review; the score_buckets
            # null-group class from r09)
            F.col(group_col).eqNullSafe(F.col("__g")),
        )
        .select(
            group_col,
            "n_tokens",
            "n_types",
            "n_hapax",
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr_r"),
            F.round(F.col("n_hapax") / F.col("n_types"), 6).alias(
                "hapax_r"
            ),
            F.round(F.col("__slope"), 6).alias("zipf_slope_r"),
        )
    )

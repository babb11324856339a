"""Repetition / quality filters for training-data curation
(Gopher-style, Rae et al. 2021 §A1.1; C4, Raffel et al. 2020 §2.2).

Repetitious documents (boilerplate, scraped navigation, generated
spam) are the classic low-quality signal. All metrics here are
computed per document with array higher-order functions inside one
JVM projection — **no shuffle, no Python**: at 100 TB this stage is a
pure map over the corpus scan, pipelined with whatever filter
consumes the flags.

Each metric takes the text column's NAME and returns SQL text, which
the caller parses once (``F.expr`` / ``selectExpr``; the form and its
tokenizer are those of ``dedup``'s shingle builders). Building the same
trees through the Column API cost one py4j round-trip per node —
~0.33 s per ``repetition_metrics`` call, measured r14 — on every
consumer's build.

The per-document mode computation (``top k-gram count``) is O(d·n)
array work per doc (d = distinct k-grams); documents are bounded
(split upstream), so this beats the explode → groupBy → window
alternative, which would shuffle the whole exploded corpus twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import sql_literal, sql_name
from idr_data_pipelines_spark.llmdata.dedup import (
    _kgrams_sql,
    _let_sql,
    _tokens_sql,
)

_LINE_BREAK = sql_literal(r"\n")


def _repeat_frac_sql(arr: str) -> str:
    """SQL text of ``1 - distinct/total`` over the array expression
    ``arr``; 0.0 for an empty or one-element array.

    ``arr`` is usually an inline split, which projection collapsing
    would otherwise inline into all three references (two sizes +
    array_distinct = three tokenizations per row) — bind it once (the
    r13 word_shingles lens; constant-factor here, not the O(n²) shape,
    but free to fix)."""
    return _let_sql(
        arr,
        "__a",
        "CASE WHEN size(__a) <= 1 THEN 0.0D "
        "ELSE 1.0D - CAST(size(array_distinct(__a)) AS DOUBLE)"
        " / CAST(size(__a) AS DOUBLE) END",
    )


def dup_word_fraction(col: str = "text") -> str:
    """SQL text of the fraction of word occurrences that are repeats of
    an earlier word: ``1 - distinct_words / words``."""
    return _repeat_frac_sql(_tokens_sql(col))


def dup_line_fraction(col: str = "text") -> str:
    """SQL text of the fraction of duplicate lines (Gopher: drop if
    > 0.30). Lines are verbatim LF splits — no normalization, matching
    the paper."""
    return _repeat_frac_sql(f"split({sql_name(col)}, {_LINE_BREAK})")


def top_ngram_fraction(col: str = "text", k: int = 2) -> str:
    """SQL text of the fraction of k-gram occurrences taken by the
    single most common k-gram (Gopher: drop if top-2-gram fraction
    > 0.20). Documents with < k tokens score 0.0.

    The mode COUNT is the longest equal run of the sorted gram array,
    one O(n) fold — the naive per-distinct filter scan is O(d·n)
    string compares per document, which dominated the whole recipe's
    runtime (~160k compares for a 400-token doc vs ~400 here); the
    count is identical by definition."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # the fold's struct cannot read its own new ``run`` field, so the
    # run expression is written out for both ``run`` and ``best``
    run = (
        "CASE WHEN __acc.prev IS NULL OR __acc.prev != __x "
        "THEN 1 ELSE __acc.run + 1 END"
    )
    top = (
        "aggregate(array_sort(__g), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
        f"(__acc, __x) -> named_struct('prev', __x, 'run', {run}, "
        f"'best', greatest(__acc.best, {run}))).best"
    )
    frac = _let_sql(
        _kgrams_sql("__t", k),
        "__g",
        f"CAST({top} AS DOUBLE) / CAST(size(__g) AS DOUBLE)",
    )
    return _let_sql(
        _tokens_sql(col),
        "__t",
        f"CASE WHEN size(__t) < {k} THEN 0.0D ELSE {frac} END",
    )


def repetition_metrics(text_col: str = "text") -> dict[str, str]:
    """All repetition signals as SQL text by output name (compose with
    ``text.quality_score`` for the full Gopher filter set)."""
    return {
        "dup_word_frac": dup_word_fraction(text_col),
        "dup_line_frac": dup_line_fraction(text_col),
        "top_bigram_frac": top_ngram_fraction(text_col, 2),
        "top_trigram_frac": top_ngram_fraction(text_col, 3),
    }


def _gopher_pass_from(
    m: dict[str, str],
    max_dup_line_frac: float = 0.30,
    max_top_bigram_frac: float = 0.20,
    max_top_trigram_frac: float = 0.18,
) -> str:
    """SQL text of the Gopher repetition rule over the metric
    expressions ``m`` — SQL text or the names of columns that already
    hold them (thresholds from Rae et al. 2021 table A1; tune per
    corpus)."""
    return (
        f"({m['dup_line_frac']}) <= {sql_literal(float(max_dup_line_frac))}"
        f" AND ({m['top_bigram_frac']}) <= {sql_literal(float(max_top_bigram_frac))}"
        f" AND ({m['top_trigram_frac']}) <= {sql_literal(float(max_top_trigram_frac))}"
    )


def gopher_repetition_pass(
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_top_bigram_frac: float = 0.20,
    max_top_trigram_frac: float = 0.18,
) -> str:
    """SQL text of the boolean pass flag for the Gopher repetition
    rules, built from fresh metric expressions — standalone-use form;
    composers that already hold the metric columns should apply
    ``_gopher_pass_from`` over those instead of paying the n-gram
    machinery twice."""
    return _gopher_pass_from(
        repetition_metrics(text_col),
        max_dup_line_frac,
        max_top_bigram_frac,
        max_top_trigram_frac,
    )


def score_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str,
    bucket_col: str = "bucket",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet-style per-group quantile bucketing (Wenzek et al. 2020
    §4.3: head/middle/tail by per-language perplexity terciles):
    label every row ``low`` / ``mid`` / ``high`` by where its score
    falls against its OWN group's quantiles — the fair way to
    threshold heterogeneous sources, where one source's median would
    be another's tail.

    Scale shape: one exact-percentile aggregate collapses to |groups|
    threshold rows, broadcast back onto the corpus — the corpus never
    shuffles (the aggregate's exchange moves score values only). Ties
    at a cut go to the lower bucket (``<=``), identically in SQL.

    Null handling (r09 review): a null ``group_col`` is its own group
    (null-safe join — a plain inner join silently DROPPED every
    null-group row), and a null score gets a null bucket (the old
    ``otherwise`` chain landed null-perplexity docs in 'high', the
    best CCNet bucket, surviving every tail filter)."""
    thr = df.groupBy(group_col).agg(
        F.percentile(score_col, F.lit(cuts[0])).alias("__p1"),
        F.percentile(score_col, F.lit(cuts[1])).alias("__p2"),
    )
    thr = thr.withColumnRenamed(group_col, "__g")
    s = F.col(score_col)
    return (
        df.join(
            F.broadcast(thr), F.col(group_col).eqNullSafe(F.col("__g"))
        )
        .withColumn(
            bucket_col,
            F.when(s.isNull(), F.lit(None).cast("string"))
            .when(s <= F.col("__p1"), F.lit("low"))
            .when(s <= F.col("__p2"), F.lit("mid"))
            .otherwise(F.lit("high")),
        )
        .drop("__g", "__p1", "__p2")
    )

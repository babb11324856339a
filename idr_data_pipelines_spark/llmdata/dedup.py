"""Deduplication for training corpora: exact, MinHash-LSH, SimHash,
n-gram Jaccard.

Design for 100 TB: every near-dup operator is *bucket-then-compare* —

1. signature computation is a per-row projection (shingle hashes
   JVM-side, the permutation minima in one numpy Arrow stage; zero
   shuffle);
2. candidate generation is an equi-join on a band hash (one
   shuffle, AQE-handled skew);
3. exact verification runs only inside buckets.

The full O(n²) comparison never materializes. Production hashes are
``xxhash64`` with explicit integer seeds → deterministic across runs,
partitions and cluster sizes; the ``*_md5_*`` variants swap in the
engine-portable md5-32 hash so a SQL oracle can replay every value.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import sql_literal, sql_name
from idr_data_pipelines_spark.sources.parquet import spread_small_scan

# ------------------------------------------------- materialize handles
#
# A lazy operator that persist()s an INTERNAL frame the caller never
# receives (remove_duplicate_spans, the query_pred form of
# cosine_topk_lsh_exact_bucket) cannot have that block released by
# unpersist() on the RETURNED frame (r11 ADVICE). The persisted handle
# therefore rides along on the returned DataFrame —
# ``unpersist_materialized(result)`` is the engine-owned release, so a
# long-lived session never needs spark.catalog.clearCache(). Eager
# operators release their marks themselves (``_finish``).

_MATERIALIZED_ATTR = "_idr_materialized"


def _attach_materialized(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Record the internal persist()-marked frames on the frame the
    caller gets back, so the caller can release them by handle."""
    setattr(result, _MATERIALIZED_ATTR, list(frames))
    return result


def carry_materialized(result: DataFrame, *sources: DataFrame) -> DataFrame:
    """Transfer riding persist-handles onto ``result`` — for wrappers
    that derive a new frame (``.select``/``.agg``) from an operator
    result and would otherwise silently drop the handle the operator
    attached (the attribute lives on the specific DataFrame object).
    Each ``source`` contributes its riding handles if it has any,
    else itself when it is persist()-marked (the
    ``spread_small_scan(pin=True)`` case). Appends to any handles
    already on ``result``."""
    frames = list(getattr(result, _MATERIALIZED_ATTR, []))
    for s in sources:
        rode = getattr(s, _MATERIALIZED_ATTR, None)
        if rode:
            frames.extend(rode)
        else:
            try:
                lvl = s.storageLevel
            except Exception:  # Connect: no storageLevel surface
                lvl = None
            if lvl is not None and (lvl.useMemory or lvl.useDisk):
                frames.append(s)
    setattr(result, _MATERIALIZED_ATTR, frames)
    return result


def unpersist_materialized(df: DataFrame, blocking: bool = False) -> int:
    """Release every internal block that rides on ``df`` (no-op for
    frames that carry none). Call after the consuming action — the
    persist is lazy, so releasing before any action simply costs the
    refund. Returns the number of handles released. Idempotent."""
    frames = getattr(df, _MATERIALIZED_ATTR, [])
    for f in frames:
        f.unpersist(blocking)
    setattr(df, _MATERIALIZED_ATTR, [])
    return len(frames)


# ---------------------------------------------------------------- exact

def dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized text: keep one row (min id order is
    left to the caller — use dedup_latest_per_key for a policy)."""
    from idr_data_pipelines_spark.llmdata.text import fingerprint

    if "__fp" in df.columns:
        # r12 API-boundary sweep: the working column would be silently
        # overwritten and then dropped — destroying the caller's data
        raise ValueError(
            "input already has a column named '__fp', which this "
            "operator uses internally and drops — rename it first"
        )
    return (
        df.withColumn("__fp", F.expr(fingerprint(text_col)))
        .dropDuplicates(["__fp"])
        .drop("__fp")
    )


def dedup_incremental(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fp",
) -> DataFrame:
    """Incremental exact dedup: drop from ``new_docs`` every document
    whose normalized-text fingerprint already exists in ``seen_fps``
    (one ``fp`` column — the index maintained from prior runs), then
    keep one min-id survivor per fingerprint WITHIN the batch.

    The production shape for a growing corpus: each ingest run
    fingerprints only the NEW batch and anti-joins the accumulated
    index — the old corpus is never rescanned. Batch ≪ index, so the
    batch side shuffles on the fingerprint key and the index side
    shuffles once per run (or not at all if the index is stored
    bucketed by ``fp`` — see sinks.sink_table_bucketed); the
    within-batch survivor pass is a min-id aggregate (map-side
    combined — a mega-dup fingerprint collapses to one row per map
    task) semi-joined back on the COMPOSITE (fp, id) key, which
    hashes evenly even for a hot fingerprint — not a row_number
    window, whose per-fp partitions get no AQE skew splitting (r10
    review). Assumes ids are unique per row (the module-wide doc-id
    contract): duplicate (fp, id) pairs would all survive where the
    old window kept one arbitrarily. NULL ids are dropped at entry
    (module isNotNull convention): the min-id aggregate ignores nulls
    and an equality semi-join never matches them, so a null-id row
    could never be a survivor anyway — the explicit filter makes the
    contract visible instead of losing such rows inside the join.

    The output KEEPS the computed ``fp_col`` so the caller can append
    the survivors' fingerprints to the index for the next run without
    re-hashing every survivor's text (a full second pass at ingest
    scale). Raises if ``new_docs`` already has a ``fp_col`` column —
    silently overwriting it would corrupt the caller's data.
    """
    from idr_data_pipelines_spark.llmdata.text import fingerprint

    if fp_col in new_docs.columns:
        raise ValueError(
            f"new_docs already has a column named {fp_col!r}; pass a "
            "different fp_col"
        )
    fresh = (
        new_docs.filter(F.col(id_col).isNotNull())
        .withColumn(fp_col, F.expr(fingerprint(text_col)))
        .join(seen_fps.select(fp_col).distinct(), fp_col, "left_anti")
    )
    survivors = fresh.groupBy(fp_col).agg(F.min(id_col).alias(id_col))
    return fresh.join(survivors, [fp_col, id_col], "semi")


def dedup_exact_hash_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-dup group report: one row per distinct content hash with
    group size and representative (min id). Hash-groupBy: one shuffle,
    map-side partial agg."""
    from idr_data_pipelines_spark.llmdata.text import fingerprint

    return (
        df.select(F.col(id_col), F.expr(fingerprint(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min(id_col).alias("representative"),
        )
    )


# -------------------------------------------------------------- shingles
#
# Every text builder in ``llmdata`` takes a column NAME and returns SQL
# text; the caller parses it once (``F.expr`` / ``selectExpr``). One
# parse costs ~1 ms of build time; the same tree built node by node
# through the Column API costs one py4j round-trip per node, and every
# consumer's build pays it (minhash verify, winnowing, n-gram
# decontamination, the repetition filters). The SQL text holds no
# backslash: ``sql_literal`` renders a regex escape as
# ``concat(chr(92), …)``, so the parser's legacy escaped-literals
# setting cannot change how it parses. The optimizer folds it to the
# plain literal, so plans show the regex ``\s+`` itself. A regex names
# a control character by its escape (``\n``), never raw: a raw
# LF/VT/FF/CR in a folded literal prints verbatim in the plan text,
# where it reads as a line break to anything that parses plans by line
# (``plans.lint``).


_WHITESPACE_RUN = sql_literal(r"\s+")


def _tokens_sql(name: str) -> str:
    """SQL text of the word tokenizer: the lowered, trimmed text split
    on whitespace runs."""
    return f"split(lower(trim({sql_name(name)})), {_WHITESPACE_RUN})"


def _let(expr: Column, fn) -> Column:
    """Let-binding for array expressions: evaluate ``expr`` once and
    reference it as a lambda variable inside ``fn``.

    Catalyst's projection collapsing inlines aliased expressions into
    every use site, so an expensive array expression referenced 64
    times is *computed* 64 times. ``transform(array(e), x -> body)[1]``
    binds e to a lambda variable — one evaluation, many references.
    ``_let_sql`` is the same binding for the SQL-text builders; this
    Column form serves the vector builders of ``similarity``.
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def _let_sql(expr: str, var: str, body: str) -> str:
    """SQL text of ``_let``: ``body`` with ``expr`` evaluated once and
    bound to the lambda variable ``var``."""
    return f"element_at(transform(array({expr}), {var} -> {body}), 1)"


def _kgrams_sql(toks: str, k: int) -> str:
    """SQL text of the positional word k-grams of the token array
    ``toks``: gram i is tokens i … i+k-1 joined by one space,
    duplicates kept. Each caller handles arrays shorter than k."""
    return (
        f"transform(sequence(0, size({toks}) - {k}), "
        f"__i -> array_join(slice({toks}, __i + 1, {k}), ' '))"
    )


def word_shingles(col: str, k: int = 3) -> str:
    """SQL text of the distinct word k-shingles of the text column
    named ``col``, an array<string>. Documents shorter than k tokens
    yield their whole text as one shingle.

    The tokens are let-bound: an unbound token array inside the gram
    lambda gets the split/lower/trim INLINED into every gram position
    by Catalyst's projection collapsing — one re-tokenization per
    position, O(n²·len) per document (the r13 remove_duplicate_spans
    fix measured the same shape at 7× wall)."""
    if k < 1:
        # k=0 would emit n+1 EMPTY-string shingles per document —
        # every document suddenly "shares" the empty gram (r11 review)
        raise ValueError("k must be >= 1")
    return _let_sql(
        _tokens_sql(col),
        "__t",
        f"CASE WHEN size(__t) < {k} THEN array(array_join(__t, ' ')) "
        f"ELSE array_distinct({_kgrams_sql('__t', k)}) END",
    )


# -------------------------------------------------------------- MinHash

_MASK32 = (1 << 32) - 1


def _token_hashes_sql(name: str, token_hash: str = "xxhash64({})") -> str:
    """SQL text of the per-token hash array; ``token_hash`` is the SQL
    template of one token's hash (``{}`` is the token). The default is
    xxhash64 with seed 42, the seed of ``F.xxhash64``."""
    return (
        f"transform({_tokens_sql(name)}, "
        f"__w -> {token_hash.format('__w')})"
    )


def shingle_hashes_positional(text_col: str, k: int = 3) -> str:
    """SQL text of the ordered word-k-shingle hashes (duplicates kept),
    an array<long> — position i is the hash of the k-gram starting at
    token i, the "rolling hash" sequence that window algorithms
    (winnowing) consume.

    String shingle materialization (slice + join per shingle) is the
    hot cost at scale, so shingles are never built as strings: tokens
    are hashed once (one xxhash64 per token), then each shingle's
    identity is ``xxhash64(th[i], ..., th[i+k-1])`` over the token
    hashes — pure long arithmetic. Documents shorter than k tokens
    hash their whole token sequence as one shingle.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    args = ", ".join(
        f"element_at(__h, CAST(__i + {j} + 1 AS INT))" for j in range(k)
    )
    whole = "aggregate(__h, CAST(0 AS BIGINT), (__a, __x) -> xxhash64(__a, __x))"
    return _let_sql(
        _token_hashes_sql(text_col),
        "__h",
        f"CASE WHEN size(__h) < {k} THEN array({whole}) "
        f"ELSE transform(sequence(0, size(__h) - {k}), "
        f"__i -> xxhash64({args})) END",
    )


def shingle_hashes(text_col: str, k: int = 3) -> str:
    """SQL text of the distinct word-k-shingle hashes, an array<long> —
    the set form used for Jaccard/MinHash (see
    shingle_hashes_positional)."""
    return f"array_distinct({shingle_hashes_positional(text_col, k)})"


def md5_hash32(s: str) -> str:
    """SQL text of the first 32 bits of md5 of the string expression
    ``s`` as a non-negative long — the ENGINE-PORTABLE string hash (md5
    bytes are identical in every SQL engine; a DuckDB oracle replays it
    as ``('0x' || substr(md5(s),1,8))::BIGINT``). Production hashing
    stays on ``xxhash64`` (~5× cheaper per string); this exists so
    hash-seeded pipelines can carry a cross-engine value-hash oracle."""
    return f"CAST(conv(substring(md5({s}), 1, 8), 16, 10) AS BIGINT)"


def md5_shingle_hashes(col: str, k: int = 3) -> str:
    """SQL text of the distinct word-k-shingle md5-32 hashes, an
    array<long> — the portable-hash counterpart of ``shingle_hashes``.
    Unlike the xxhash64 form it materializes shingle strings (that IS
    the portable identity md5 consumes); acceptable for the
    verification variants, not the production hot path."""
    return (
        f"array_distinct(transform({word_shingles(col, k)}, "
        f"__s -> {md5_hash32('__s')}))"
    )


# Universal-hash permutation family for MinHash: perm_i(s) =
# (a_i * (h(s) & mask32) + b_i) mod P, with P the smallest prime above
# 2^32 (the datasketch choice) and fixed pseudo-random 31-bit
# coefficients. a_i < 2^31 and h < 2^32 keep the product below 2^63,
# so ANSI long arithmetic cannot overflow. A prior design without the
# modulus (h + i*h2) degenerated for large i — i*h2 dominates, every
# high-index permutation picks the min-h2 shingle, and LSH bands
# become correlated, destroying recall.
_MERSENNE_P = 4294967311


def _perm_coefficients(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs — a fixed-seed MT stream, identical
    across runs, partitions and cluster sizes."""
    import random

    rng = random.Random(0x5EED_CAFE)
    return [
        (rng.randrange(1, 1 << 31), rng.randrange(0, 1 << 31))
        for _ in range(num_perm)
    ]


@dataclass(frozen=True)
class _HashFamily:
    """The parts of the MinHash-LSH pipeline that differ between its
    two hash families. Everything else — the signature kernel, the
    band table, pair generation and the exact-Jaccard verify — is
    written once and shared.

    - ``shingles(text_col, k)``: SQL text of the distinct shingle
      hashes, array<long>, that the signature kernel and the verify
      consume;
    - ``band_key`` / ``band_slot``: SQL templates of one band's key —
      ``band_slot`` wraps each of the band's ``r`` signature slots,
      ``band_key`` wraps their comma-joined list;
    - ``jaccard_col`` / ``jaccard_round``: the verify's output column
      and its rounding (``None`` = the raw double). The threshold
      filters the column as output, i.e. AFTER rounding."""

    shingles: Callable[[str, int], str]
    band_key: str
    band_slot: str
    jaccard_col: str
    jaccard_round: int | None


# production: xxhash64 shingle and band hashes, raw Jaccard
_XXHASH64 = _HashFamily(
    shingles=shingle_hashes,
    band_key="xxhash64({})",
    band_slot="{}",
    jaccard_col="jaccard",
    jaccard_round=None,
)
# engine-portable: md5-32 shingle hashes (< 2^32, so the permutation
# family is exact long arithmetic in any engine), the band's slots
# joined with '_' as its key (no second hash), Jaccard rounded to 6
# decimals (module convention for floats) — every value a DuckDB
# oracle replays bit-for-bit
_MD5 = _HashFamily(
    shingles=md5_shingle_hashes,
    band_key="concat_ws('_', {})",
    band_slot="CAST({} AS STRING)",
    jaccard_col="jaccard_r",
    jaccard_round=6,
)


def _signatures(
    fam: _HashFamily,
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    shingle_k: int,
) -> DataFrame:
    """(id, signature array<long>[num_perm]) — the one MinHash kernel.

    Shingles are hashed JVM-side (``fam.shingles``), then the
    O(S×num_perm) permutation-min inner loop runs in numpy via
    ``mapInPandas`` (int64 never overflows, see _MERSENNE_P note) —
    Catalyst evaluates higher-order array lambdas interpreted, outside
    whole-stage codegen, so a pure-expression fold measured ~50×
    slower. mapInPandas (not a scalar Pandas UDF) so the computation
    is a dedicated plan node: scalar Python UDFs can be inlined by
    CollapseProject under Generate or left un-extracted on the rebuilt
    branch of a self-join, both of which fail at runtime.

    One signature per input row; null text (null shingle array) yields
    a null signature."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    coeffs = _perm_coefficients(num_perm)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]

    def compute(batches):
        # Vectorized across rows: flatten each chunk's shingle arrays,
        # one (num_perm × total_shingles) multiply-add-mod, then
        # per-document segment minima via minimum.reduceat — no
        # per-row numpy-call overhead. Chunked to bound the
        # intermediate at ~num_perm × CH × avg_shingles × 8 bytes.
        CH = 1024
        for pdf in batches:
            # null text → null shingle array → null signature, instead
            # of crashing on len(None)
            hs_list = [
                h if h is not None and len(h) else None
                for h in pdf["__sh"].tolist()
            ]
            out: list = []
            for s in range(0, len(hs_list), CH):
                chunk = [h for h in hs_list[s : s + CH] if h is not None]
                if chunk:
                    lens = np.fromiter(
                        (len(h) for h in chunk), dtype=np.int64, count=len(chunk)
                    )
                    flat = np.concatenate(
                        [np.asarray(h, dtype=np.int64) for h in chunk]
                    )
                    h32 = flat & _MASK32
                    perms = (A * h32[None, :] + B) % _MERSENNE_P
                    offs = np.zeros(len(chunk), dtype=np.int64)
                    np.cumsum(lens[:-1], out=offs[1:])
                    mins = iter(np.minimum.reduceat(perms, offs, axis=1).T)
                else:
                    mins = iter(())
                out.extend(
                    None if h is None else next(mins)
                    for h in hs_list[s : s + CH]
                )
            yield pd.DataFrame({"id": pdf["id"], "signature": out})

    # A narrow input (one parquet file, a small shuffle AQE coalesced)
    # would serialize the numpy stage onto 1–2 cores: spread it to the
    # cluster's width, a no-op at real scale. Spread the RAW rows, then
    # project (r14 s6): repartitioning the projected frame keeps the
    # JVM shingle/tokenize projection upstream of the exchange —
    # Catalyst does not push computed projections through a
    # repartition — so the operator's dominant per-row cost ran on the
    # scan's 1–2 tasks (job trace: 1.7 s serial stage; interleaved A/B
    # of the reorder: signature chain med 1.047 → 0.807 s). Values are
    # per-row and partitioning-independent.
    shingled = spread_small_scan(df).select(
        F.col(id_col).alias("id"),
        F.expr(fam.shingles(text_col, shingle_k)).alias("__sh"),
    )
    out_schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("signature", ArrayType(LongType())),
        ]
    )
    return shingled.mapInPandas(compute, out_schema)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, signature array<long>[num_perm]) over xxhash64 shingle
    hashes — the signature stage of ``minhash_lsh_pairs`` (see
    ``_signatures`` for the numpy kernel, shared with the md5-32
    family). Null text yields a null signature."""
    return _signatures(_XXHASH64, df, id_col, text_col, num_perm, shingle_k)


def _bucket_pairs(
    banded: DataFrame, key_cols: list[str], id_col: str = "id"
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from an LSH band table
    via per-bucket expansion: groupBy the band key, sort the member
    ids, emit every ordered in-bucket pair. ONE shuffle (the groupBy)
    where the band self-join this replaces cost two exchange-sorted
    sides plus the join — measured 1.35 s vs 2.0+ s end-to-end on the
    sf0.1 headline minhash, identical pair sets. It also removes the
    need to persist the band table (single consumer now) and the
    self-join attribute-dedup hazard for Python-UDF-derived columns.

    Skew note: a pathological bucket of m ids expands to m(m-1)/2
    pairs — the same quadratic OUTPUT the self-join emitted on the
    same co-partitioned key. The expansion streams (see the generate
    comment below); only the bucket's member array itself is single-
    row state, and that is O(m). Buckets that big mean degenerate
    content (empty/boilerplate docs) and should be filtered upstream,
    as the callers' null-text filters do."""
    grp = (
        banded.groupBy(*key_cols)
        # collect_SET: a duplicate (id, band) row must not yield a
        # degenerate (id, id) self-pair — the l.id < r.id self-join
        # this replaces excluded those (hypothesis-pinned); callers'
        # band tables are (id, band_idx)-unique so this is belt-and-
        # braces, and for distinct ids set ≡ list
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # two chained generates, NOT one flattened m(m-1)/2 pair array:
    # a degenerate bucket (100k identical boilerplate docs colliding
    # on every band) must stream its quadratic pair OUTPUT row by row
    # — a single flatten would build the whole m²-struct array inside
    # ONE row (~80 GB at m=100k) and OOM the executor. posexplode →
    # per-member suffix explode keeps live memory O(m) per row while
    # emitting the identical ordered pairs.
    return (
        grp.select(F.posexplode("ids").alias("__i", "id_a"), "ids")
        .select(
            "id_a",
            F.explode(
                F.slice("ids", F.col("__i") + F.lit(2), F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def _candidate_ids(
    pairs: DataFrame, id_col: str, cols: tuple[str, str] = ("id_a", "id_b")
) -> DataFrame:
    """Ids appearing on either pair column ``cols`` of a candidate-pair
    frame, as a single ``id_col`` column. NOT deduplicated (r14): every
    consumer feeds a LEFT-SEMI join, whose build side dedups for free —
    the explicit ``.distinct()`` this used to carry was a whole extra
    exchange per operator for rows the join hashes away anyway
    (guide §2.4)."""
    a, b = cols
    return pairs.select(F.col(a).alias(id_col)).union(
        pairs.select(F.col(b).alias(id_col))
    )

def _candidate_docs(df: DataFrame, ids: DataFrame, id_col: str) -> DataFrame:
    """Rows of ``df`` whose id is in ``ids`` (one ``id_col`` column of
    candidate-pair ids, e.g. ``_candidate_ids``) — the only docs the
    exact-Jaccard verify needs shingles for. Candidates are
    near-dup-sparse relative to the corpus, so the semi-join (AQE
    broadcasts the small id set) is far cheaper than tokenizing and
    hashing shingles for EVERY corpus row, which is what verifying
    against an unrestricted shingle table does.

    The caller computes expensive per-doc arrays on this frame, and a
    broadcast semi-join keeps its input's width, so a narrow input
    would leave that work on 1–2 tasks: it is spread as the signature
    paths are (``spread_small_scan``; no-op at real scale, and for
    sparse candidate sets the exchange is candidate-sized)."""
    return spread_small_scan(df.join(ids, id_col, "semi"))


def _rows_per_band(num_perm: int, bands: int) -> int:
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    return num_perm // bands


def _band_structs_sql(fam: _HashFamily, sig_ref: str, bands: int, r: int) -> str:
    """SQL text of one signature's array<struct<band_idx, band_key>>:
    band b's key is ``fam``'s band-key expression over slots
    b·r+1 … b·r+r (1-based ``element_at``). Rendered as ONE parsed
    string (r15): building the same tree through the Column API cost
    ~0.5 s of py4j round-trips per call at bands=16, measured with
    cProfile; the parse costs ~3 ms."""

    def key(b: int) -> str:
        return fam.band_key.format(
            ", ".join(
                fam.band_slot.format(f"element_at({sig_ref}, {b * r + j + 1})")
                for j in range(r)
            )
        )

    structs = ", ".join(
        f"named_struct('band_idx', {b}, 'band_key', {key(b)})"
        for b in range(bands)
    )
    return f"array({structs})"


def _bands(
    fam: _HashFamily, sigs: DataFrame, num_perm: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_key) LSH band table of a signature frame —
    ``bands`` rows per doc; the signature itself stays columnar. The
    signature is a plain column (the kernel's output), so the band
    keys reference it by name. Null signatures (null text) are
    dropped first: such docs cannot be near-dups, and would otherwise
    all collide on degenerate keys."""
    r = _rows_per_band(num_perm, bands)
    return (
        sigs.filter(F.col("signature").isNotNull())
        .select(
            "id",
            F.explode(
                F.expr(_band_structs_sql(fam, "`signature`", bands, r))
            ).alias("band"),
        )
        .select("id", "band.band_idx", "band.band_key")
    )


def _band_join(b_band: DataFrame, c_band: DataFrame) -> DataFrame:
    """Distinct (id_new, id_old) candidates of a batch band table
    against a corpus band table — one equi-join on (band_idx,
    band_key). In production the corpus side is the write-once band
    index, stored bucketed by ``band_key`` (``sink_table_bucketed``)
    so each probe shuffles only the batch's bands."""
    return (
        b_band.alias("b")
        .join(
            c_band.alias("c"),
            (F.col("b.band_idx") == F.col("c.band_idx"))
            & (F.col("b.band_key") == F.col("c.band_key")),
        )
        .select(F.col("b.id").alias("id_new"), F.col("c.id").alias("id_old"))
        .distinct()
    )


def _jaccard(a: str, b: str) -> str:
    """SQL text of the exact Jaccard similarity of two distinct-element
    array columns named ``a`` and ``b``."""
    a, b = sql_name(a), sql_name(b)
    return (
        f"CAST(size(array_intersect({a}, {b})) AS DOUBLE)"
        f" / CAST(size(array_union({a}, {b})) AS DOUBLE)"
    )


def _shingle_table(
    fam: _HashFamily,
    docs: DataFrame,
    ids: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
) -> DataFrame:
    """(id, sh) shingle-hash sets of the ``docs`` rows whose id is in
    ``ids`` — filtered BEFORE the projection (``_candidate_docs``): a
    semi-join on the projected frame is not pushed below it, which
    left a full-corpus shingle pass (measured 3.5 s serial at sf0.1
    for rows the verify never reads)."""
    return _candidate_docs(docs, ids, id_col).select(
        F.col(id_col).alias("id"),
        F.expr(fam.shingles(text_col, shingle_k)).alias("sh"),
    )


def _verify(
    fam: _HashFamily,
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    threshold: float,
    cols: tuple[str, str] = ("id_a", "id_b"),
    docs_b: DataFrame | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """Exact-Jaccard verify of candidate ``pairs`` over the distinct
    shingle-hash sets (64-bit or 32-bit hashes: collisions are
    negligible, and long-array set ops are far cheaper than string
    ones), computed for candidate docs only. Returns ``(result,
    held)``: result = (a, b, ``fam.jaccard_col``) rows at or above
    ``threshold``; held = the lazy checkpoints the caller releases
    (``_finish``).

    ``docs`` holds both pair sides unless ``docs_b`` (the ``b`` side)
    is given. One doc frame → ONE candidate shingle table, a lazy
    checkpoint because it is joined twice. Two frames → each side
    scoped to its own pair column, nothing held — on the corpus side
    especially, the index is huge and collisions are batch-bounded."""
    a, b = cols
    if docs_b is None:
        sh_a = sh_b = _shingle_table(
            fam, docs, _candidate_ids(pairs, id_col, cols),
            id_col, text_col, shingle_k,
        ).localCheckpoint(eager=False)
        held = [sh_a]
    else:
        sh_a, sh_b = (
            _shingle_table(
                fam, side, pairs.select(F.col(key).alias(id_col)),
                id_col, text_col, shingle_k,
            )
            for side, key in ((docs, a), (docs_b, b))
        )
        held = []
    jaccard = _jaccard("sh_a", "sh_b")
    if fam.jaccard_round is not None:
        jaccard = f"round({jaccard}, {fam.jaccard_round})"
    result = (
        pairs.join(sh_a.withColumnsRenamed({"id": a, "sh": "sh_a"}), a)
        .join(sh_b.withColumnsRenamed({"id": b, "sh": "sh_b"}), b)
        .withColumn(fam.jaccard_col, F.expr(jaccard))
        .filter(F.col(fam.jaccard_col) >= threshold)
        .select(a, b, fam.jaccard_col)
    )
    return result, held


def _finish(result: DataFrame, held: list[DataFrame]) -> DataFrame:
    """Compute ``result`` once via ``localCheckpoint(eager=True)`` and
    release the ``held`` intermediates — the eviction policy of every
    eager pair operator, so the caller gets a frame that pins nothing
    but its own checkpoint.

    Each held frame is an intermediate the result reads more than
    once, marked ``localCheckpoint(eager=False)``: marking it runs its
    upstream shuffle stages, and its last stage runs once, inside the
    first job that reads it, at the width AQE coalesced it to. A
    ``persist()`` mark instead keeps its shuffle's conf width (Spark
    does not let AQE change a cached plan's partitioning): at 200
    shuffle partitions the registry ``dedup_minhash_lsh`` build ran
    ~2,000 tasks where it runs 55 at 4. A local checkpoint is not in
    the cache manager, so ``unpersist()`` on the frame would not free
    it: the marked RDD is released directly."""
    try:
        return result.localCheckpoint(eager=True)
    finally:
        for f in held:
            f._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _lsh_pairs(
    fam: _HashFamily,
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
    jaccard_threshold: float | None,
) -> DataFrame:
    """(id_a, id_b, ``fam.jaccard_col``) near-dup pairs of one frame:
    signatures → band table → per-bucket pair expansion → verify."""
    sigs = _signatures(fam, df, id_col, text_col, num_perm, shingle_k)
    pairs = _bucket_pairs(
        _bands(fam, sigs, num_perm, bands), ["band_idx", "band_key"]
    )
    if jaccard_threshold is None:
        result = pairs.withColumn(fam.jaccard_col, F.lit(None).cast("double"))
        return _finish(result, [])
    # pairs feeds both the candidate-id semi-join and the verify join:
    # a lazy checkpoint (``_finish``) so the signature pipeline runs
    # once; an eager one here measured +0.4 s of fixed latency at
    # sf0.1.
    pairs = pairs.localCheckpoint(eager=False)
    result, held = _verify(
        fam, pairs, df, id_col, text_col, shingle_k, jaccard_threshold
    )
    return _finish(result, [pairs, *held])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    jaccard_threshold: float | None = 0.8,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH over
    xxhash64 shingle hashes, optionally verified with exact
    shingle-set Jaccard.

    rows_per_band = num_perm / bands; two docs collide if any band of
    their signatures matches. One pipeline, shared with the md5-32
    ``minhash_md5_*`` family (only the shingle hash, the band key and
    the verify's rounding differ): signatures (the numpy Arrow kernel,
    see ``_signatures``) → explode bands (num_perm stays columnar;
    only ``bands`` rows per doc, band key = xxhash64 of the band's
    slots) → per-bucket pair expansion (``_bucket_pairs``: one groupBy
    shuffle, no band self-join, no band-table persist) → distinct
    pairs → exact-Jaccard verify over the CANDIDATE docs only
    (``_verify``: the corpus-wide shingle pass is pruned to the
    near-dup-sparse id set).

    Measured trade (sf0.1, local[32], interleaved medians): the old
    corpus-wide verify was ~0.2–0.4 s FASTER wall-clock here, because
    its wasted full-corpus shingle pass ran on idle cores in parallel
    with the pair chain, while the candidate form serializes behind
    the pair computation. That inversion flips at cluster scale:
    tokenize+hash over every corpus row a second time is a genuine 2×
    on the pipeline's most expensive kernel and there are no idle
    cores to hide it on a saturated 1000-executor job — candidates
    (near-dup-sparse) are the scope the verify actually needs.

    Returns (id_a, id_b, jaccard) with id_a < id_b; when
    ``jaccard_threshold`` is None, candidates are returned unverified
    with jaccard = null.

    The result is computed once via ``localCheckpoint(eager=True)``
    and the internal caches are freed before returning (``_finish``).
    """
    return _lsh_pairs(
        _XXHASH64, df, id_col, text_col, num_perm, bands, shingle_k,
        jaccard_threshold,
    )


def minhash_md5_incremental_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-dup: candidate pairs between a new ``batch``
    and an existing ``corpus`` via the LSH band index — the near-dup
    analogue of ``dedup_incremental``'s exact fingerprint anti-join,
    and the shape a streaming/daily ingest actually runs: sign ONLY
    the batch, probe the corpus's band index, verify exact Jaccard on
    the collisions. Returns ``(id_new, id_old, jaccard_r)``; an
    unmatched batch doc is novel (append it and its bands to the
    index), a matched one is a near-dup of existing data.

    The ``minhash_md5_lsh_pairs`` pipeline with the self-pair
    expansion swapped for one batch ⋈ corpus band equi-join
    (``_band_join``); each verify side shingles only its own
    colliding docs. Callers must pass disjoint id sets (a shared id
    would pair with itself on every band). Like ``minhash_lsh_pairs``,
    the probe is computed once via ``localCheckpoint`` and the pair
    cache is freed before returning.
    """
    b_band, c_band = (
        _bands(
            _MD5,
            _signatures(_MD5, side, id_col, text_col, num_perm, shingle_k),
            num_perm,
            bands,
        )
        for side in (batch, corpus)
    )
    pairs = _band_join(b_band, c_band).localCheckpoint(eager=False)
    result, held = _verify(
        _MD5, pairs, batch, id_col, text_col, shingle_k, jaccard_threshold,
        cols=("id_new", "id_old"), docs_b=corpus,
    )
    return _finish(result, [pairs, *held])


def minhash_md5_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH with the ENGINE-PORTABLE
    md5-32 shingle hash — the ``minhash_lsh_pairs`` pipeline (same
    numpy signature kernel, band table, ``_bucket_pairs`` expansion
    and candidate-docs verify) with every value replayable
    bit-for-bit by an ANSI/DuckDB oracle, which xxhash64 over strings
    is not:

    - shingle hash: first 32 bits of md5(shingle) (``md5_hash32``);
      < 2^32, so the ``(a*h + b) % P`` permutation family (same
      fixed-seed coefficients and modulus as production —
      ``_perm_coefficients`` / ``_MERSENNE_P``) stays below 2^63 and
      is exact long arithmetic in both engines.
    - band key: the band's r signature values joined with '_' into a
      string — trivially portable, and exactly as collision-free as
      the values themselves (no second hash involved).
    - verify: exact Jaccard over the distinct md5-32 shingle-hash
      sets, rounded to 6 decimals (module convention for floats) and
      filtered after rounding.

    The oracle thus verifies the production signature kernel; only
    the hash family differs from ``minhash_lsh_pairs``.

    Returns (id_a, id_b, jaccard_r) with id_a < id_b.
    """
    return _lsh_pairs(
        _MD5, df, id_col, text_col, num_perm, bands, shingle_k,
        jaccard_threshold,
    )


def minhash_md5_split_probe(
    df: DataFrame,
    batch_pred: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """``minhash_md5_incremental_pairs`` for the case where batch and
    corpus are complementary SLICES of one frame (train/val splits,
    shard audits): ``batch_pred`` is SQL predicate text over the
    column ``id`` (the doc id) — batch = rows where it holds, corpus =
    the rest (a NULL predicate puts the row in neither).

    Same output contract and values as calling the two-frame form on
    the rows where the predicate is true / false — identical signatures
    (per-doc projections), identical band join, identical verify —
    but HALF the corpus passes (r14, guide §2.3/§2.4):

    - the band table is built ONCE and sliced by the predicate. The
      two slices are different filters over it, so without the lazy
      checkpoint each join side would re-run the signature
      kernel (at cluster scale this is exactly the write-once band
      INDEX the incremental docstring prescribes; bands are metadata
      — id + band key — never text).
    - batch and corpus ids are disjoint by construction here, so ONE
      candidate shingle table serves both verify join probes.
    """
    all_bands = _bands(
        _MD5,
        _signatures(_MD5, df, id_col, text_col, num_perm, shingle_k),
        num_perm,
        bands,
    ).localCheckpoint(eager=False)
    pairs = _band_join(
        all_bands.filter(batch_pred), all_bands.filter(f"NOT ({batch_pred})")
    ).localCheckpoint(eager=False)
    result, held = _verify(
        _MD5, pairs, df, id_col, text_col, shingle_k, jaccard_threshold,
        cols=("id_new", "id_old"),
    )
    return _finish(result, [all_bands, pairs, *held])


def minhash_md5_estimate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Signature-estimate vs exact-Jaccard for EVERY banded candidate
    pair (no threshold) — the calibration table that tells you whether
    to trust the MinHash index before deduplicating 100 TB with it:
    ``est`` is the matching-component fraction of the two signatures
    (the textbook unbiased Jaccard estimator), ``exact`` the true
    Jaccard over the distinct shingle-hash sets, and ``abs_err`` their
    gap. False positives (high est, low exact) are exactly the pairs
    a threshold-only pipeline would wrongly collapse.

    Returns (id_a, id_b, est_r, exact_r, abs_err_r), id_a < id_b.
    Candidates come from the SAME signature kernel and band-bucket
    expansion as ``minhash_md5_lsh_pairs``, so the eval measures the
    estimator on the pairs the pipeline actually sees. Fully
    engine-portable (md5-32 family).

    One signature pass: the sigs frame is a lazy checkpoint feeding both
    the banding and the two est-side joins (r07 ADVICE); shingle sets
    are computed for candidate docs only."""
    _rows_per_band(num_perm, bands)  # validate before checkpointing
    sigs = _signatures(
        _MD5, df, id_col, text_col, num_perm, shingle_k
    ).localCheckpoint(eager=False)
    pairs = _bucket_pairs(
        _bands(_MD5, sigs, num_perm, bands), ["band_idx", "band_key"]
    ).localCheckpoint(eager=False)
    cand_ids = _candidate_ids(pairs, "id")
    sh = _shingle_table(
        _MD5, df, cand_ids.withColumnRenamed("id", id_col),
        id_col, text_col, shingle_k,
    ).localCheckpoint(eager=False)
    sig_cand = sigs.join(cand_ids, "id", "semi")
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    ).cast("double") / F.lit(float(num_perm))
    exact = F.expr(_jaccard("sh_a", "sh_b"))
    result = (
        pairs.join(
            sig_cand.withColumnsRenamed({"id": "id_a", "signature": "sig_a"}),
            "id_a",
        )
        .join(
            sig_cand.withColumnsRenamed({"id": "id_b", "signature": "sig_b"}),
            "id_b",
        )
        .join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(est, 6).alias("est_r"),
            F.round(exact, 6).alias("exact_r"),
            F.round(F.abs(est - exact), 6).alias("abs_err_r"),
        )
    )
    return _finish(result, [pairs, sigs, sh])


# -------------------------------------------------------------- SimHash

@dataclass(frozen=True)
class _SimHashFamily:
    """The parts of SimHash that differ between its two token-hash
    families; the tokenizer, the vote kernel and the sign pack are
    written once (``_simhash``).

    - ``token_hash``: SQL template of one token's hash (``{}`` is the
      token), a long;
    - ``bit_dtype`` / ``bitorder``: the numpy dtype whose bytes hold a
      token hash and the order ``np.unpackbits`` reads each byte's
      bits in. Vote column b counts bit b of that reading, and bit b
      of the fingerprint (LSB-first) is that column's majority; the
      width is the dtype's bit width;
    - ``out_col``: the fingerprint column's name."""

    token_hash: str
    bit_dtype: str
    bitorder: str
    out_col: str


# production: 64-bit xxhash64 token hashes; vote column j is
# getbit(h, j) (little-endian bytes, LSB-first)
_SIMHASH_XXHASH64 = _SimHashFamily(
    token_hash="xxhash64({})",
    bit_dtype="<i8",
    bitorder="little",
    out_col="simhash",
)
# engine-portable: md5-32 token hashes (< 2^32); vote column b is the
# b-th bit of the 8 hex characters read MSB-first (big-endian bytes)
_SIMHASH_MD5 = _SimHashFamily(
    token_hash=md5_hash32("{}"),
    bit_dtype=">u4",
    bitorder="big",
    out_col="simhash32",
)


def _simhash(
    fam: _SimHashFamily, df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, ``fam.out_col``) — the one SimHash kernel. Tokens are
    hashed JVM-side; the ±1 vote accumulation is vectorized in numpy
    via mapInPandas — unpackbits over the flattened token-hash bytes,
    per-document segment sums (add.reduceat), then packbits of the
    sign vector (bit set where the +1 votes win; a tie yields 0) back
    to one int64. Catalyst would evaluate the same per-bit lambda fold
    interpreted, ~10× slower. Null text yields a null fingerprint;
    empty-after-trim text hashes the single empty-string token."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    dtype = np.dtype(fam.bit_dtype)
    width = dtype.itemsize * 8

    def compute(batches):
        for pdf in batches:
            # null text → null token array → null fingerprint
            raw = pdf["__th"].tolist()
            th_list = [t for t in raw if t is not None and len(t)]
            out = np.empty(len(th_list), dtype=np.int64)
            if th_list:
                lens = np.fromiter(
                    (len(t) for t in th_list), dtype=np.int64, count=len(th_list)
                )
                flat = np.concatenate(
                    [np.asarray(t, dtype=np.int64) for t in th_list]
                ).astype(dtype, copy=False)
                bits = np.unpackbits(
                    flat.view(np.uint8).reshape(-1, dtype.itemsize),
                    axis=1,
                    bitorder=fam.bitorder,
                ).astype(np.int32)
                offs = np.zeros(len(th_list), dtype=np.int64)
                np.cumsum(lens[:-1], out=offs[1:])
                counts = np.add.reduceat(bits, offs, axis=0)  # (docs, width)
                # sign vote: bit set where count(1) > count(-1) ⇔ 2*ones > n
                sign = np.zeros((len(th_list), 64), dtype=np.uint8)
                sign[:, :width] = 2 * counts > lens[:, None]
                out = (
                    np.packbits(sign, axis=1, bitorder="little")
                    .view("<i8")
                    .ravel()
                )
            vals = iter(out)
            full = [
                None if (t is None or not len(t)) else next(vals) for t in raw
            ]
            yield pd.DataFrame(
                {"id": pdf["id"], fam.out_col: pd.array(full, dtype="Int64")}
            )

    # Spread the RAW rows, then project (r14 s6, as in _signatures):
    # repartitioning the projected frame left the tokenize+hash
    # projection upstream of the exchange, on the scan's 1–2 tasks.
    # Values are per-row and partitioning-independent.
    prepped = spread_small_scan(df).select(
        F.col(id_col).alias("id"),
        F.expr(_token_hashes_sql(text_col, fam.token_hash)).alias("__th"),
    )
    out_schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField(fam.out_col, LongType()),
        ]
    )
    return prepped.mapInPandas(compute, out_schema)


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, simhash long) — 64-bit SimHash of the whitespace-token
    multiset, over xxhash64 token hashes: bit i of the fingerprint is
    the majority of ``getbit(h, i)`` over the tokens, packed into one
    two's-complement int64 (``_simhash`` is the kernel). Null text
    yields a null simhash.
    """
    return _simhash(_SIMHASH_XXHASH64, df, id_col, text_col)


def simhash32_md5_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, simhash32) — the ENGINE-PORTABLE SimHash variant: token
    hash = first 32 bits of md5(token) instead of xxhash64. md5 is the
    one cryptographic hash every SQL engine exposes with identical
    bytes, so the whole fingerprint — per-token bits, ±1 votes, the
    vote>0 sign pack — is exact integer arithmetic a DuckDB/ANSI
    oracle replays bit-for-bit (xxhash64 over strings has no portable
    SQL form; that's why ``simhash_signatures`` is rows-only).

    Same kernel as ``simhash_signatures`` (``_simhash``); only the
    token hash and the bit order differ. Production dedup should
    prefer ``simhash_signatures`` (xxhash64 is ~5× cheaper than md5
    per token); this variant exists for cross-engine verifiability
    and engine-migration parity testing. Conventions an oracle must
    mirror: bits are indexed in hex-character order MSB-first (bit b
    lives in hex char b//4, position 3-b%4), a tied vote (even token
    multiset, zero sum) yields bit 0, empty-after-trim text hashes the
    single empty-string token, and null text yields a null
    fingerprint.
    """
    return _simhash(_SIMHASH_MD5, df, id_col, text_col)


# ------------------------------------------------------ n-gram Jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Score given candidate pairs (id_a, id_b) with exact k-gram
    Jaccard — the verify stage for any candidate generator.

    Shingles are computed ONCE per candidate doc on an explicitly
    pre-filtered frame (``_candidate_docs``: semi-join first, project
    after — a projection below a join is evaluated for every corpus
    row because Catalyst never defers it past the join; measured
    3.5 s of wasted full-corpus shingling on the md5 verify). This is
    optimal for both regimes: sparse candidate sets never shingle
    non-candidates, and dense pair sets (every doc a candidate, e.g.
    adjacent-id scoring) still amortize one shingle pass per doc
    across all its pairs."""
    sh = _candidate_docs(df, _candidate_ids(pairs, id_col), id_col).select(
        F.col(id_col).alias("id"), F.expr(word_shingles(text_col, k)).alias("sh")
    )
    return (
        pairs.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .select("id_a", "id_b", F.expr(_jaccard("sh_a", "sh_b")).alias("jaccard"))
    )


# -------------------------------------------- cluster collapse (CC)

def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    rows_per_partition: int = 1 << 20,
) -> DataFrame:
    """(id, component) for every vertex in ``edges``; component = the
    minimum vertex id reachable through any chain of near-dup pairs.

    This is the step that turns pairwise dedup output into dedup
    *groups*: near-duplication is not transitive (A≈B, B≈C, A≉C), so
    collapsing a corpus needs the transitive closure of the candidate
    pairs, then one survivor per component.

    Algorithm: min-label propagation with pointer doubling — each
    iteration (a) lowers every vertex's label to the minimum over its
    neighbors' labels, then (b) shortcuts ``label ← label[label]``.
    Doubling makes convergence O(log diameter) iterations instead of
    O(diameter) — the difference between ~40 and ~1e12 joins on a
    100 TB corpus with chain-shaped dup runs. The label frame is
    ``localCheckpoint``-ed per round to cut the growing lineage, and
    convergence is detected by probing for ANY changed label: each
    round carries its starting label alongside the new one, so the
    probe is a max-aggregate over the just-checkpointed frame.
    A sum-of-labels probe (the pre-r09 form)
    is wrong twice over: string vertex ids crash the cast under ANSI
    (or, ANSI off, sum→null silently reports instant convergence =
    no clustering at all), and xxhash64-derived long ids can overflow
    the sum mid-run (r09 review, verified live on both).

    r14 iteration shape (guide §2.4 — remove shuffles outright): the
    symmetric edge list is augmented with one SELF-LOOP per vertex —
    all four directed forms of every edge ((a,b),(b,a),(a,a),(b,b))
    come out of ONE explode + distinct, a single shuffle where the
    old union-of-distincts paid two — and is built ONCE before the
    loop, persisted pre-partitioned on the probe key ``b`` (persist
    keeps the partitioning visible to the planner; a localCheckpoint
    here would hide it behind an ExistingRDD and re-shuffle the edge
    table every iteration). The self-loop makes the neighbor-min
    aggregation see each vertex's own label, so the new label frame
    is the aggregation output directly — the old per-iteration
    ``labels ⋈ nbr_min`` left join is gone. The doubling lookup's two
    references to the propagated frame ride one lazy ``persist``
    (the two branches shuffle by different keys, so ReuseExchange
    cannot collapse them; without the mark each branch re-runs the
    neighbor-min aggregation). The convergence probe is a single
    max-aggregate (a filtered ``limit(1).count()`` launches 2+
    incremental jobs) and — r14 — is the SAME action that
    materializes the superstep's lazy ``localCheckpoint``: the global
    max scans every partition, so the checkpoint blocks are cached
    and the lineage truncated inside the probe's own job.

    r15 superstep shape (VERDICT r14 item 3 — fewer blocking steps):
    rounds run PAIRED — two propagation+doubling rounds per blocking
    probe, the probe's ``__prev`` carried by the second round. A
    no-change round is absorbing (labels only decrease), so "second
    round changed nothing" ⟺ converged, and "second round changed"
    implies every earlier round changed. The ``max_iter`` bound on
    label-changing rounds therefore holds up to one round: when the
    last change lands on the FIRST round of a superstep, the probe
    sees the second round's no-change and reports convergence, so a
    run may return after ``max_iter + 1`` changing rounds (see the
    loop comment). The returned labels are always a true fixed point.
    Half the barriers/probes/checkpoint writes per round, at the cost
    of at most ONE no-op round in that same case.

    An iterative driver loop — NOT expressible as one Catalyst plan —
    but each step is a distributed DataFrame op; the driver only ever
    sees the 1-row convergence aggregate.

    r14 (guide §2 — scale-adaptive partitioning, derived from input
    size, not a constant tuned for local mode or the cluster): the
    loop's shuffle width is sized from the MEASURED symmetric edge
    count as ``ceil(n_edges / rows_per_partition)``, capped at the
    session's ``shuffle.partitions``. The clustered vertex set is
    near-dup-sparse — usually orders of magnitude smaller than the
    corpus — so running every one of the O(log diameter) × 3
    iteration stages at the corpus-sized shuffle width schedules
    mostly-empty tasks (measured at bench scale: ~1 700 tasks across
    ~100 stages for a 5 k-row edge set, all fixed overhead). The
    width is applied by conf-scoping ``shuffle.partitions`` around
    the loop (restored in ``finally``) because groupBy/join take
    their width from the conf, and ``base`` is re-partitioned to
    match so the probe join still reuses its layout.

    .. warning:: SINGLE-WRITER CONTRACT (r15, VERDICT r14 item 5):
       while the loop runs, ``spark.sql.shuffle.partitions`` is
       narrowed SESSION-WIDE (and restored in ``finally``, even on
       error — pinned by ``test_connected_components_conf_restored``).
       Any query planned CONCURRENTLY on the same session from
       another thread would plan at the narrowed width. Do not run
       this operator concurrently with other queries on a shared
       session; use a separate ``SparkSession`` clone for concurrent
       work. The explicit-repartition alternative was measured and
       REJECTED (r15): pinning widths with user repartitions plans a
       strictly worse shape (+18 AQE query-stage jobs on the CC
       harness — a wasted exchange under each broadcast build side,
       the map-side partial aggregate hoisted above the exchange so
       un-combined join output is shuffled, and a forced exchange on
       the doubling join's look side that the conf form satisfies
       alias-aware for free).

    r14 s6 (guide §2.4 — fewer blocking steps): the width has to be
    measured before the probe-keyed layout can be sized, but the
    sizing count no longer materializes a session-width copy of the
    edge table that an undersized edge set immediately re-shuffles
    and drops (count wide → repartition narrow → count again → two
    blocking jobs plus a throwaway width-``n_part`` exchange). The
    distinct symmetric edge list is persisted and counted ONCE
    un-repartitioned, the ``repartition(width, "b")`` layout is
    planned directly at the measured width, and the first superstep's
    probe — the next blocking action anyway — materializes it;
    the un-laid-out copy is dropped right after. Large edge sets
    (width == session width) keep the identical exchange sequence
    and simply save the second count.
    """
    sess = edges.sparkSession
    n_part = sess.conf.get("spark.sql.shuffle.partitions")
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("a"), F.col(dst).alias("b")
                    ),
                    F.struct(
                        F.col(dst).alias("a"), F.col(src).alias("b")
                    ),
                    F.struct(
                        F.col(src).alias("a"), F.col(src).alias("b")
                    ),
                    F.struct(
                        F.col(dst).alias("a"), F.col(dst).alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .persist()
    )
    base = sym
    conf_restore: str | None = None
    try:
        # one action both materializes the persisted edge table and
        # measures it (a separate isEmpty() probe first would pay an
        # extra blocking job for information count() returns anyway)
        n_edges = sym.count()
        if not n_edges:  # no edges → no vertices
            return sym.select(
                F.col("a").alias("id"), F.col("a").alias("component")
            )
        loop_part = min(
            int(n_part), max(1, -(-n_edges // int(rows_per_partition)))
        )
        # probe-keyed layout at the measured width; persist-marked so
        # every round's join reuses it — materialized by the first
        # superstep's probe (the next blocking action), not by a
        # dedicated count. Until then TWO copies of the edge table are
        # persist-marked (sym + base); the overlap is transient by
        # construction (sym is released the moment the first blocking
        # action has materialized base) and accepted: dropping the
        # probe-keyed layout instead would re-shuffle the edge table
        # on every round of every superstep.
        base = sym.repartition(loop_part, "b").persist()
        labels = base.filter(F.col("a") == F.col("b")).select(
            F.col("a").alias("id"), F.col("a").alias("component")
        )

        # Loop width: conf-scoped ``shuffle.partitions`` (restored in
        # ``finally``), NOT explicit repartitions. Measured (r15): the
        # explicit-repartition form plans a strictly WORSE shape —
        # +18 AQE query-stage jobs on the CC harness (48 → 66),
        # because (a) a user repartition under a BroadcastExchange
        # build side is a wasted shuffle, (b) repartition-before-
        # groupBy hoists the exchange ABOVE the map-side partial
        # aggregate, shuffling un-combined join output (guide §2.3
        # backwards), and (c) the doubling join's look side needs NO
        # exchange under conf width (the aggregate's hash(a, W)
        # layout satisfies hash(__la, W) through the alias), which a
        # forced repartition re-adds. The conf mutation is therefore
        # kept as the ONLY way to express "required exchanges at this
        # width", with a SINGLE-WRITER contract: no other query may
        # plan on this session while the loop runs — pinned by
        # ``test_connected_components_conf_restored`` and documented
        # in the function docstring.
        if loop_part != int(n_part):
            conf_restore = n_part
            sess.conf.set("spark.sql.shuffle.partitions", str(loop_part))

        def _round(lbl: DataFrame) -> tuple[DataFrame, DataFrame]:
            """One propagation + doubling round over ``lbl``; returns
            (persist handle, doubled labels with ``__prev`` = the
            round's starting label)."""
            # neighbor-min over (neighbors ∪ self): min(component) is
            # the propagated label, and the self-loop row (b == a)
            # carries the round's STARTING label out as __prev
            prop = (
                base.join(lbl, F.col("b") == F.col("id"))
                .groupBy("a")
                .agg(
                    F.min("component").alias("component"),
                    F.max(
                        F.when(F.col("b") == F.col("a"), F.col("component"))
                    ).alias("__prev"),
                )
                .persist()
            )
            # pointer doubling: label ← label[label]. Labels only
            # decrease and component ≤ id, so the looked-up label is
            # always ≤ ours.
            look = prop.select(
                F.col("a").alias("__la"), F.col("component").alias("__lc")
            )
            doubled = prop.join(
                look, F.col("component") == F.col("__la"), "left"
            ).select(
                F.col("a").alias("id"),
                F.col("__prev"),
                F.coalesce(
                    F.col("__lc"), F.col("component")
                ).alias("component"),
            )
            return prop, doubled

        converged = False
        # r15 (VERDICT r14 item 3 — fewer blocking steps): each
        # superstep runs TWO propagation+doubling rounds and blocks
        # once — a lazy checkpoint materialized by the convergence
        # probe over the SECOND round's __prev. Correctness of the
        # paired probe: labels only decrease, so a round that changes
        # nothing is absorbing (propagation is at its fixed point and
        # doubling looks up converged labels) — "round 2s+1 changed
        # nothing" ⟺ converged, and "round 2s+1 changed something"
        # implies every earlier round changed something, so a changed
        # probe at superstep s means EXACTLY 2s+2 label-changing
        # rounds so far. The guard below therefore checks the bound
        # per superstep and holds it up to one round: a run with
        # 2s+1 changing rounds (last change on round 2s, the first of
        # superstep s) returns under max_iter = 2s. Whatever it
        # returns is the true fixed point — only a changed probe can
        # raise, and an unchanged probe means round 2s+1 changed
        # nothing. The final labels are schedule-independent
        # (min-label propagation + doubling reaches the same
        # min-reachable-id fixed point under any round/probe
        # schedule), so pairing cannot change results,
        # only when convergence is OBSERVED: at most one no-op round
        # (over already-converged labels) runs when the last change
        # lands on an even round index, in exchange for half the
        # blocking barriers — at 100 TB each barrier is a full-cluster
        # sync plus a cached copy of the label frame.
        for step in range(max_iter // 2 + 2):
            prop_a, doubled_a = _round(labels)
            prop_b, doubled_b = _round(doubled_a.drop("__prev"))
            stepped = doubled_b.localCheckpoint(eager=False)
            changed = stepped.select(
                F.max(
                    (F.col("component") != F.col("__prev")).cast("int")
                )
            ).first()[0]
            prop_a.unpersist()
            prop_b.unpersist()
            if step == 0:
                # the probe materialized base's probe-keyed blocks;
                # the un-laid-out sym copy is dead weight from here
                sym.unpersist()
            labels = stepped.drop("__prev")
            if not changed:
                converged = True
                break
            if 2 * step + 2 > max_iter:
                # still changing past the bound — fall through to the
                # non-convergence guard
                break
        if not converged:
            # partially-propagated labels would silently split true
            # clusters into multiple survivors downstream — refuse to
            # ship them (pointer doubling converges in O(log
            # diameter), so hitting this means max_iter is badly
            # undersized)
            raise RuntimeError(
                f"connected_components did not converge within "
                f"max_iter={max_iter} label-changing rounds (checked "
                "per two-round superstep, so the bound holds up to one "
                "round); raise max_iter (labels were still changing on "
                "the final pass)"
            )
        return labels
    finally:
        if conf_restore is not None:
            sess.conf.set("spark.sql.shuffle.partitions", conf_restore)
        sym.unpersist()
        base.unpersist()


def dedup_cluster_collapse(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Collapse a corpus by near-dup clusters: assign every document
    its component (its own id when unpaired), keep one survivor per
    component (min or max id). The pairwise stage (minhash/simhash/
    embedding) finds the edges; this finds the groups and applies the
    survival policy."""
    comp = connected_components(pairs)
    assigned = df.join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col))).drop(
        "component"
    )
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    survivors = assigned.groupBy("cluster_id").agg(agg.alias(id_col))
    return assigned.join(survivors, [id_col, "cluster_id"], "left_semi")


def cross_doc_ngram_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
    flag_frac: float = 0.5,
) -> DataFrame:
    """Cross-document repeated-n-gram analysis — the bucketed
    approximation of exact-substring dedup (Lee et al. 2022,
    arXiv:2107.06499): a word ``k``-gram appearing in ≥ ``min_docs``
    distinct documents is 'shared'; a document whose distinct-n-gram
    set is dominated by shared n-grams (fraction ≥ ``flag_frac``) is
    flagged as boilerplate/near-duplicate. Returns per-doc
    (id, n_grams, n_shared, shared_frac, flagged).

    Scale shape: ``word_shingles`` is distinct-per-doc by
    construction, so (gram, doc) rows are unique and the gram
    doc-frequency is one gram-keyed COUNT. It is computed as an
    AGGREGATE + join-back, NOT a window (r10 review: the old
    ``COUNT OVER (PARTITION BY gram)`` serializes every hot gram —
    a stopword run present in 50M docs — onto ONE window task, and
    AQE's skew handling splits skewed JOIN partitions only, never
    window partitions). Still exactly TWO corpus-sized exchanges: the
    join's per-gram fan-out is m×1 (the freq side is aggregated) with
    AQE skew-join splitting the hot grams.

    Measured honestly (tools/hotgram_stress.py, BENCH_SCALE r11): on
    ONE box the window form is FASTER at every reachable scale — a
    synthetic 100%%-doc-frequency gram at 16.5× partition skew, 4M to
    40M gram rows, 3g to 16g heaps, window wins 1.2–2.3× — because a
    local straggler inherits the whole machine's cores-idle memory
    bandwidth and a single-key count-over-partition does less per-row
    work than hash-probe + the double shingle evaluation. The
    join-back is kept anyway because the local experiment cannot
    reproduce cluster geometry: the straggler term is
    O(hot_rows) on ONE core while every other core idles — at 1000
    executors that is hours against the join-back's minutes — and the
    hot partition (hundreds of GB for a B-scale corpus) must fit ONE
    task's sorter, a spill-storm/OOM cliff no conf survives. The
    ~2× local tax (shingle chain evaluated on BOTH branches — the
    partial-agg below the freq exchange makes the two exchanges
    non-identical, so Catalyst cannot reuse one) is the insurance
    premium. The gram frame is not cached: it is corpus×k-fan-out
    sized, and resident cache at that scale is a capacity decision
    (a lazy persist measured ~1.7× faster at sf0.1 and 10×,
    BENCH_SCALE r11, and may return as the only path once an A/B
    backs it).
    shared_frac is an IEEE double ratio of two ints, so the flag
    threshold replays exactly in SQL."""
    grams = docs.filter(F.col(text_col).isNotNull()).select(
        id_col, F.explode(F.expr(word_shingles(text_col, k))).alias("gram")
    )
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("doc_freq"))
    per_doc = (
        grams.join(freq, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("doc_freq") >= min_docs, 1).otherwise(0)
            ).alias("n_shared"),
        )
    )
    frac = F.col("n_shared") / F.col("n_grams")
    return per_doc.withColumns(
        {
            "shared_frac": F.round(frac, 6),
            "flagged": frac >= F.lit(flag_frac),
        }
    )


def winnow_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 10,
) -> DataFrame:
    """MOSS-style near-dup candidate pairs (Schleimer et al.,
    SIGMOD'03): document pairs sharing ≥ ``min_shared`` winnowed
    fingerprints, with the shared count — the local-similarity
    candidate generator that catches partial overlap (a copied
    paragraph inside an otherwise-new document) that whole-document
    MinHash dilutes away.

    Scale shape: fingerprints are a projection (``window``-minima over
    positional k-gram hashes); candidates come from ONE fp-key
    equi-join. Fingerprints shared by > ``max_fp_freq`` documents are
    dropped first (the MOSS common-code filter): a boilerplate
    fingerprint in m docs would emit m² pairs, and those pairs carry
    no dedup signal — the filter caps per-fp fan-out and removes the
    join's skew in the same step. Uses the engine-portable md5-32
    fingerprint form so the whole pipeline is SQL-replayable.

    The fingerprint chain feeds FOUR plan branches (the frequency
    aggregate, the anti-join probe, and both sides of the pair
    self-join), so Catalyst re-evaluates the winnowing kernel up to
    4x — the same recompute-over-cache trade as
    ``cross_doc_ngram_stats``."""
    from idr_data_pipelines_spark.llmdata.text import winnow_md5_fingerprints

    fps = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(winnow_md5_fingerprints(text_col, k, window))).alias("fp"),
    )
    # aggregate + anti-join, not COUNT OVER (PARTITION BY fp) (r10
    # review: window partitions get no AQE skew splitting, so the
    # boilerplate fingerprints this filter exists to remove would
    # first serialize onto single window tasks); the aggregate reuses
    # the anti-join's fp exchange, and the over-frequency set is tiny
    common = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_fp_freq)
        .select("fp")
    )
    rare = fps.join(common, "fp", "anti")
    left = rare.select(F.col("id").alias("id_a"), "fp")
    right = rare.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    return (
        left.join(
            right,
            (F.col("fp") == F.col("fp_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def ngram_containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Score candidate pairs with exact ASYMMETRIC k-gram containment:
    ``|A ∩ B| / |A|`` and ``|A ∩ B| / |B|`` (Broder's containment, the
    quantity Jaccard washes out when sizes differ — a paragraph fully
    quoted inside a 100× longer document has Jaccard ≈ 0.01 but
    containment ≈ 1.0 from the short side). The verify stage for
    subset/quotation detection behind any candidate generator
    (winnow_candidate_pairs is the natural one: winnowing guarantees
    shared fingerprints for sufficiently long shared substrings).

    Scale: shingle sets computed once per CANDIDATE doc on the
    pre-filtered frame (``_candidate_docs`` — semi-join before the
    projection, so non-candidate rows are never shingled; see
    ngram_jaccard_pairs), then two id-key array joins — candidate-
    driven, never all-pairs."""
    sh = _candidate_docs(df, _candidate_ids(pairs, id_col), id_col).select(
        F.col(id_col).alias("id"), F.expr(word_shingles(text_col, k)).alias("sh")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (inter / F.size("sh_a").cast("double")).alias("containment_a"),
            (inter / F.size("sh_b").cast("double")).alias("containment_b"),
        )
    )


def cluster_keep_best(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup collapse with a QUALITY-chosen survivor: label every
    document with its dup cluster (transitive closure of ``edges`` via
    ``connected_components``), then keep the cluster member with the
    highest ``quality_col`` (lowest id on ties) — the RefinedWeb/
    FineWeb-style policy, where the survivor should be the best copy
    (longest, highest quality score), not whichever id happens to be
    smallest. Unpaired documents are their own keeper.

    Returns ``(id_col, cluster_id, keeper_id, is_keeper)`` — filter on
    ``is_keeper`` to materialize the deduplicated corpus, or keep the
    full frame for an attribution audit of what was dropped and why.

    Scale shape: closure is the pointer-doubling label propagation
    (O(log diameter) rounds over the PAIR set only); the keeper
    election is one agg over the clustered frame — ``min_by`` on the
    (-quality, id) struct, no per-cluster window, no skew trap on a
    mega-cluster (the agg is a partial-merge, unlike a sort window).
    """
    comp = connected_components(edges, src=src, dst=dst)
    labeled = (
        docs.select(
            F.col(id_col),
            # null quality must LOSE the election, not win it: min over
            # struct((-q), id) sorts NULL first, so an unguarded null
            # would beat every real score — coalesce to -inf instead
            # (a null-quality doc still keeps a cluster where every
            # member is null, by id)
            F.coalesce(
                F.col(quality_col).cast("double"),
                F.lit(float("-inf")),
            ).alias("__q"),
        )
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            "__q",
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
    )
    keepers = labeled.groupBy("cluster_id").agg(
        F.min(
            F.struct((-F.col("__q")).alias("nq"), F.col(id_col).alias("id"))
        )["id"].alias("keeper_id")
    )
    return labeled.join(keepers, "cluster_id").select(
        id_col,
        "cluster_id",
        "keeper_id",
        (F.col(id_col) == F.col("keeper_id")).alias("is_keeper"),
    )


def ngram_novelty_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY against everything that came
    before it in corpus order (doc_id as ingest time): the fraction
    of a document's distinct word-``k``-grams whose FIRST corpus
    occurrence is this document. The curriculum/diversity signal a
    streaming curation pass ranks by — high novelty = new content,
    near-zero novelty = re-crawl/boilerplate (complements
    ``cross_doc_ngram_stats``'s order-free shared fraction).

    Scale shape: identical to ``cross_doc_ngram_stats`` — a gram-keyed
    MIN aggregate (map-side combined) joined back onto the gram
    stream, then the per-doc rollup. An aggregate + join, NOT a
    window over gram (r10 review: window partitions don't get AQE
    skew splitting — a hot gram serialized onto one task; the join
    form splits), at the same measured ~2× shingle-evaluation tax
    documented on ``cross_doc_ngram_stats``. All counts are integers;
    the ratio is one IEEE divide, rounded — partition-invariant by
    construction. The gram frame is recomputed, not cached, for the
    reason ``cross_doc_ngram_stats`` gives."""
    grams = docs.filter(F.col(text_col).isNotNull()).select(
        id_col, F.explode(F.expr(word_shingles(text_col, k))).alias("gram")
    )
    firsts = grams.groupBy("gram").agg(F.min(id_col).alias("first_doc"))
    per_doc = (
        grams.join(firsts, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col(id_col), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_novel",
        F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty_r"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN removal — the transform form of cross-doc
    substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": cut repeated substrings out of the
    training text instead of dropping whole documents). A token
    position is removed when ANY word ``k``-gram covering it occurs in
    at least ``min_df`` distinct documents; the survivors are rejoined
    into ``cleaned_text``. Adjacent duplicated grams merge into spans
    for free (their cover sets overlap).

    Contract: text is normalized to the module's canonical token form
    (``_tokens``: lower + trim + whitespace split; rejoined with a
    single space) — the same normalization every fingerprint/shingle
    operator here applies. Documents shorter than ``k`` tokens carry
    no k-gram and are returned untouched (normalized), matching the
    paper's "too short to match" behavior. Rows with NULL ``text``
    PASS THROUGH with NULL ``cleaned_text``/``n_tokens``/``n_removed``
    (r13 VERDICT item 6): a transform stage must not silently drop
    corpus rows, and NULL-out keeps the choice visible downstream —
    callers that want them gone filter explicitly. Gram identity is
    the full
    md5 hex of the gram string — engine-portable (the SQL oracle
    replays it), collision-free in practice at corpus scale; swap in
    ``xxhash64`` over token hashes (``shingle_hashes_positional``)
    when oracle replay is not required and scan width dominates.

    Scale shape (100 TB): three shuffles, all standard —
    (1) gram-df aggregate keyed by the md5 gram (map-side partial
    count-distinct; never a window over a hot gram), (2) the semi-join
    of positional grams against the duplicated-gram set rolled up to
    one row per document (``collect_set`` of span starts, bounded by
    tokens-per-doc), (3) the join-back onto the corpus by id. The
    kept-token filter is a pure array HOF projection: the sorted span
    starts are first folded into DISJOINT ``(s, e)`` intervals
    (adjacent/overlapping ``[p, p+k)`` covers merge), then token ``j``
    survives iff no interval holds ``s <= j < e`` — O(tokens x
    disjoint_intervals) per document (r13 VERDICT item 2; the raw
    per-start form scanned every marked position per token, which on
    boilerplate-heavy docs is thousands of starts collapsing to a
    handful of intervals). The fold itself allocates
    O(starts x intervals) — bounded by the old filter's work and tiny
    in the target case. Never corpus-quadratic either way.

    Returns ``(id_col, cleaned_text, n_tokens, n_removed)``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if min_df < 2:
        # min_df=1 marks EVERY position (every gram occurs in its own
        # document) — the whole corpus would clean to empty strings
        raise ValueError("min_df must be >= 2 (grams repeated ACROSS documents)")
    for col in ("__toks", "__gr", "__pos", "__rpos"):
        if col in df.columns:
            raise ValueError(
                f"input already has a column named '{col}', which this "
                "operator uses internally and drops — rename it first"
            )
    toks = _tokens_sql(text_col)
    # _let_sql binds the tokenization once per row: without it Catalyst
    # inlines the split/lower/trim into EVERY lambda invocation below
    # (one re-tokenization per gram position — O(n²·len) per document;
    # measured 27 s vs 3 s at sf0.1 for this operator alone)
    grams = _let_sql(
        toks,
        "__t",
        f"CASE WHEN size(__t) < {k} THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(0, size(__t) - {k}), "
        f"__i -> md5(array_join(slice(__t, __i + 1, {k}), ' '))) END",
    )

    # A single-file input would run the tokenize+md5-gram projection
    # — the operator's dominant per-row cost — on ONE task (r14 stage
    # profile: 1.3 s serial at sf0.1, plus a second task blocked on
    # the same persisted block); spread it as the signature paths do.
    # No-op at real scale, value-neutral.
    df = spread_small_scan(df)
    # NULL text rides through untouched: its token array is NULL, the
    # gram CASE propagates it, posexplode drops the row from the
    # gram machinery, and the final projection yields NULL outputs.
    #
    # base feeds THREE consumers — the gram-df aggregate, the
    # semi-join probe (both via pg), and the join-back — and without a
    # materialization mark the tokenize+md5-gram projection runs once
    # per consumer (the probe side reaches the semi-join as a
    # broadcast build, so no exchange exists for ReuseExchange to
    # collapse — r14 profiling: the recompute was ~1.0 s of the 3.0 s
    # sf0.1 wall). A lazy persist computes it once per action (guide
    # §5: cache exactly what is reused AND expensive); persisting BASE
    # rather than the exploded pg (the r14 first cut) covers the
    # join-back branch too and stores each gram hash once per
    # position-ARRAY row instead of once per exploded row. The 100 TB
    # analogue is writing the gram table out once — the
    # materialize-the-intermediate shape Lee et al. 2022's suffix
    # pipeline uses. Released via unpersist_materialized(result).
    base = df.selectExpr(
        sql_name(id_col), f"{toks} AS __toks", f"{grams} AS __gr"
    ).persist()
    pg = base.select(
        id_col, F.posexplode("__gr").alias("__pos", "__g")
    )
    dup = (
        pg.groupBy("__g")
        .agg(F.count_distinct(id_col).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("__g")
    )
    rem = (
        pg.join(dup, "__g", "semi")
        .groupBy(id_col)
        .agg(F.collect_set("__pos").alias("__rpos"))
    )
    joined = base.drop("__gr").join(rem, id_col, "left")

    # Fold the sorted span starts into disjoint [s, e) intervals:
    # starts are ascending, so a start p merges into the open interval
    # iff p <= its end, and the merged end is always p + k (p is the
    # largest start seen). _let_sql-bound — an unbound fold closed over
    # by the filter lambda would re-run the merge per TOKEN (the r13
    # single-evaluation-binding lens).
    last = "element_at(__acc, -1)"
    ivls = (
        "aggregate(array_sort(__rpos), "
        "CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>), "
        f"(__acc, __p) -> CASE WHEN size(__acc) > 0 AND __p <= {last}.e "
        "THEN concat(slice(__acc, 1, size(__acc) - 1), "
        f"array(named_struct('s', {last}.s, 'e', __p + {k}))) "
        f"ELSE concat(__acc, array(named_struct('s', __p, 'e', __p + {k}))) END)"
    )
    kept = _let_sql(
        ivls,
        "__iv",
        "filter(__toks, (__tok, __j) -> NOT coalesce("
        "exists(__iv, __v -> __v.s <= __j AND __j < __v.e), FALSE))",
    )
    return _attach_materialized(
        joined.selectExpr(
            sql_name(id_col),
            f"array_join({kept}, ' ') AS cleaned_text",
            "CAST(size(__toks) AS BIGINT) AS n_tokens",
            f"CAST(size(__toks) - size({kept}) AS BIGINT) AS n_removed",
        ),
        base,
    )

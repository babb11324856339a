"""Deterministic corpus sampling, splitting, mixing and packing.

The reproducibility layer of a training-data pipeline: which rows land
in a sample, a holdout split, or a mixed corpus must be a pure function
of the row's *key* — never of partitioning, cluster size, or execution
order. Spark's ``df.sample``/``randomSplit`` are seeded per-partition,
so adding an executor (or a repartition) reshuffles the sample; every
operator here instead derives a uniform bucket from ``md5(salt ‖ key)``
and filters on it, which is:

- **stable**: same key + salt → same decision on any cluster, any run,
  any engine (md5 is everywhere — the DuckDB oracles replay these
  operators exactly, to the bit);
- **a pure projection filter**: no shuffle, no state; Catalyst pushes
  it into the scan like any other predicate;
- **compositional**: a 10% sample of a 50% split is itself
  deterministic (different salts decorrelate the two decisions).

Null-key contract (r12, module-wide): ``md5(salt ‖ NULL)`` is NULL in
every engine, so a null-key row has no stable identity to decide by.
The SELECTORS therefore exclude null-key rows explicitly
(``sample_hash_mod``/``mix_weighted`` by the bucket filter itself;
``sample_exact_k``/``sample_exact_k_per_group``/``sample_weighted_k``
by an explicit ``isNotNull`` filter — without it Spark's NULLS-FIRST
ascending sort would hand null-key rows the winning ranks while
DuckDB's NULLS-LAST hands them the losing ones), and the LABELERS
(``split_train_holdout``, ``assign_kfold``, ``shuffle_shards``) keep
the row but assign a NULL label/fold/shard — visible to the caller,
never a silent 'train' or fold-0 masquerade.

``pack_sequences`` is the LLM-training sequence packer: assign each
document a (pack_id, offset) in fixed-size token windows via a
running-sum window function. Pack per shard (``shard_col``) at scale —
a global packing forces a single-partition window sort, which is fine
for a small curated corpus and a deliberate bottleneck otherwise
(documented below).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import sql_literal, sql_name

# 15 hex chars = 60 bits: fits a BIGINT exactly in both Spark
# (conv(_,16,10)) and DuckDB (CAST('0x'||_ AS BIGINT)), so the bucket
# arithmetic is portable bit-for-bit.
_HEX_CHARS = 15


def _salted_md5(salt: str, key_col: str) -> str:
    """SQL text of ``md5(salt ‖ key)``, the hex digest every operator
    here decides by (NULL for a NULL key)."""
    return f"md5(concat({sql_literal(salt)}, CAST({sql_name(key_col)} AS STRING)))"


def _md5_prefix(h: str) -> str:
    """SQL text of the 60-bit prefix of the md5 hex expression ``h`` as
    a non-negative BIGINT — the ONE definition of the portable-hash
    arithmetic: the buckets (``_bucket_from_md5``) and the weighted
    sampler's uniform both read it, so the oracle contract
    (``('0x' || substring(md5(...),1,15))::BIGINT``) has a single
    place to change."""
    return f"CAST(conv(substring({h}, 1, {_HEX_CHARS}), 16, 10) AS BIGINT)"


def _bucket_from_md5(h: str, buckets: int) -> str:
    """SQL text of [0, buckets) from the md5 hex expression ``h``: the
    60-bit prefix, pmod. hash_bucket and shuffle_shards both compose
    it."""
    return f"pmod({_md5_prefix(h)}, {buckets})"


def hash_bucket(key: str, buckets: int = 1_000_000, salt: str = "") -> str:
    """SQL text of a uniform deterministic bucket in [0, buckets) from
    md5(salt‖key), ``key`` being a column name.

    The SQL-portable twin (DuckDB oracle form):
    ``CAST(('0x' || substring(md5(salt || key), 1, 15)) AS BIGINT)
    % buckets``.
    """
    if buckets <= 0:
        # pmod(x, 0) is NULL in Spark, not an error — a zero/negative
        # bucket count would silently null every assignment
        raise ValueError("buckets must be positive")
    return _bucket_from_md5(_salted_md5(salt, key), buckets)


def _guard_internal_cols(df: DataFrame, *names: str) -> None:
    """Refuse inputs that already carry one of this module's internal
    working columns (r12 API-boundary sweep, the events.py
    reserved-name precedent): the operator would silently overwrite
    the user's column and then DROP it on the way out — data
    destruction with no error. Renaming on the caller side is cheap;
    recovering a dropped column is not."""
    clash = [n for n in names if n in df.columns]
    if clash:
        raise ValueError(
            f"input already has column(s) {clash}, which this operator "
            "uses internally and drops — rename them before calling"
        )


def sample_hash_mod(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per key hash — reproducible
    across runs, clusters and engines, unlike ``df.sample`` (whose
    per-partition seeding changes the sample when partitioning does).
    A pure filter: pushes down, no shuffle. Null-key rows are
    never kept (null bucket fails every comparison — see the module
    null-key contract)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    threshold = int(fraction * buckets)
    return df.filter(f"{hash_bucket(key_col, buckets, salt)} < {threshold}")


def split_train_holdout(
    df: DataFrame,
    key_col: str,
    holdout_fraction: float = 0.1,
    salt: str = "split",
    split_col: str = "split",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Label every row ``train``/``holdout`` by key hash.

    The property that matters for training pipelines: a document's
    split NEVER changes as the corpus grows, shrinks, or is
    reprocessed — no train/test leakage across runs. (A fresh salt
    defines a fresh, decorrelated split.) A null-key row gets a NULL
    split — it has no stable identity, so neither label would be
    reproducible; a bare ``otherwise('train')`` would silently sweep
    such rows into train (module null-key contract)."""
    if not 0.0 <= holdout_fraction <= 1.0:
        # the siblings (sample_hash_mod, mix_weighted) validate their
        # fractions; a typo'd 1.5 here would silently label the WHOLE
        # corpus holdout — the one split error that leaks everything
        raise ValueError("holdout_fraction must be in [0, 1]")
    threshold = int(holdout_fraction * buckets)
    bucket = F.expr(hash_bucket(key_col, buckets, salt))
    return df.withColumn(
        split_col,
        F.when(bucket < threshold, F.lit("holdout"))
        .when(bucket >= threshold, F.lit("train")),
        # null-key rows fall through both branches -> NULL split
    )


def mix_weighted(
    df: DataFrame,
    source_col: str,
    key_col: str,
    weights: dict[str, float],
    salt: str = "mix",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Weighted source mixing: keep a row from source s with
    probability ``weights[s]`` (sources absent from ``weights`` keep
    0). The down-sampling decision is per-key-hash — deterministic,
    engine-portable, and a pure filter (broadcast-free: the weight
    table becomes a CASE expression, one codegen'd predicate).

    This is the corpus-mixing step of LLM data recipes ("2 parts web,
    1 part books, 0.1 part code") expressed as subsampling to the
    target ratios."""
    if not weights:
        raise ValueError("empty weights")
    src = F.col(source_col)
    thresh: Column | None = None
    for s, w in weights.items():
        if not 0.0 <= w <= 1.0:
            raise ValueError(f"weight for {s!r} must be in [0, 1]")
        t = F.lit(int(w * buckets))
        thresh = F.when(src == s, t) if thresh is None else thresh.when(src == s, t)
    thresh = thresh.otherwise(F.lit(0))
    return df.filter(F.expr(hash_bucket(key_col, buckets, salt)) < thresh)


def pack_sequences(
    df: DataFrame,
    token_col: str,
    order_col: str,
    max_tokens: int,
    shard_col: str | None = None,
    pack_id_col: str = "pack_id",
    offset_col: str = "pack_offset",
) -> DataFrame:
    """Contiguous greedy sequence packing: lay documents end-to-end in
    ``order_col`` order and cut every ``max_tokens`` tokens; each row
    gets the window it *starts* in (``pack_id``) and its token offset
    within that window (long documents straddle cuts — the trainer's
    chunker handles the tail, as in GPT-style contiguous packing).

    Exactly SQL-expressible (running SUM window), hence oracle-able:
    ``pack_id = floor(cum_tokens_before / max_tokens)``.

    Scale: pass ``shard_col`` (e.g. language, source, or a hash bucket)
    so the running sum partitions by shard — each shard's window sorts
    independently after one hash shuffle. ``shard_col=None`` is a
    GLOBAL ordering: Spark must funnel everything through one
    partition for the unbounded window — acceptable for a small
    curated corpus, a deliberate error at 100 TB (pack per shard and
    interleave shards at read time instead).
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    part = Window.partitionBy(shard_col) if shard_col else Window.partitionBy()
    w = (
        part.orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(F.col(token_col)).over(w), F.lit(0)).cast("bigint")
    return df.withColumns(
        {
            pack_id_col: F.floor(cum_before / F.lit(max_tokens)),
            offset_col: F.pmod(cum_before, F.lit(max_tokens)),
        }
    )


def sample_stratified(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    key_col: str,
    salt: str = "strat",
    buckets: int = 1_000_000,
    rank_col: str | None = None,
) -> DataFrame:
    """Exact-size per-stratum sample: the ``n_per_stratum`` rows of
    each stratum whose key hashes lowest (ties broken by the key
    itself — fully deterministic, engine-portable).

    Unlike fraction-based sampling this guarantees the per-stratum
    COUNT — the "equal representation" sampling mode (eval sets,
    per-language probes). Cost: one hash shuffle on the strata +
    a per-stratum sort for row_number — the same plan as any
    latest-per-key dedup; no global sort.
    """
    if n_per_stratum <= 0:
        raise ValueError("n_per_stratum must be positive")
    _guard_internal_cols(df, "__rk")
    w = Window.partitionBy(*strata_cols).orderBy(
        F.expr(hash_bucket(key_col, buckets, salt)).asc(), F.col(key_col).asc()
    )
    # null keys excluded like the other selectors (module null-key
    # contract): Spark's NULLS-FIRST would hand them winning ranks
    out = (
        df.filter(F.col(key_col).isNotNull())
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_stratum)
    )
    if rank_col:
        return out.withColumnRenamed("__rk", rank_col)
    return out.drop("__rk")


def sample_token_budget(
    df: DataFrame,
    token_col: str,
    budget: int,
    key_col: str,
    group_col: str | None = None,
    salt: str = "budget",
    buckets: int = 1_000_000,
    cum_col: str | None = None,
) -> DataFrame:
    """Greedy token-budget prefix sample: order each group's rows by
    key hash (deterministic) and keep rows while the tokens BEFORE the
    row total < ``budget`` — i.e. the last kept row may overshoot the
    budget, matching how training recipes fill a per-source token
    quota ("take 10B tokens of code").

    Same running-sum window as ``pack_sequences``: one hash shuffle on
    the group, per-group sort, no global ordering (``group_col=None``
    funnels through one partition — small-corpus-only, as with global
    packing).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    _guard_internal_cols(df, "__cum")
    part = Window.partitionBy(group_col) if group_col else Window.partitionBy()
    w = part.orderBy(
        F.expr(hash_bucket(key_col, buckets, salt)).asc(), F.col(key_col).asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum(F.col(token_col)).over(w), F.lit(0)).cast("bigint")
    # null keys excluded (module null-key contract): NULLS-FIRST would
    # let an identity-less row consume the budget ahead of everyone
    out = (
        df.filter(F.col(key_col).isNotNull())
        .withColumn("__cum", cum_before)
        .filter(F.col("__cum") < F.lit(budget))
    )
    if cum_col:
        return out.withColumnRenamed("__cum", cum_col)
    return out.drop("__cum")


def mix_weighted_repeat(
    df: DataFrame,
    source_col: str,
    key_col: str,
    weights: dict[str, float],
    salt: str = "mixrep",
    buckets: int = 1_000_000,
    repeat_col: str = "repeat_idx",
) -> DataFrame:
    """Weighted mixing with UPsampling: a source with weight 2.5 emits
    every row twice plus a deterministic half of the rows a third time
    (floor(w) full epochs + the fractional epoch chosen by key hash).
    ``mix_weighted`` covers w ≤ 1; this is the "repeat the good data"
    half of an LLM mixing recipe (books ×3, web ×0.5).

    ``repeat_col`` numbers the copies (1..n) so downstream shuffling/
    packing can treat epochs distinctly. Pure projection + explode of
    a ≤⌈w⌉-element sequence — no shuffle, no join, deterministic and
    engine-portable (same md5 bucket arithmetic as the other samplers).

    Null keys fail CLOSED on the key-dependent half (module null-key
    contract): the floor(w) full epochs are key-independent and still
    emit, but a null-key row never wins the hash-chosen fractional
    epoch — consistent with ``mix_weighted``, where a null key is
    never kept.
    """
    if not weights:
        raise ValueError("empty weights")
    src = F.col(source_col)
    h = F.expr(hash_bucket(key_col, buckets, salt))
    copies: Column | None = None
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for {s!r} must be >= 0")
        base = int(w)
        frac_thresh = int((w - base) * buckets)
        c = F.lit(base) + F.when(h < F.lit(frac_thresh), 1).otherwise(0)
        copies = F.when(src == s, c) if copies is None else copies.when(src == s, c)
    copies = copies.otherwise(F.lit(0))
    return (
        df.withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .withColumn(repeat_col, F.explode(F.sequence(F.lit(1), F.col("__copies"))))
        .drop("__copies")
    )


def assign_global_ids(
    df: DataFrame,
    order_col: str,
    id_col: str = "global_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign contiguous global ids 0..N−1 in ``order_col`` order —
    WITHOUT the two standard scale-breakers: a global
    ``row_number() OVER (ORDER BY ...)`` window (single-partition sort
    of the whole table) or ``monotonically_increasing_id`` (sparse,
    gap-ridden ids useless as example indices).

    Plan: range-repartition on ``order_col`` (total order across
    partitions) + in-partition sort; a per-partition running sequence
    via ``mapInPandas`` (the iterator walks a partition's batches in
    row order); per-partition row counts → prefix-sum offsets (one
    window over ≤ num_partitions rows); final id = offset + local seq
    through a broadcast join on partition id. The range exchange
    appears in both the data branch and the counts branch, so
    ReuseExchange shuffles the table ONCE; everything else is
    tiny-side work. ``order_col`` must be unique (ties would make the
    assignment nondeterministic); ids are deterministic for a given
    dataset regardless of input partitioning.
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parts = (
        df.repartitionByRange(n, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("__pid", F.spark_partition_id())
    )

    seq_schema = StructType(
        list(df.schema.fields)
        + [StructField("__pid", IntegerType()), StructField("__seq", LongType())]
    )

    def add_seq(batches):
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["__seq"] = pd.RangeIndex(seen, seen + len(pdf)).to_numpy()
            seen += len(pdf)
            yield pdf

    # LAZY local checkpoint (no job at construction — the AQE-probe
    # doctrine) so the counts branch and the final join read the SAME
    # materialized partitioning. Without it, correctness would hinge
    # on shuffle-stage reuse: the two consumers re-planning the range
    # exchange independently can sample DIFFERENT range bounds
    # (RangePartitioner's reservoir seed derives from the RDD id), and
    # offsets computed against one partitioning joined to rows from
    # another silently duplicate/skip ids (r09 review finding). The
    # checkpoint pins one set of bounds and one sequence pass; its
    # executor-side footprint is the same order as the shuffle files
    # the reuse path would have written.
    seqd = parts.mapInPandas(add_seq, seq_schema).localCheckpoint(eager=False)

    # partition sizes come from the SAME mapInPandas frame (max local
    # seq + 1): both branches now share the checkpointed RDD, so the
    # table is shuffled and sequenced exactly once.
    counts = seqd.groupBy("__pid").agg((F.max("__seq") + 1).alias("__n"))
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__offset")
    )

    return (
        seqd.join(F.broadcast(offsets), "__pid")
        .withColumn(id_col, (F.col("__offset") + F.col("__seq")).cast("long"))
        .drop("__pid", "__seq", "__offset")
    )


def temperature_weights(
    df: DataFrame,
    source_col: str,
    temperature: float = 2.0,
) -> dict[str, float]:
    """mT5-style temperature sampling weights: per-source keep
    probability ∝ n_s^(1/T - 1), scaled so the LARGEST resulting
    sampled share matches its natural share's rescaling (max weight
    = 1, nothing upsampled). T=1 keeps natural proportions (all
    weights 1); T→∞ equalizes sources (small sources keep everything,
    large sources downsample toward the smallest). The standard fix
    for high-resource languages swamping a multilingual mix.

    One counting aggregate collapses to |sources| rows on the driver
    (bounded by construction); feed the result straight to
    ``mix_weighted`` for the deterministic hash-threshold subsample.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    counts = {
        r[source_col]: r["n"]
        for r in df.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return {}
    # target share ∝ n^(1/T); keep-prob_s ∝ n_s^(1/T) / n_s, scaled to
    # max 1 so no source needs upsampling
    raw = {s: n ** (1.0 / temperature) / n for s, n in counts.items()}
    peak = max(raw.values())
    return {s: w / peak for s, w in raw.items()}


def sample_exact_k(
    df: DataFrame,
    key_col: str,
    k: int,
    salt: str = "topk",
) -> DataFrame:
    """Exactly-``k``-row deterministic uniform sample: order by
    ``md5(salt‖key)`` and take the first ``k``. Same distribution as a
    reservoir sample, but reproducible across runs, engines and
    partitionings (``df.sample`` + ``limit`` is neither exact-k nor
    stable), and the per-row hash rank doubles as an audit trail.

    Scale shape: ``orderBy + limit`` compiles to
    ``TakeOrderedAndProject`` — each task keeps a local k-heap and
    only k rows per partition reach the merge; the corpus is never
    globally sorted or shuffled.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    _guard_internal_cols(df, "__h")
    c = F.col(key_col)
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    # explicit: a null key has no rank (Spark would sort its NULL hash
    # FIRST and hand it a winning slot; DuckDB sorts it LAST) — see
    # the module null-key contract
    return (
        df.filter(c.isNotNull())
        .withColumn("__h", h)
        .orderBy("__h", key_col)
        .limit(k)
        .drop("__h")
    )


def assign_kfold(
    df: DataFrame,
    key_col: str,
    n_folds: int = 5,
    salt: str = "kfold",
    fold_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment by key hash (fold =
    ``md5(salt‖key) mod n_folds``). Like ``split_train_holdout``, a
    row's fold NEVER changes as the corpus grows or is reprocessed —
    cross-validation splits stay leakage-free across runs. Pure
    projection: no shuffle, folds are ~uniform.
    """
    if n_folds < 1:
        raise ValueError("n_folds must be >= 1")
    return df.withColumn(
        fold_col, F.expr(hash_bucket(key_col, n_folds, salt)).cast("int")
    )


def sample_exact_k_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int,
    salt: str = "grouptopk",
) -> DataFrame:
    """Exactly ``min(k, |group|)`` rows per group, chosen uniformly
    and deterministically (md5 rank within the group) — the balanced
    eval-set / per-source cap primitive; ``sample_stratified`` with
    the same guarantees but a fixed per-group count instead of
    per-group fractions.

    Scale shape: one shuffle on the group key, then a per-group sort
    of the md5 rank (Spark external-sorts, so oversized groups spill
    rather than OOM; a skewed source IS its own partition — for
    pathological single-group skew pre-split the group key). Rows
    beyond rank ``k`` are dropped before any downstream exchange."""
    if k < 0:
        raise ValueError("k must be >= 0")
    _guard_internal_cols(df, "__rn")
    c = F.col(key_col)
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    w = Window.partitionBy(group_col).orderBy(h, c)
    # null keys excluded for the same reason as sample_exact_k
    return (
        df.filter(c.isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def sample_weighted_k(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly ``k`` rows,
    deterministic: the Efraimidis-Spirakis A-ES scheme (IPL 2006) with
    the uniform drawn from the md5 key hash — row i is ranked by
    ``ln(u_i)/w_i`` (monotone in the classic ``u^(1/w)`` key) and the
    top ``k`` win. Inclusion probability rises with weight; the same
    (corpus, salt) always selects the same rows, and selection is
    independent of partitioning — the reproducible quality-weighted
    subsample primitive (weight = quality score, token count, ...).

    Scale shape: pure projection + ``orderBy+limit`` →
    ``TakeOrderedAndProject`` per-partition k-heaps, no global sort.
    Weights must be > 0 (rows with w <= 0 or null are dropped — they
    have zero inclusion probability in A-ES)."""
    if k < 0:
        raise ValueError("k must be >= 0")
    _guard_internal_cols(df, "__es")
    w, kc = sql_name(weight_col), sql_name(key_col)
    # u in (0, 1): 60 md5 bits + 1 over 2^60 + 1 — never 0 or 1
    h = _md5_prefix(_salted_md5(salt, key_col))
    u = f"(CAST({h} AS DOUBLE) + 1.0D) / {sql_literal(float((1 << 60) + 1))}"
    # null keys excluded like the other exact-k selectors (null u
    # would rank engine-dependently); null/<=0 weights have zero
    # inclusion probability in A-ES
    return (
        df.filter(f"{kc} IS NOT NULL AND {w} IS NOT NULL AND {w} > 0")
        .withColumn("__es", F.expr(f"ln({u}) / CAST({w} AS DOUBLE)"))
        .orderBy(F.desc("__es"), F.col(key_col))
        .limit(k)
        .drop("__es")
    )


def pack_sequences_bestfit(
    df: DataFrame,
    token_col: str,
    id_col: str,
    max_tokens: int,
    shard_col: str | None = None,
    pack_id_col: str = "pack_id",
) -> DataFrame:
    """WHOLE-document bin packing, best-fit-decreasing: unlike
    ``pack_sequences`` (contiguous GPT-style packing that splits
    documents at window cuts), every document lands intact in exactly
    one pack of capacity ``max_tokens`` — the packing used when
    truncating/straddling is unacceptable (instruction tuning,
    long-context eval sets). BFD is the classic 11/9·OPT+1 heuristic:
    sort docs by token count descending (ties: id ascending), place
    each into the fullest pack that still fits, else open a new pack.
    Documents longer than ``max_tokens`` get a pack of their own.

    Runs per shard via ``applyInPandas`` (bin packing is inherently
    sequential — there is no SQL form, which is also why this operator
    is rows-only for the oracle harness; its invariants are pinned in
    pytest instead). Deterministic for a given shard's contents
    regardless of partitioning, since the whole shard is one group.
    Shards bound the sequential work; ``shard_col=None`` packs
    globally in ONE task — fine for a curated eval set, a deliberate
    error at corpus scale (shard first)."""
    import bisect

    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")

    out_schema = StructType(
        list(df.schema.fields) + [StructField(pack_id_col, LongType())]
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n_null = int(pdf[token_col].isna().sum())
        if n_null:
            # Arrow hands a nullable long over as float64 + NaN, and
            # astype('int64') below would die with pandas' opaque
            # "cannot convert non-finite values" — fail with the
            # actionable version instead. Silently dropping documents
            # from a PACKING operator is data loss, not grace.
            raise ValueError(
                f"pack_sequences_bestfit: {n_null} rows have null "
                f"{token_col!r}; every document needs a token count — "
                "filter or impute upstream"
            )
        pdf = pdf.sort_values(
            [token_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        rem: list[tuple[int, int]] = []  # sorted (remaining, pack_id)
        next_pid = 0
        pids = []
        for t in pdf[token_col].astype("int64"):
            t = int(t)
            # best fit: smallest remaining >= t
            i = bisect.bisect_left(rem, (t, -1))
            if i < len(rem):
                r, pid = rem.pop(i)
                if r - t > 0:
                    bisect.insort(rem, (r - t, pid))
            else:
                pid = next_pid
                next_pid += 1
                if max_tokens - t > 0:
                    bisect.insort(rem, (max_tokens - t, pid))
            pids.append(pid)
        pdf[pack_id_col] = pd.Series(pids, dtype="int64")
        return pdf

    grouped = df.groupBy(shard_col) if shard_col else df.groupBy()
    return grouped.applyInPandas(pack, out_schema)


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    epoch: int = 0,
    salt: str = "shuffle",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Epoch-deterministic global shuffle, materialized as training
    shards: every row gets a ``(shard, pos)`` — which output shard it
    belongs to and its position within that shard — that is a pure
    function of ``(key, epoch, salt)``. Reading the shards in order
    IS the shuffled epoch: reproducible on any cluster, restartable
    mid-epoch, and a fresh ``epoch`` value is a fresh, decorrelated
    permutation (how LLM trainers reshuffle between epochs without
    ever holding an index in memory).

    Scale shape: the shard assignment is a pure projection
    (``hash_bucket``); the within-shard position is a window
    partitioned BY SHARD — n_shards independent sorts of ~|corpus|/
    n_shards rows each, never a global ORDER BY funnel. Pick n_shards
    so one shard ≈ one output file (the usual 100 TB layout:
    thousands of shards, each a few hundred MB).

    Engine-portable: shard = 60-bit md5 prefix mod n_shards; order
    within a shard is the full md5 hex string (lowercase hex compares
    identically everywhere), key as the tiebreak.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    _guard_internal_cols(df, "__h")
    # the md5 is computed once and feeds BOTH the shard bucket and the
    # within-shard order, so compose _bucket_from_md5 on the shared h
    # rather than calling hash_bucket (which would embed a second md5)
    h = _salted_md5(f"{salt}:{epoch}:", key_col)
    out = df.withColumn(shard_col, F.expr(_bucket_from_md5(h, n_shards)))
    out = out.withColumn("__h", F.expr(h))
    w = Window.partitionBy(shard_col).orderBy(F.col("__h"), F.col(key_col))
    return out.withColumn(pos_col, F.row_number().over(w)).drop("__h")


def temperature_mix_shares(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.5,
    count_col: str | None = None,
) -> DataFrame:
    """Temperature-scaled mixing weights over corpus sources — the
    standard multi-source LM recipe (T5/PaLM-style): sampling share
    ``p_i ∝ n_i^alpha`` with ``alpha < 1`` up-weighting small
    high-quality sources and damping the web-crawl head; ``alpha=1``
    is natural sampling, ``alpha=0`` uniform.

    Returns one row per source: ``n`` (corpus presence, rows or a
    supplied weight column's sum), ``nat_share``, ``temp_share`` and
    ``boost`` (temp/nat — >1 means the source is over-sampled
    relative to its natural frequency). Everything after the single
    count shuffle runs on the collapsed |sources|-row frame; the
    share normalizer rides a 1-row broadcast, so corpus size never
    touches a window.
    """
    if alpha < 0:
        # p_i ∝ n_i^alpha with alpha < 0 would give the SMALLEST
        # source the LARGEST share without bound — never the mixing
        # recipe; alpha=0 (uniform) is the sanctioned extreme
        raise ValueError("alpha must be >= 0")
    n = (
        F.sum(count_col).cast("double")
        if count_col
        else F.count(F.lit(1)).cast("double")
    )
    counts = df.groupBy(source_col).agg(n.alias("n"))
    tot = counts.agg(
        F.sum("n").alias("__tot"),
        F.sum(F.pow(F.col("n"), F.lit(float(alpha)))).alias("__wtot"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        source_col,
        "n",
        (F.col("n") / F.col("__tot")).alias("nat_share"),
        (F.pow(F.col("n"), F.lit(float(alpha))) / F.col("__wtot")).alias(
            "temp_share"
        ),
        (
            F.pow(F.col("n"), F.lit(float(alpha)))
            / F.col("__wtot")
            * F.col("__tot")
            / F.col("n")
        ).alias("boost"),
    )


def sample_balanced_labels(
    df: DataFrame,
    label_col: str = "label",
    key_col: str = "vec_id",
    salt: str = "balance",
) -> DataFrame:
    """Class-balanced exact downsampling: every label keeps exactly
    ``min-class-count`` rows (the data-derived floor), elected by md5
    rank within the label — the deterministic form of the class
    rebalancing an eval-set or fine-tune mix build applies.
    ``sample_exact_k_per_group`` with ``k`` computed FROM the data
    instead of fixed by the caller.

    Scale shape: one |labels|-row count aggregate (map-side combined);
    the global floor is a window over that collapsed frame (the
    linter's collapsed-frame rule applies); the per-label md5 rank is
    the same one-shuffle external sort as ``sample_exact_k_per_group``.
    The count frame broadcasts back — the corpus shuffles once.
    Rank + floor are integers and the md5 order is engine-portable,
    so the selected id set is exact and partition-invariant.

    NULL labels are dropped at entry (module isNotNull convention —
    r11 review): they can never survive the label equi-join anyway,
    but without the filter a null-label class was still COUNTED, so
    it could depress the min-class floor for every real label while
    itself silently vanishing from the output. NULL keys are dropped
    too (r12 module-wide null-key contract, extended here per r12
    ADVICE): md5(salt‖NULL) is NULL, and Spark ranks a NULL hash
    NULLS-FIRST (a winning slot) where DuckDB ranks it NULLS-LAST —
    an engine-divergent selection no deterministic sampler should
    make."""
    df = df.filter(
        F.col(label_col).isNotNull() & F.col(key_col).isNotNull()
    )
    _guard_internal_cols(df, "__rn", "__m")
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("__n"))
    floor = counts.select(
        label_col,
        F.min("__n").over(Window.partitionBy()).alias("__m"),
    )
    c = F.col(key_col)
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    w = Window.partitionBy(label_col).orderBy(h, c)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(floor), label_col)
        .filter(F.col("__rn") <= F.col("__m"))
        .drop("__rn", "__m")
    )


def dsir_logratio_weights(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    k: int = 2,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much more likely its hashed n-gram features are
    under a TARGET distribution (rows where ``target`` is true — e.g.
    the high-quality or in-domain slice) than under the RAW corpus
    distribution. The weight that importance-resamples a web-scale
    crawl toward a target domain without training a classifier.

    Features are distinct word-``k``-grams hashed into ``n_buckets``
    md5 buckets (portable across engines); both distributions are
    add-0.5-smoothed bucket frequencies; a document's weight is the
    MEAN per-feature log-likelihood ratio (mean, not sum, so the
    score is length-normalized). Rounded to 6 decimals — summation
    order + libm log ulp differ across engines, same discipline as
    ``bigram_logprob_scores``.

    Scale shape: the classic fit/score TWO-PASS design — pass one
    shingles the corpus into a ``n_buckets``-row conditional
    aggregate (map-side combined; the only corpus-wide shuffle is by
    bucket id, bounded by n_buckets keys) with totals as a global
    window over that aggregation-collapsed frame; pass two re-scans
    and re-shingles the corpus, broadcasts the ≤ n_buckets log-ratio
    table onto it, and rolls up per doc. Two corpus scans is the
    DELIBERATE trade (r09 review: an earlier docstring claimed "read
    once", which was wrong): the alternative — persisting the
    exploded gram frame between passes — caches something LARGER than
    the input corpus, which loses at 100 TB; re-tokenizing is a map
    stage that costs no shuffle and no storage.
    """
    from idr_data_pipelines_spark.llmdata.dedup import (
        md5_hash32,
        word_shingles,
    )

    grams = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        target.cast("boolean").alias("__tgt"),
        F.explode(F.expr(word_shingles(text_col, k))).alias("__gram"),
    )
    buckets = grams.select(
        F.expr(f"{md5_hash32('__gram')} % {n_buckets}").alias("__b"),
        "__tgt",
        id_col,
    )
    counts = buckets.groupBy("__b").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("__t"),
        F.count(F.lit(1)).alias("__r"),
    )
    # global window over the aggregation-collapsed ≤n_buckets-row
    # frame (the linter's collapsed-frame rule) — totals never touch
    # the corpus-sized side
    wall = Window.partitionBy()
    smooth = F.lit(0.5)
    denom_pad = F.lit(0.5 * n_buckets)
    lr = (
        F.log(
            (F.col("__t") + smooth)
            / (F.sum("__t").over(wall) + denom_pad)
        )
        - F.log(
            (F.col("__r") + smooth)
            / (F.sum("__r").over(wall) + denom_pad)
        )
    )
    ratios = counts.select(F.col("__b").alias("__rb"), lr.alias("__lr"))
    return (
        buckets.join(F.broadcast(ratios), F.col("__b") == F.col("__rb"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.round(F.avg("__lr"), 6).alias("weight_r"),
        )
    )

"""Join operators.

SURVEY.md §2.4: all reference joins are equi-joins — fact⋈dimension
enrichment (with a cast on the key) and one fact⋈fact left merge.

Physical strategy:

- Dimension joins (``join_inner_dim_cast``): the dim (Master Facility
  List analogue) is small → ``F.broadcast`` forces a broadcast-hash
  join, zero shuffle of the fact side. At 100 TB of fact this is the
  difference between a map-side join and a full shuffle.
- Fact⋈fact (``join_left_fact``): sort-merge, AQE-selected; skewed keys
  are split by AQE skew-join handling (enabled in session.py).
- Key-type normalization: the reference casts on the join key per
  query (``ON SiteCode = CAST(MFL_code AS INT)``,
  dags/covid_transforms.py:66). We support that faithfully, but the
  typed-cast ingest stage should normalize key types once so the cast
  disappears from the hot join (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def join_inner_dim_cast(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    cast_fact_key_to: str | None = None,
    broadcast_dim: bool = True,
    how: str = "inner",
) -> DataFrame:
    """Enrichment join against a (small) dimension.

    ``MFL_Codes.SiteCode = CAST(staging.MFL_code AS INT)``
    (dags/covid_transforms.py:56-74, hts:57-78, mmd:190-212).
    """
    left_key = fact[fact_key]
    if cast_fact_key_to:
        left_key = left_key.cast(cast_fact_key_to)
    right = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(right, left_key == dim[dim_key], how)


def join_left_fact(
    left: DataFrame,
    right: DataFrame,
    cond: Column | list[str],
) -> DataFrame:
    """LEFT OUTER fact-to-fact merge (``merge_art_vls``,
    dags/vls_transforms.py:132-155): left cohort keeps all rows."""
    return left.join(right, cond, "left")


def join_semi(
    left: DataFrame,
    right: DataFrame,
    cond: Column | list[str],
) -> DataFrame:
    """EXISTS filter: left rows with ≥1 match on the right, emitted
    once, left columns only (``left_semi``). The build side carries
    only the join keys — far cheaper than inner-join + distinct."""
    return left.join(right, cond, "left_semi")


def join_anti(
    left: DataFrame,
    right: DataFrame,
    cond: Column | list[str],
) -> DataFrame:
    """NOT EXISTS filter: left rows with no match on the right
    (``left_anti``) — the orphan/violation finder."""
    return left.join(right, cond, "left_anti")


def _orderable(dt) -> bool:
    """Whether a type can feed a Spark sort — mirrors the JVM's
    ``RowOrdering.isOrderable`` as an ALLOW-list (r10 review, twice:
    a MapType-only deny-list let VariantType through, and a widened
    deny-list still let CalendarIntervalType through — any list of
    known-bad types re-breaks on the next Spark release; only
    known-GOOD falls safe): atomic and null types are orderable,
    arrays/structs/UDTs recurse, everything else — maps, calendar
    intervals, variants, geo, whatever comes next — is not. Variant
    and geo need an explicit exclusion because PySpark's Python class
    hierarchy makes them AtomicType even though the JVM side refuses
    to sort them."""
    from pyspark.sql import types as T

    deny = tuple(
        t
        for t in (
            getattr(T, name, None)
            for name in ("VariantType", "GeometryType", "GeographyType")
        )
        if t is not None
    )
    if isinstance(dt, deny):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.UserDefinedType):
        return _orderable(dt.sqlType())
    return isinstance(dt, (T.AtomicType, T.NullType))


def _reserve(name: str, op: str, *frames: DataFrame) -> None:
    """Refuse frames that already carry an operator-internal column
    name: withColumn would silently REPLACE the caller's column and
    the internal drop would then delete it (r09/r10 reviews). One
    site for the check and the message, so new internal columns
    can't drift per-operator."""
    if any(name in f.columns for f in frames):
        raise ValueError(f"{op} reserves the column name {name!r}")


def _validate_salted_args(
    skewed: DataFrame, other: DataFrame, n_salts: int, how: str, op: str
) -> None:
    """Shared entry guards for both salted joins — hoisted so
    join_salted_hot_keys rejects bad parameters BEFORE its eager
    hot-key counting job runs over the full skewed side (r10 review:
    'fail at the API boundary' must mean before the first scan)."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"{op} supports how='inner'|'left' — outer joins would "
            "fan out unmatched rows of the replicated side"
        )
    if n_salts < 1:
        # n_salts=0 makes every skewed salt pmod-by-zero (NULL or a
        # DIVIDE_BY_ZERO mid-job under ANSI) while the replication
        # explode emits garbage salts — silently empty/unmatched
        # output instead of a loud API-boundary error (r10 review;
        # same class as join_range's bucket_size guard)
        raise ValueError("n_salts must be >= 1")
    _reserve("__salt", op, skewed, other)


def join_salted(
    skewed: DataFrame,
    other: DataFrame,
    skewed_key: str,
    other_key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the skewed side gets a salt
    ∈ [0, n_salts) from a per-row position id, the other side is
    replicated across every salt, and the join runs on (key, salt) —
    a hot key's rows spread over n_salts partitions instead of
    melting one reducer.

    The salt is per-ROW, not a hash of the row's content (r09
    review): the reference data is duplicate-heavy (every chain opens
    with SELECT DISTINCT), and a content hash gives every exact
    duplicate of a hot key the SAME salt — one reducer still takes
    the whole hot key while the replication cost is paid anyway.
    Row-position salts spread duplicates evenly; any salt value joins
    the same replicated right row, so results are identical to a
    plain equi-join regardless of which salt a row draws.

    Retry determinism (r10, ADVICE r09): a bare
    ``monotonically_increasing_id()`` is nondeterministic under a
    fetch-failure stage retry — a recomputed map task can see its
    input rows in a different order, assign a row a different salt,
    and send it to a different reducer while surviving reducers keep
    the old attempt's output, silently duplicating or dropping rows.
    The fix is the same one Spark itself applies to round-robin
    repartition (``spark.sql.execution.sortBeforeRepartition``): sort
    within partitions on every column BEFORE assigning the position
    id, so the (partition → row → salt) mapping is a pure function of
    the partition's CONTENTS, which hash shuffles and deterministic
    scans reproduce exactly on retry. Duplicates sort adjacent and
    draw consecutive salts, so the even spread is preserved. Two
    caveats: (a) an upstream whose partition contents are themselves
    nondeterministic (e.g. a round-robin repartition without that
    flag, or a sample()) reintroduces the hazard — checkpoint such
    inputs first; (b) non-ORDERABLE columns (maps, and anything
    nesting one) can't participate in the sort, so rows that tie on
    every orderable column but differ in a map payload may still swap
    salts on retry — add any unique key column to the frame to
    restore full determinism. Rows identical on ALL observable
    columns swapping salts is harmless (the multiset of outputs is
    unchanged).

    Use when the non-skewed side is too big to broadcast but small
    enough to replicate n_salts×; otherwise prefer AQE skew-join
    splitting (on by default in session.py), which handles skew without
    replication. Results are identical to a plain equi-join (salt
    columns are internal and dropped). Only ``inner`` and ``left`` are
    supported: a right/full outer join would emit every unmatched
    replicated right row n_salts times.

    Health-facility data is the reference's skew case: a handful of
    large sites dominate (SiteCode keys, SURVEY.md §4).
    """
    _validate_salted_args(skewed, other, n_salts, how, "join_salted")
    sortable = [
        f.name for f in skewed.schema.fields if _orderable(f.dataType)
    ]
    salted = (
        skewed.sortWithinPartitions(*sortable) if sortable else skewed
    ).withColumn(
        "__salt",
        F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast("int"),
    )
    replicated = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted.join(
        replicated,
        (salted[skewed_key] == replicated[other_key])
        & (salted["__salt"] == replicated["__salt"]),
        how,
    )
    return out.drop(salted["__salt"]).drop(replicated["__salt"])


def join_salted_hot_keys(
    skewed: DataFrame,
    other: DataFrame,
    skewed_key: str,
    other_key: str,
    hot_frac: float = 0.01,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Partial salting — the production form of ``join_salted``: only
    the HOT keys (>= ``hot_frac`` of the skewed side's rows, detected
    with one extra counting pass) take the salted path; the long tail
    joins plainly. The two sides must have fully DISJOINT column
    names (checked — not just the keys, r10 review): any shared name
    survives the plain join as a duplicate but makes the final
    ``unionByName`` unresolvable — alias before calling. Uniform salting replicates the entire other side
    ``n_salts``×; here only the hot keys' other-side rows replicate —
    at 100 TB with a handful of mega-keys that is the difference
    between replicating gigabytes and replicating kilobytes.

    The hot-key set is collapsed (≤ 1/hot_frac keys by construction,
    so driver-safe) and broadcast to split both sides; results are
    identical to a plain equi-join. Same outer-join restriction as
    ``join_salted`` and for the same reason. For a pre-known hot set,
    skip the counting pass and call the two paths yourself; for
    fully-automatic handling AQE's skew split needs no replication at
    all — this operator is for when AQE's post-shuffle split is not
    enough (e.g. the downstream aggregation itself keys on the hot
    column).
    """
    _validate_salted_args(
        skewed, other, n_salts, how, "join_salted_hot_keys"
    )
    if skewed_key == other_key:
        raise ValueError(
            "join_salted_hot_keys: skewed_key and other_key must have "
            f"distinct names (both {skewed_key!r}); alias one side "
            "first, e.g. other.withColumnRenamed(k, k + '_r')"
        )
    if not 0.0 < hot_frac <= 1.0:
        # hot_frac<=0 classifies EVERY key as hot, voiding the
        # '<= 1/hot_frac keys, driver-safe' bound that justifies the
        # checkpoint+broadcast below — at scale that is a broadcast of
        # the full distinct-key set (r10 review)
        raise ValueError("hot_frac must be in (0, 1]")
    shared = sorted(set(skewed.columns) & set(other.columns))
    if shared:
        # the plain equi-join tolerates duplicate column names, but
        # the final unionByName cannot resolve them — fail loudly at
        # the API boundary instead of as a late AnalysisException
        # (r10 review)
        raise ValueError(
            "join_salted_hot_keys requires disjoint column names on "
            f"the two sides (shared: {shared}); rename before calling"
        )
    hot = (
        skewed.groupBy(skewed_key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .crossJoin(
            F.broadcast(
                skewed.select(F.count(F.lit(1)).alias("__total"))
            )
        )
        .filter(F.col("__n") >= F.col("__total") * hot_frac)
        .select(F.col(skewed_key).alias("__hot_key"))
        # tiny (<= 1/hot_frac keys); reused by four branches.
        # localCheckpoint keeps the set executor-side with truncated
        # lineage — losing the holding executor mid-job forfeits the
        # checkpoint (no lineage to replay), a deliberate trade vs
        # collecting arbitrary key types through the driver; on
        # preemptible clusters collect the hot set yourself and pass
        # the two paths explicitly (see docstring)
        .localCheckpoint(eager=True)
    )
    hot_b = F.broadcast(hot)

    s_hot = skewed.join(
        hot_b, skewed[skewed_key] == hot["__hot_key"], "left_semi"
    )
    s_cold = skewed.join(
        hot_b, skewed[skewed_key] == hot["__hot_key"], "left_anti"
    )
    o_hot = other.join(
        hot_b, other[other_key] == hot["__hot_key"], "left_semi"
    )
    o_cold = other.join(
        hot_b, other[other_key] == hot["__hot_key"], "left_anti"
    )

    cold = s_cold.join(o_cold, s_cold[skewed_key] == o_cold[other_key], how)
    hot_joined = join_salted(s_hot, o_hot, skewed_key, other_key, n_salts, how)
    return cold.unionByName(hot_joined)


def join_asof(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    n_buckets: int = 256,
) -> DataFrame:
    """As-of join: enrich each left row with ``right_cols`` from the
    temporally closest right row of the same key (``backward`` = most
    recent right row with right_ts <= left_ts, inclusive; ``forward``
    = earliest with right_ts >= left_ts). Unmatched left rows keep
    nulls (left-join semantics). ``tolerance_seconds`` bounds the
    match window (pandas merge_asof tolerance): a boundary row farther
    than the tolerance from the left timestamp is treated as no
    match — the usual guard against enriching from a stale dimension
    row hours old.

    Spark has no native as-of join, and expressing it as a range join
    + argmax explodes (every left row matches every earlier right
    row before the aggregate prunes them). Instead: co-partition both
    sides by a HASH BUCKET of the key (``pmod(xxhash64(key),
    n_buckets)``; the right key is cast to the left key's type first
    so equal values hash identically) and run ONE vectorized pandas
    ``merge_asof(by=key)`` per bucket. Cogrouping by the raw key (the
    pre-r10 form) called pandas once per DISTINCT key — ~15k
    interpreter round-trips at sf0.1, 24 s of pure call overhead for
    a ~2 s join; bucketing cuts the call count to ``n_buckets`` while
    ``by=`` keeps the per-key matching exact. State per task is one
    bucket's rows (~corpus/n_buckets): size ``n_buckets`` to at least
    the cluster's parallelism, and raise it (or salt with a coarse
    time bucket) if a bucket's history outgrows a task.

    Tie semantics: among right rows sharing the boundary timestamp
    within a key, pandas keeps the last after a stable sort — callers
    needing engine-portable results should either ensure (key, ts) is
    unique on the right or project only tie-invariant columns (e.g.
    the timestamp itself).

    Null handling: a left row with null ``left_ts`` OR null
    ``left_key`` is emitted unmatched (SQL equality semantics — null
    keys join nothing, matching DuckDB's ASOF JOIN; the pre-r10
    per-key cogroup quietly matched null to null, which no SQL replay
    agrees with), and right rows with null key or null ``right_ts``
    are excluded from matching. (``merge_asof`` itself REJECTS null
    merge keys — r09 review — so these also must never reach it.)
    """
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    clash = [c for c in right_cols if c in left.columns]
    if clash:
        # pandas would silently emit the LEFT values under the right
        # column's name — refuse instead of corrupting (r09 review)
        raise ValueError(
            f"right_cols {clash} collide with left columns; rename on "
            "one side before the as-of join"
        )
    _reserve("__b", "join_asof", left, right)
    rsel_cols = [right_key, right_ts] + [
        c for c in right_cols if c not in (right_key, right_ts)
    ]
    # cast the right key to the left key's type: xxhash64 hashes by
    # type, so bucket alignment of equal values REQUIRES equal types
    # (and merge_asof's by= needs equal dtypes anyway)
    key_type = left.schema[left_key].dataType
    rsel = right.select(*rsel_cols).withColumn(
        right_key, F.col(right_key).cast(key_type)
    )
    out_names = list(left.columns) + list(right_cols)
    rfields = {f.name: f for f in rsel.schema.fields}
    schema = StructType(
        list(left.schema.fields)
        + [StructField(c, rfields[c].dataType, True) for c in right_cols]
    )
    rkey = f"__r_{right_key}"
    rts = f"__r_{right_ts}"

    def merge(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        l_pdf = l_pdf.drop(columns=["__b"])
        if l_pdf.empty:
            return pd.DataFrame(columns=out_names)

        def unmatched(rows: pd.DataFrame) -> pd.DataFrame:
            out = rows.copy()
            for c in right_cols:
                out[c] = None
            return out[out_names]

        no_pos = l_pdf[left_ts].isna() | l_pdf[left_key].isna()
        l_null, l_pdf = l_pdf[no_pos], l_pdf[~no_pos]
        # prefix-rename the right side so merge_asof never collapses
        # equal-named on-keys into one column (the old suffixes=("",
        # "__r") form raised KeyError whenever right_ts == left_ts and
        # right_ts was projected — r09 review)
        r_pdf = r_pdf.drop(columns=["__b"]).rename(
            columns={c: f"__r_{c}" for c in r_pdf.columns}
        )
        r_pdf = r_pdf[r_pdf[rts].notna() & r_pdf[rkey].notna()]
        parts = []
        if len(l_pdf):
            if r_pdf.empty:
                parts.append(
                    unmatched(l_pdf.sort_values(left_ts, kind="mergesort"))
                )
            else:
                l_sorted = l_pdf.sort_values(left_ts, kind="mergesort")
                r_sorted = r_pdf.sort_values(rts, kind="mergesort")
                # merge_asof needs identical temporal dtypes on both
                # on-keys and identical dtypes on the by-keys
                l_sorted = l_sorted.assign(
                    **{left_ts: l_sorted[left_ts].astype("datetime64[us]")}
                )
                r_sorted = r_sorted.assign(
                    **{
                        rts: r_sorted[rts].astype("datetime64[us]"),
                        rkey: r_sorted[rkey].astype(
                            l_sorted[left_key].dtype, copy=False
                        ),
                    }
                )
                merged = pd.merge_asof(
                    l_sorted,
                    r_sorted,
                    left_on=left_ts,
                    right_on=rts,
                    left_by=left_key,
                    right_by=rkey,
                    direction=direction,
                    tolerance=(
                        None
                        if tolerance_seconds is None
                        else pd.Timedelta(seconds=tolerance_seconds)
                    ),
                )
                for c in right_cols:
                    merged[c] = merged[f"__r_{c}"]
                parts.append(merged[out_names])
        if len(l_null):
            parts.append(unmatched(l_null))
        return pd.concat(parts, ignore_index=True)

    bucket = lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(n_buckets))  # noqa: E731
    return (
        left.withColumn("__b", bucket(left_key))
        .groupBy("__b")
        .cogroup(rsel.withColumn("__b", bucket(right_key)).groupBy("__b"))
        .applyInPandas(merge, schema)
    )


def join_range(
    fact: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bucket_size: float,
    broadcast_bands: bool = True,
) -> DataFrame:
    """Range join (fact.value ∈ [band.lo, band.hi)) via bucketing.

    A naive range join has no equi-condition, so Spark falls back to
    broadcast-nested-loop — O(|fact|·|bands|) comparisons, hopeless at
    100 TB. Bucketing restores an equi-key: each band row is exploded
    to every ``bucket_size``-wide bucket its interval overlaps, each
    fact row computes its single bucket, the join runs hash-equi on
    the bucket, and the original interval predicate remains as a
    residual filter. Comparisons drop to |fact| × (avg bands per
    bucket). Pick ``bucket_size`` near the typical band width — the
    same tuning knob as Databricks' range-join bin size hint.

    Bands overlapping several buckets appear once per bucket; the
    residual keeps results exact, and a fact row joins its bucket
    exactly once, so no dedup is needed. Inner join only.
    """
    if not bucket_size > 0:
        # bucket_size=0 divides by zero: null buckets on both sides,
        # an empty sequence() explode, and a silently EMPTY result
        # under non-ANSI Spark (r09 review)
        raise ValueError("bucket_size must be > 0")
    _reserve("__bucket", "join_range", fact, bands)
    fb = fact.withColumn(
        "__bucket", F.floor(F.col(value_col) / F.lit(bucket_size)).cast("long")
    )
    bb = bands.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_size)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bucket_size)).cast("long"),
            )
        ),
    )
    if broadcast_bands:
        bb = F.broadcast(bb)
    out = fb.join(
        bb,
        # frame-qualified residual (r10 review: bare F.col() turns
        # AMBIGUOUS_REFERENCE whenever the two frames share one of
        # these names, e.g. a leftover 'lo' on the fact side)
        (fb["__bucket"] == bb["__bucket"])
        & (fb[value_col] >= bb[lo_col])
        & (fb[value_col] < bb[hi_col]),
    )
    return out.drop(fb["__bucket"]).drop(bb["__bucket"])


def join_fuzzy_blocked(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    block_fn,
    max_distance: int,
    dist_col: str = "dist",
) -> DataFrame:
    """Approximate string join: pairs whose Levenshtein distance is at
    most ``max_distance``, with candidate generation by a blocking key.

    ``block_fn(col) -> Column`` maps each string to a block (first
    token, soundex, length bucket, a q-gram LSH band...); only pairs
    sharing a block are compared. This is the standard entity-
    resolution shape and the only one that scales: the edit-distance
    filter runs inside equi-join buckets (one shuffle on the block
    key), never over the cross product. Recall is bounded by the
    blocking choice — e.g. first-token blocking misses pairs that
    differ in token 1; pick the block to match the error model.

    The distance column uses Spark's bounded Levenshtein
    (``levenshtein(l, r, threshold)``), which early-exits the DP once
    the bound is exceeded (returns -1) — O(d·min(m,n)) instead of
    O(m·n) per pair, a real constant-factor win inside large blocks.
    """
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    if left_col == right_col:
        # with equal names the post-join distance expression is an
        # AMBIGUOUS_REFERENCE AnalysisException — and would compare a
        # column to itself even if it resolved (r09 review; same
        # precondition join_salted_hot_keys validates)
        raise ValueError(
            "left_col and right_col must be distinct column names — "
            "alias one side before the fuzzy join"
        )
    if left_col in right.columns or right_col in left.columns:
        # the bare-name distance expression would go ambiguous, or —
        # worse — resolve both refs to the SAME side (r10 review)
        raise ValueError(
            "the compare columns must each exist on exactly one side "
            f"({left_col!r} also on right or {right_col!r} also on left)"
        )
    _reserve("__blk", "join_fuzzy_blocked", left, right)
    if dist_col in left.columns or dist_col in right.columns:
        # withColumn would silently replace the caller's column
        raise ValueError(
            f"dist_col {dist_col!r} collides with an input column; "
            "pass a fresh name"
        )
    l = left.withColumn("__blk", block_fn(F.col(left_col)))
    r = right.withColumn("__blk", block_fn(F.col(right_col)))
    d = F.levenshtein(F.col(left_col), F.col(right_col), max_distance)
    return (
        l.join(r, "__blk")
        .drop("__blk")
        .withColumn(dist_col, d)
        .filter((F.col(dist_col) >= 0) & (F.col(dist_col) <= max_distance))
    )


def join_bloom_prefilter(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_bits: int = 1 << 22,
    n_hashes: int = 3,
) -> DataFrame:
    """Inner equi-join with a Bloom-filter prune of the fact side —
    the shape for a SELECTIVE join whose build side is too large to
    broadcast as rows but whose key SET fits a bitmap: without it,
    a sort-merge join shuffles the full fact table only to drop most
    of it at the join; with it, non-matching fact rows die in the map
    stage before their shuffle (at 100 TB that is the shuffle). The
    bitmap has no false negatives, so the join result is IDENTICAL to
    the plain inner join — the hand-rolled, engine-portable form of
    Spark's runtime row-level bloom filtering, usable where that
    doesn't trigger (non-AQE plans, externally-built key sets, or a
    reusable filter across many queries).

    The probe is one Arrow-batched vectorized Python stage (bitmap
    membership has no built-in); the exact join then verifies the
    survivors, exactly as in decontaminate_bloom.

    Both keys must have the SAME data type: the bitmap hashes the
    string form of each value, and an implicit-cast join (bigint 5 vs
    double 5.0 → "5" vs "5.0") would silently hash matching keys to
    different bits — a false NEGATIVE, breaking the identical-result
    contract. Cast one side explicitly before calling."""
    from idr_data_pipelines_spark.llmdata.decontaminate import (
        bloom_bitmap,
        bloom_positions,
        make_bloom_probe,
    )

    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    ft = fact.schema[fact_key].dataType
    dt = dim.schema[dim_key].dataType
    integral = (ByteType, ShortType, IntegerType, LongType)
    # integral widenings are safe: int 5 and bigint 5 both stringify
    # to '5', so the bitmap stays false-negative-free; everything else
    # (bigint vs double -> '5' vs '5.0') must be cast explicitly
    if ft != dt and not (isinstance(ft, integral) and isinstance(dt, integral)):
        raise ValueError(
            f"join_bloom_prefilter keys must share a type (or both be "
            f"integral); got {fact_key}:{ft.simpleString()} vs "
            f"{dim_key}:{dt.simpleString()} — cast one side explicitly "
            "(string-hashed bitmaps cannot replay an implicit-cast "
            "join without false negatives)"
        )
    keys = dim.select(F.col(dim_key).cast("string").alias("ngram")).distinct()
    bm = bloom_bitmap(keys, "ngram", n_bits, n_hashes)
    bbm = fact.sparkSession.sparkContext.broadcast(bm)
    might_match = make_bloom_probe(bbm)

    pruned = fact.filter(
        might_match(
            bloom_positions(F.col(fact_key).cast("string"), n_bits, n_hashes)
        )
    )
    return pruned.join(dim, pruned[fact_key] == dim[dim_key])

"""Count-min sketch: sublinear frequency estimation over a key column.

The streaming/approximate counterpart to an exact ``groupBy(key)
.count()`` — the sketch is a ``depth × width`` counter matrix whose
size is independent of both row count and key cardinality. Point
queries overestimate only: ``est(k) = min_d M[d][h_d(k)]`` is ≥ the
true count always, and ≤ true + ε·N with probability 1−δ for
``width = ⌈e/ε⌉``, ``depth = ⌈ln 1/δ⌉`` (Cormode & Muthukrishnan 2005).

100 TB design: the build is a single ``groupBy`` over exploded
(row → depth (d, bucket) probes). Partial (map-side) aggregation
collapses every partition to at most ``depth·width`` rows before the
shuffle, so shuffle volume is O(partitions · depth · width) — constant
in data size. Estimation broadcasts the finished sketch (≤ depth·width
rows) — no second shuffle of the keys. The hash family is seeded
``xxhash64`` (the seed argument *is* the row index d), deterministic
across runs and engines that share xxhash64.

Complements the built-in sketches already surfaced in queries.py
(``approx_count_distinct`` = HyperLogLog++, ``percentile_approx`` =
KLL): HLL answers "how many distinct", count-min answers "how often
does each" without materializing the key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket(key: F.Column, d: int, width: int) -> F.Column:
    """Row-d hash bucket: seeded xxhash64 mod width (pmod: non-negative)."""
    return F.pmod(F.xxhash64(key, F.lit(d)), F.lit(width))


def _bucket_md5(key: F.Column, d: int, width: int) -> F.Column:
    """ENGINE-PORTABLE row-d bucket: hex chars [8d+1, 8d+8] of
    md5(string(key)) parsed as a 32-bit integer, mod width. md5 bytes
    are identical in every engine and the rest is exact integer
    arithmetic, so a SQL oracle reproduces every bucket — which makes
    the whole count-min sketch (integer counters, min over rows)
    value-hash verifiable. One md5 yields 4 independent 32-bit rows
    (d ≤ 3); xxhash64 (``_bucket``) stays the production default —
    cheaper per key and unlimited depth."""
    if d > 3:
        raise ValueError("md5 bucket supports depth <= 4 (32 hex chars)")
    hx = F.md5(key.cast("string").cast("binary"))
    return F.pmod(
        F.conv(F.substring(hx, 8 * d + 1, 8), 16, 10).cast("long"),
        F.lit(width),
    )


def _bucket_fn(hash_fn: str):
    if hash_fn == "xxhash64":
        return _bucket
    if hash_fn == "md5":
        return _bucket_md5
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def count_min_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Build the sketch: (d, bucket, cnt), at most depth·width rows.

    Nulls are skipped (a null key has no frequency), matching
    ``groupBy(key).count()`` semantics under a not-null filter.
    """
    if depth < 1 or width < 1:
        # width=0 nulls every bucket (pmod(x,0) is NULL, not an
        # error) and depth=0 explodes an empty probe array — both
        # would surface as silently-empty/null estimates downstream
        raise ValueError("depth and width must be >= 1")
    key = F.col(key_col)
    bucket = _bucket_fn(hash_fn)
    probes = df.filter(key.isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        bucket(key, d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("p")
    )
    return probes.groupBy(
        F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def count_min_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Point-query the sketch: (key_col, est_count), one row per
    DISTINCT key in ``keys`` (the final min-over-rows groupBy
    collapses duplicates — r09 review clarified the contract; pass a
    pre-distinct frame or join the result back if per-row alignment
    matters). ``depth``/``width`` must match the build.

    The sketch side is broadcast (≤ depth·width rows); an empty bucket
    never seen at build time counts as 0 (left join + coalesce), so
    ``min`` over rows stays an upper bound on the true frequency.
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    key = F.col(key_col)
    bucket = _bucket_fn(hash_fn)
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        bucket(key, d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("p"),
    ).select(key_col, "p.d", "p.bucket")
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy(key_col)
        .agg(F.min("cnt").alias("est_count"))
    )


def count_min_topk(
    df: DataFrame,
    key_col: str,
    k: int = 20,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Heavy hitters by estimated frequency: (key, est_count) top-k,
    ties broken by key for determinism.

    Candidate keys are the distinct keys present (exact top-k over the
    estimates); in a true streaming setting the candidate set would be
    a bounded heap maintained alongside the sketch — here distinct-keys
    keeps the operator a pure DataFrame composition.
    """
    sketch = count_min_build(df, key_col, depth, width)
    keys = df.select(key_col).filter(F.col(key_col).isNotNull()).distinct()
    est = count_min_estimate(sketch, keys, key_col, depth, width)
    return est.orderBy(F.desc("est_count"), F.asc(key_col)).limit(k)


def _mg_add(counters: dict, key, w: int, m: int) -> None:
    """Fold one weighted item into a Misra-Gries summary of ≤ m-1
    entries: add, then if over capacity subtract the smallest count
    that evicts enough entries (the batched form of MG's decrement-all
    step; total subtracted weight stays ≤ N/m overall)."""
    counters[key] = counters.get(key, 0) + w
    if len(counters) > m - 1:
        cnts = sorted(counters.values())
        d = cnts[len(counters) - (m - 1) - 1]
        for k2 in list(counters):
            c = counters[k2] - d
            if c > 0:
                counters[k2] = c
            else:
                del counters[k2]


def misra_gries_topk(
    df: DataFrame,
    key_col: str,
    m: int = 64,
    k: int = 20,
) -> DataFrame:
    """Bounded-state heavy hitters (Misra-Gries 1982, mergeable form of
    Agarwal et al. 2012): (key, est_count) for the top-k summary
    entries, ``est_count`` an UNDER-estimate with
    ``true − N/m ≤ est ≤ true``, so every key with true frequency
    > N/m is guaranteed present. State is ≤ m−1 counters per partition
    — independent of both stream length and key cardinality, the
    bounded-memory alternative to ``topk_stream_drain``'s exact
    key-cardinality state (streaming/events.py).

    100 TB design: pass 1 folds each partition into an m−1-entry
    summary (mapInPandas, one sequential scan, no shuffle); pass 2
    merges the ≤ partitions·(m−1) summary rows — a few KB regardless of
    input size — by key-sum plus one final MG reduction on a single
    task. Summaries are fold-order-deterministic, so reruns on the same
    file layout reproduce bit-identical estimates.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(key_col, df.schema[key_col].dataType),
            StructField("est_count", LongType()),
        ]
    )

    def partition_mg(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf[key_col].dropna().value_counts(sort=False)
            # sort for fold-order determinism across equal-content runs
            for key in sorted(vc.index.tolist()):
                _mg_add(counters, key, int(vc[key]), m)
        yield pd.DataFrame(
            {key_col: list(counters.keys()), "est_count": list(counters.values())}
        )

    def merge_mg(batches):
        counters: dict = {}
        parts = list(batches)
        if not parts:
            # empty input: the merge task's batch iterator yields ZERO
            # pandas frames and pd.concat([]) raises — return the
            # empty sketch instead of crashing the job (r09 review)
            yield pd.DataFrame({key_col: [], "est_count": []})
            return
        rows = pd.concat(parts, ignore_index=True)
        if len(rows):
            summed = rows.groupby(key_col, sort=True)["est_count"].sum()
            for key in summed.index.tolist():
                _mg_add(counters, key, int(summed[key]), m)
        yield pd.DataFrame(
            {key_col: list(counters.keys()), "est_count": list(counters.values())}
        )

    partials = df.select(key_col).mapInPandas(partition_mg, out_schema)
    merged = partials.repartition(1).mapInPandas(merge_mg, out_schema)
    return merged.orderBy(F.desc("est_count"), F.asc(key_col)).limit(k)


# ------------------------------------------------- portable HLL (md5)

def hll_md5_registers(
    df: DataFrame,
    key_col: str,
    group_col: str | None = None,
    b: int = 6,
    union_label: str = "__union__",
    with_union: bool = True,
) -> DataFrame:
    """HyperLogLog REGISTERS with the engine-portable md5-32 hash —
    (group, bucket, register) integer rows, one per non-empty bucket,
    plus (when grouped) a ``union_label`` group whose registers are
    the bucket-wise max over all groups (HLL's mergeability, made
    visible).

    DataSketches/Spark-native HLL bytes are engine-specific, which is
    why ``sketch_approx_distinct``/``sketch_hll_union`` verify through
    invariant summaries (r11) rather than sketch-byte replay.
    This variant exposes the algorithm's actual state instead: with
    hash = first 32 bits of md5(key), bucket = the top ``b`` bits and
    rho = leading-zero count of the remaining ``32-b`` bits + 1
    (computed as ``(32-b) - length(bin(rem)) + 1`` — ``bin`` emits
    minimal binary in Spark and DuckDB alike — with the rem=0 case
    pinned to ``32-b+1``), every register is exact integer arithmetic
    a SQL oracle replays, so the full HLL pipeline — hash, bucket
    split, rho, register max, union merge — is value-hash checkable.
    The float cardinality estimate stays derived (alpha·m²/Σ2^-reg;
    accuracy pinned in pytest): registers, not estimates, are the
    portable contract. No distinct() pass is needed — MAX is
    idempotent, duplicates cannot move a register.

    100 TB shape: one groupBy((group), bucket) with map-side partial
    MAX — shuffle volume is O(partitions · groups · 2^b) regardless of
    row count; the register table (groups · 2^b rows) is the sketch.
    """
    from idr_data_pipelines_spark.functions import sql_name
    from idr_data_pipelines_spark.llmdata.dedup import md5_hash32

    if not 1 <= b <= 26:
        # b=0 is one bucket (no sketch), b>26 leaves < 6 bits of rho
        # resolution and a >64M-row register table per group — both
        # outside HLL's operating envelope; fail at build, not after
        # a corpus-sized aggregation
        raise ValueError("b must be in [1, 26]")
    rem_bits = 32 - b
    h = F.expr(md5_hash32(f"CAST({sql_name(key_col)} AS STRING)"))
    bucket = (h / F.lit(1 << rem_bits)).cast("long")  # top b bits
    rem = h % F.lit(1 << rem_bits)
    rho = F.when(rem == 0, F.lit(rem_bits + 1)).otherwise(
        F.lit(rem_bits) - F.length(F.bin(rem)) + 1
    ).cast("long")
    grp = (
        F.col(group_col).cast("string") if group_col else F.lit("__all__")
    ).alias("grp")
    base = (
        df.filter(F.col(key_col).isNotNull())
        .select(grp, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("register"))
    )
    if group_col is None or not with_union:
        return base
    union = (
        base.groupBy("bucket")
        .agg(F.max("register").alias("register"))
        .select(F.lit(union_label).alias("grp"), "bucket", "register")
    )
    return base.unionByName(union)


def hll_estimate_from_registers(registers: dict[int, int], b: int = 6) -> float:
    """Driver-side HLL cardinality estimate from a {bucket: register}
    dict (missing buckets are empty). Flajolet et al. 2007 with the
    small-range linear-counting correction; used by tests to pin
    accuracy — the portable contract is the registers themselves."""
    import math

    m = 1 << b
    alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    s = sum(2.0 ** -registers.get(j, 0) for j in range(m))
    est = alpha * m * m / s
    zeros = sum(1 for j in range(m) if registers.get(j, 0) == 0)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est

"""Embedding similarity search over an ``array<float>`` column.

Two plans:

- ``cosine_topk_bruteforce`` — exact: query×corpus equi-free join with
  the small query side broadcast, dot products as array expressions
  (JVM-side ``zip_with`` + ``aggregate`` fold — no Python), window
  top-k. The right baseline whenever |queries| is small; scales
  linearly in corpus size with zero shuffle of the corpus (broadcast
  join + per-partition top-k via AQE/window on query id).
- ``cosine_topk_lsh`` — approximate: random-hyperplane (sign) LSH.
  Signatures are a projection; candidates come from an equi-join on
  (table, bucket); exact cosine re-ranks candidates. This is the
  100 TB path: the corpus is bucketed once (can be written bucketed-by
  signature), each query probes its own bucket — no full scan per
  query.

``embedding_near_dup_pairs`` is the semantic-dedup variant: all pairs
above a cosine threshold, blocked by LSH bucket.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


# Catalyst evaluates higher-order array folds INTERPRETED (HOF lambdas
# never enter whole-stage codegen), so at 100 TB every per-PAIR cosine
# pays interpreted eval per candidate pair. For the one dimension the
# embedding tables actually carry, the fold unrolls into a literal
# multiply-add chain that codegen compiles — measured 1.5× per-row
# throughput at 4M pairs (interleaved noop A/B, every pass faster),
# a wash at bench pair counts (overhead-bound). 64 terms is far below
# the janino 64 KB method limit that killed the 16×64-terms-in-one-
# projection unroll (r14, rejected); ``dot_ref`` emits ONE dot per
# expression. The chain reproduces the fold's exact IEEE order —
# 0.0D seed then left-associated adds — and a size() guard falls back
# to the identical interpreted fold for any other dimension, so
# results are bit-identical in all cases (pinned by the dot/norm fold
# test in tests/test_llmdata.py).
#
# Scope (r15, measured): only the per-PAIR dot sites unroll — the
# quadratic term. Per-ROW norms stay folded: unrolling them too was
# measured (interleaved, 5 rounds) as +0.1–0.2 s of plan/build
# overhead per affected bench query for a linear-term payoff.
_UNROLL_DIM = 64


def _fold_dot_ref_sql(a_ref: str, b_ref: str) -> str:
    """SQL text of ``dot`` over two column references."""
    return (
        f"aggregate(zip_with({a_ref}, {b_ref}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def dot_ref(a_ref: str, b_ref: str, dim: int = _UNROLL_DIM) -> Column:
    """``dot`` over SQL column references with the fixed common
    dimension unrolled for codegen; other dims take the identical
    interpreted fold (bit-identical either way)."""
    terms = " + ".join(
        f"element_at({a_ref}, {i}) * element_at({b_ref}, {i})"
        for i in range(1, dim + 1)
    )
    return F.expr(
        f"CASE WHEN size({a_ref}) = {dim} AND size({b_ref}) = {dim} "
        f"THEN 0.0D + {terms} "
        f"ELSE {_fold_dot_ref_sql(a_ref, b_ref)} END"
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rank), self-matches
    excluded, ties broken by neighbor id for determinism.
    """
    # Norms are per-vector, not per-pair: compute once on each side
    # (the query side is |Q| rows, the corpus side one extra column on
    # the scan). cosine = dot/(nq*nc) — identical float values to
    # recomputing norms inside the pair, 3× fewer interpreted
    # array-fold evaluations per pair.
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    ).withColumn("cnrm", norm(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    ).withColumn("qnrm", norm(F.col("qvec")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            dot_ref("qvec", "cvec") / (F.col("qnrm") * F.col("cnrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = sign(plane_i · vec)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(dot(vec, plane_col) > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def _lsh_bucket_table(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    seed: int,
) -> DataFrame:
    """(id, __vec array<double>, bucket long) — sign-LSH buckets via a
    per-batch matmul in mapInPandas. Sign convention matches
    ``lsh_bucket`` (bit i set iff plane_i · v > 0).

    The hyperplane matrix is generated *inside* the worker from
    (n_planes, seed, dim) the first time a batch reveals the embedding
    dimension — deterministic (seeded RandomState), identical across
    workers and across the corpus/query sides, and requiring no
    driver-side ``.first()`` action to sniff the dim (an extra Spark
    job per invocation and a crash on empty input)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    weights = (1 << np.arange(n_planes)).astype(np.int64)
    planes_by_dim: dict[int, "np.ndarray"] = {}

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__vec"]])
            dim = V.shape[1]
            P = planes_by_dim.get(dim)
            if P is None:                              # (n_planes, dim)
                P = planes_by_dim.setdefault(
                    dim, np.asarray(_hyperplanes(dim, n_planes, seed))
                )
            bits = (V @ P.T) > 0                       # (rows, n_planes)
            buckets = (bits.astype(np.int64) * weights[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"], "__vec": list(V), "bucket": buckets}
            )

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("__vec", ArrayType(DoubleType())),
            StructField("bucket", LongType()),
        ]
    )
    # null embeddings can't be bucketed/assigned and would crash the
    # numpy batch (np.stack over a batch containing None — r09 review,
    # verified live); exclude them, matching the minhash family's
    # null-signature filter and covariance_scaled's existing guard
    prepped = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("__vec")
    )
    return prepped.mapInPandas(assign, schema)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket,
    re-ranked by exact cosine. Recall rises as n_planes falls (bigger
    buckets); 8 planes → 256 buckets. At scale, persist the corpus
    bucketed by this id (``.write.bucketBy``) so probes are
    partition-pruned instead of joined."""
    # bucket = packed sign bits of V @ planesᵀ — computed as one
    # BLAS matmul per Arrow batch (mapInPandas), not n_planes
    # interpreted array folds per row; at corpus scale this is the
    # difference between a vectorized projection and ~50× slower
    # interpreted expression evaluation. Hyperplanes are generated
    # lazily in-worker from (n_planes, seed, dim) — no driver action.
    c = _lsh_bucket_table(corpus, id_col, vec_col, n_planes, seed).select(
        F.col("id").alias("neighbor_id"),
        F.col("__vec").alias("cvec"),
        "bucket",
    ).withColumn("cnrm", norm(F.col("cvec")))
    q = _lsh_bucket_table(queries, id_col, vec_col, n_planes, seed).select(
        F.col("id").alias("query_id"),
        F.col("__vec").alias("qvec"),
        "bucket",
    ).withColumn("qnrm", norm(F.col("qvec")))
    scored = (
        c.join(F.broadcast(q), (c.bucket == q.bucket) & (F.col("query_id") != F.col("neighbor_id")))
        .withColumn(
            "cosine",
            dot_ref("qvec", "cvec") / (F.col("qnrm") * F.col("cnrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def signed_projection_signs(
    dim: int, n_planes: int, seed: int = 42
) -> list[list[int]]:
    """Deterministic ±1 sign matrix for integer-exact sign-LSH
    (Achlioptas-style sparse/sign random projections preserve the
    random-hyperplane LSH guarantee — signs are a valid hyperplane
    distribution)."""
    rng = np.random.RandomState(seed)
    return (rng.randint(0, 2, size=(n_planes, dim)) * 2 - 1).tolist()


def int_lsh_bucket(
    vec: Column, signs: list[list[int]], scale: int = 1_000_000
) -> Column:
    """ENGINE-PORTABLE sign-LSH bucket: bit p = [Σ_i s_pi ·
    floor(v_i·scale) > 0] with s ∈ {±1}. Every step — double cast,
    multiply by a power-of-ten literal, floor, bigint sum — is exact
    and order-independent, so ANY SQL engine reproduces the bucket
    bit-for-bit (floor, unlike round, has no half-way tie semantics to
    disagree on, and integer addition has no float summation-order
    sensitivity). This is what makes an approximate-ANN query
    value-hash oracle-able: the float-matmul form
    (``_lsh_bucket_table``) is the high-dim BLAS scale path, this is
    the low-dim fully-JVM form whose buckets an oracle can replay.
    Pure column expression — whole-stage codegen, no Python."""
    from idr_data_pipelines_spark.llmdata.dedup import _let

    q = F.transform(
        _as_double(vec),
        lambda x: F.floor(x * F.lit(float(scale))).cast("long"),
    )

    # bind the quantized vector once: unbound, projection collapsing
    # inlines the cast+scale+floor transform into every plane's fold
    # (n_planes re-quantizations per row — the r13 word_shingles lens)
    def _pack(qv: Column) -> Column:
        bucket = F.lit(0).cast("long")
        for p, row in enumerate(signs):
            sarr = F.array(*[F.lit(int(s)).cast("long") for s in row])
            proj = F.aggregate(
                F.zip_with(sarr, qv, lambda s, x: s * x),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )
            bucket = bucket + (proj > 0).cast("long") * F.lit(1 << p).cast("long")
        return bucket

    return _let(q, _pack)


def _int_lsh_bucket_table(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    seed: int,
    scale: int,
) -> DataFrame:
    """(id, __vec array<double>, bucket long) with ``int_lsh_bucket``
    semantics, computed as one int64 matmul per Arrow batch: integer
    matmul is EXACT and summation-order-independent, so the buckets
    are bit-identical to the pure-JVM fold expression (pinned in
    tests) and to any SQL oracle — while running ~vectorized instead
    of as 6 interpreted 64-element folds per row (measured ~3.5×
    slower end-to-end on the bench query). Same lazy in-worker sign
    matrix pattern as ``_lsh_bucket_table``."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    weights = (1 << np.arange(n_planes)).astype(np.int64)
    signs_by_dim: dict[int, "np.ndarray"] = {}

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__vec"]])
            dim = V.shape[1]
            S = signs_by_dim.get(dim)
            if S is None:                              # (n_planes, dim)
                S = signs_by_dim.setdefault(
                    dim,
                    np.asarray(
                        signed_projection_signs(dim, n_planes, seed),
                        dtype=np.int64,
                    ),
                )
            Q = np.floor(V * float(scale)).astype(np.int64)  # exact
            bits = (Q @ S.T) > 0                       # (rows, n_planes)
            buckets = (bits.astype(np.int64) * weights[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"], "__vec": list(V), "bucket": buckets}
            )

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("__vec", ArrayType(DoubleType())),
            StructField("bucket", LongType()),
        ]
    )
    # null embeddings can't be bucketed/assigned and would crash the
    # numpy batch (np.stack over a batch containing None — r09 review,
    # verified live); exclude them, matching the minhash family's
    # null-signature filter and covariance_scaled's existing guard
    prepped = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("__vec")
    )
    return prepped.mapInPandas(assign, schema)


def cosine_topk_lsh_exact_bucket(
    corpus: DataFrame,
    queries: DataFrame | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    seed: int = 42,
    scale: int = 1_000_000,
    query_pred=None,
) -> DataFrame:
    """``cosine_topk_lsh`` with integer-exact buckets: identical
    join/re-rank shape (bucket equi-join, exact-cosine re-rank, window
    top-k), but the bucketing is exact bigint arithmetic and therefore
    SQL-oracle-able end to end. Buckets come from the Arrow-batched
    int64-matmul table (fast path); ``int_lsh_bucket`` is the
    bit-identical pure-JVM expression form for Python-free plans.
    Same 100 TB story as the float form — candidates come from a
    bucket equi-join, never all pairs; persist the corpus
    ``bucketBy("bucket")`` so probes prune instead of shuffling the
    corpus.

    ``query_pred`` (r14, the ``minhash_md5_split_probe`` pattern):
    when the query set is a SLICE of the corpus (self-kNN audits,
    probe panels), pass the id predicate instead of a ``queries``
    frame. The bucket table is then built ONCE over the corpus and
    both join sides read it — one Arrow/Python stage (~one fixed
    worker-startup + IPC floor) where the two-frame form paid two.
    The table rides a lazy ``persist`` mark — the pushdown barrier
    that stops Catalyst folding the query-side filter through
    ``mapInPandas`` into a second full-corpus pass — and the handle
    rides on the result (``llmdata.dedup.unpersist_materialized``;
    under bench/driver the session ``clearCache`` releases it).
    Buckets are exact int64 arithmetic, order-independent, so slicing
    the shared table is value-identical to bucketing the slice."""
    from idr_data_pipelines_spark.llmdata.dedup import _attach_materialized

    shared = None
    if query_pred is not None:
        shared = _int_lsh_bucket_table(
            corpus, id_col, vec_col, n_planes, seed, scale
        ).persist()
        c_tbl = shared
        q_tbl = shared.filter(query_pred(F.col("id")))
    else:
        c_tbl = _int_lsh_bucket_table(
            corpus, id_col, vec_col, n_planes, seed, scale
        )
        q_tbl = _int_lsh_bucket_table(
            queries, id_col, vec_col, n_planes, seed, scale
        )
    # distinct bucket aliases (fresh exprIds) — in the shared-table
    # form both sides are slices of ONE plan, where same-name column
    # refs would hit self-join ambiguity
    c = c_tbl.select(
        F.col("id").alias("neighbor_id"),
        F.col("__vec").alias("cvec"),
        F.col("bucket").alias("cbucket"),
    ).withColumn("cnrm", norm(F.col("cvec")))
    q = q_tbl.select(
        F.col("id").alias("query_id"),
        F.col("__vec").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    ).withColumn("qnrm", norm(F.col("qvec")))
    scored = c.join(
        F.broadcast(q),
        (F.col("cbucket") == F.col("qbucket"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).withColumn(
        "cosine",
        dot_ref("qvec", "cvec") / (F.col("qnrm") * F.col("cnrm")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    result = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
    if shared is not None:
        return _attach_materialized(result, shared)
    return result


def _assign_centroids(
    df: DataFrame,
    centroids: "np.ndarray",
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """(id, vec, centroid_id) — each vector assigned to its ``nprobe``
    nearest centroids by cosine (mapInPandas; the centroid matrix is a
    closure constant, broadcast with the task)."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    Cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__vec"]])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
            sims = Vn @ Cn.T                        # (rows, n_centroids)
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy().repeat(nprobe),
                    "__vec": [v for v in V for _ in range(nprobe)],
                    "centroid_id": top.ravel().astype("int32"),
                }
            )

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("__vec", ArrayType(DoubleType())),
            StructField("centroid_id", IntegerType()),
        ]
    )
    # null embeddings can't be bucketed/assigned and would crash the
    # numpy batch (np.stack over a batch containing None — r09 review,
    # verified live); exclude them, matching the minhash family's
    # null-signature filter and covariance_scaled's existing guard
    prepped = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("__vec")
    )
    return prepped.mapInPandas(assign, schema)


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 2,
) -> "np.ndarray":
    """Deterministic coarse quantizer: seed centroids are the
    ``n_centroids`` rows with smallest ``xxhash64(id)`` (a seeded
    sample, stable across runs/partitionings), refined with ``iters``
    Lloyd steps. Each step assigns vectors (mapInPandas matmul) and
    recomputes per-centroid means with applyInPandas (rows sorted by
    id before summing → deterministic floats); the centroid matrix is
    tiny and lives on the driver."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

    seed_rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(
            _as_double(vec_col).alias("v"),
            F.xxhash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    if not seed_rows:
        # an empty/all-null corpus otherwise surfaces as an opaque
        # numpy AxisError inside _assign_centroids (r10 review; same
        # empty-input contract as the fixed-seed collector)
        raise ValueError(
            "ivf_centroids: corpus has no non-null embeddings to seed from"
        )
    C = np.array([r["v"] for r in seed_rows], dtype=np.float64)

    mean_schema = StructType(
        [
            StructField("centroid_id", IntegerType()),
            StructField("mean_vec", ArrayType(DoubleType())),
            StructField("n", IntegerType()),
        ]
    )

    def centroid_mean(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("id")
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__vec"]])
        return pd.DataFrame(
            {
                "centroid_id": [int(pdf["centroid_id"].iloc[0])],
                "mean_vec": [V.sum(axis=0) / len(V)],
                "n": [len(V)],
            }
        )

    for _ in range(iters):
        assigned = _assign_centroids(corpus, C, id_col, vec_col, nprobe=1)
        means = (
            assigned.groupBy("centroid_id")
            .applyInPandas(centroid_mean, mean_schema)
            .collect()
        )
        newC = C.copy()  # empty clusters keep their old centroid
        for r in means:
            newC[r["centroid_id"]] = np.asarray(r["mean_vec"])
        C = newC
    return C


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    iters: int = 2,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: corpus
    vectors are partitioned into ``n_centroids`` coarse cells; each
    query probes its ``nprobe`` nearest cells and re-ranks candidates
    with exact cosine.

    This is the classic ANN scale path: at 100 TB the assignment table
    is written partitioned/bucketed by ``centroid_id`` so a probe scans
    ~nprobe/n_centroids of the corpus (partition pruning), instead of
    all of it. Recall rises with nprobe; nprobe = n_centroids recovers
    brute force.
    """
    if k < 1 or nprobe < 1:
        # nprobe=0 probes no cells and k=0 keeps no ranks — both
        # would return an empty frame that reads as "no neighbors"
        # rather than as the caller's parameter bug (r11 review)
        raise ValueError("k and nprobe must be >= 1")
    C = ivf_centroids(corpus, id_col, vec_col, n_centroids, iters)
    inv = _assign_centroids(corpus, C, id_col, vec_col, nprobe=1).select(
        F.col("id").alias("neighbor_id"),
        F.col("__vec").alias("cvec"),
        "centroid_id",
    ).withColumn("cnrm", norm(F.col("cvec")))
    probes = _assign_centroids(queries, C, id_col, vec_col, nprobe=nprobe).select(
        F.col("id").alias("query_id"),
        F.col("__vec").alias("qvec"),
        "centroid_id",
    ).withColumn("qnrm", norm(F.col("qvec")))
    scored = (
        inv.join(
            F.broadcast(probes),
            (inv.centroid_id == probes.centroid_id)
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn(
            "cosine",
            dot_ref("qvec", "cvec") / (F.col("qnrm") * F.col("cnrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dup_pairs_grouped(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str = "label",
) -> DataFrame:
    """All intra-block pairs with cosine ≥ threshold, id_a < id_b —
    the vectorized form of ``embedding_near_dup_pairs``.

    ``groupBy(block).applyInPandas``: one shuffle on the block key,
    then every block's pair matrix is accumulated in numpy
    **dimension-by-dimension** — sequential over dims, vectorized over
    pairs — which reproduces the SQL left-fold summation order
    bit-for-bit (each IEEE op identical), so results hash-match an
    ANSI-SQL oracle exactly while running ~5× faster than per-pair
    interpreted array folds. Blocks must fit executor memory
    (O(m²) pair matrix); at scale use finer blocks (LSH buckets) or
    chunk the rows of oversized blocks.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        pdf = pdf.sort_values(id_col)
        V = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        ids = pdf[id_col].to_numpy()
        d = V.shape[1]
        # exact left-fold accumulation order (oracle-parity critical)
        nrm = np.zeros(m)
        acc = np.zeros((m, m))
        for i in range(d):
            c = V[:, i]
            nrm += c * c
            acc += np.multiply.outer(c, c)
        cos = acc / np.multiply.outer(np.sqrt(nrm), np.sqrt(nrm))
        ia, ib = np.triu_indices(m, 1)
        keep = cos[ia, ib] >= threshold
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cosine": cos[ia, ib][keep]}
        )

    # null embeddings would crash np.stack in the block fold (r09
    # review); they cannot be near anything — exclude
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col, block_col)
        .groupBy(block_col)
        .applyInPandas(block_pairs, out_schema)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | None = None,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Semantic near-dup pairs: cosine ≥ threshold, id_a < id_b.

    Blocking: either a caller-supplied column (e.g. a cluster/label
    id) or sign-LSH buckets — the self-join runs inside blocks only.
    """
    if block_col is not None:
        # same projection — a join back on id would add a shuffle (and
        # fan out on duplicate ids) for a column that's already there
        vecs = df.select(
            F.col(id_col).alias("id"),
            _as_double(vec_col).alias("vec"),
            F.col(block_col).alias("block"),
        )
    else:
        # sign-LSH blocks assigned in-worker (lazy hyperplanes keyed on
        # the observed dim) — no driver-side .first() to sniff the dim
        vecs = _lsh_bucket_table(df, id_col, vec_col, n_planes, seed).select(
            "id", F.col("__vec").alias("vec"), F.col("bucket").alias("block")
        )
    # per-vector norm computed once, not per pair (see cosine_topk_*)
    vecs = vecs.withColumn("nrm", norm(F.col("vec")))
    l, r = vecs.alias("l"), vecs.alias("r")
    return (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block")) & (F.col("l.id") < F.col("r.id")),
        )
        .withColumn(
            "cosine",
            dot_ref("l.vec", "r.vec")
            / (F.col("l.nrm") * F.col("r.nrm")),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            "cosine",
        )
    )


def fixed_seed_centroid_rows(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> list[tuple[int, list[float]]]:
    """The deterministic centroid seed shared by the fixed-quantizer
    family (``cosine_topk_ivf_fixed``, ``assign_fixed_clusters``):
    the corpus vectors with ``id < n_centroids``, collected (bounded
    driver transfer, same as any k-means seeding) and sorted by id.
    Valid as a seed whenever ids are assignment-order (random docs ⇒
    random seeds); being table rows, it is replayable by a SQL
    oracle, unlike float-mean centroids."""
    cent_rows = sorted(
        (
            (r["cid"], r["v"])
            for r in corpus.filter(F.col(id_col) < n_centroids)
            .select(F.col(id_col).alias("cid"), _as_double(vec_col).alias("v"))
            .collect()
        ),
    )
    # the IVF-PQ ADC lookup is POSITIONAL (element_at(adc, code+1)),
    # so the seed must be exactly the contiguous unique ids 0..n-1 —
    # a row-count check alone lets duplicate or gapped ids through,
    # silently mis-scoring (dup) or raising INVALID_ARRAY_INDEX (gap)
    # at query time (r09 review)
    ids = [cid for cid, _ in cent_rows]
    if ids != list(range(n_centroids)):
        raise ValueError(
            f"fixed-centroid seed needs ids exactly 0..{n_centroids - 1}; "
            f"got {ids[:8]}{'...' if len(ids) > 8 else ''} "
            "(duplicate or gapped ids break the positional code lookup)"
        )
    missing = [cid for cid, v in cent_rows if v is None]
    if missing:
        raise ValueError(f"seed rows {missing} have null {vec_col}")
    return cent_rows


def _py_norm(v: list) -> float:
    """Driver-side mirror of ``norm``: the same sequential
    acc + x*x fold then sqrt, in IEEE doubles — bit-identical to the
    JVM/SQL fold over the same values, so a centroid norm can be
    baked in as a literal instead of being re-folded per row."""
    import math

    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _fold_dot_sql(vec_sql: str, lit: list) -> str:
    """SQL text of ``dot(vec, <literal array>)`` — the same
    zip_with/aggregate sequential fold, identical expression tree and
    therefore bit-identical IEEE results, but parsed from ONE string:
    building the fold through the Python Column API costs 2 py4j
    lambda constructions + a literal-array parse PER CENTROID, which
    at n_centroids × dim puts the driver in the hot path (~0.5 s per
    ``_centroid_sims`` build, measured r14). An UNROLLED chain was
    rejected: 16×64 multiply-adds in one expression blows janino's
    64 KB method limit, and the codegen-fallback retry makes every
    action ~3× slower (r14 A/B)."""
    lits = ", ".join(f"{float(c)!r}D" for c in lit)
    return (
        f"aggregate(zip_with({vec_sql}, array({lits}), (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _centroid_sims(
    cent_rows: list[tuple[int, list[float]]], vec_sql: str, nrm_sql: str
) -> Column:
    """Array of (sim, -centroid_id) structs, one per centroid:
    ``array_max`` over it picks the highest cosine and breaks ties on
    the LOWEST centroid id (== SQL ORDER BY sim DESC, centroid_id
    ASC). Pure projection — the centroid matrix is folded into
    literal arrays, cosines are JVM array folds; centroid norms are
    constants, folded once on the driver (``_py_norm``) rather than
    once per row per centroid. ``vec_sql``/``nrm_sql`` are SQL
    expression strings (usually column names) so the whole array is
    ONE parsed expression — see ``_fold_dot_sql`` for why."""
    entries = ", ".join(
        "named_struct('sim', {d} / ({n} * {cn!r}D), 'negid', {neg})".format(
            d=_fold_dot_sql(vec_sql, v),
            n=nrm_sql,
            cn=_py_norm(v),
            neg=-int(cid),
        )
        for cid, v in cent_rows
    )
    return F.expr(f"array({entries})")


def cosine_topk_ivf_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN with a FIXED coarse quantizer — centroids are the
    corpus vectors with ``id < n_centroids`` (no Lloyd refinement) —
    which makes the entire index replayable by a SQL oracle: cell
    assignment is an argmax of exact cosines against table rows
    (deterministic ties → lowest centroid id), probing is the same
    argmax top-``nprobe``, and the re-rank is exact cosine. The
    k-means variant (``cosine_topk_ivf``) clusters better but its
    centroids are float means with no SQL form; this variant proves
    the IVF machinery — cell build, probe pruning, candidate re-rank —
    bit-for-bit against an independent engine, and is itself a valid
    production index when the corpus is pre-shuffled (random docs ⇒
    random centroids).

    Scale shape: centroids are ``n_centroids`` collected rows
    (bounded, same as the k-means seed collect); assignment is a PURE
    PROJECTION over the corpus — cosine against literal centroid
    arrays folded JVM-side, argmax via ``array_max`` over
    (sim, -centroid_id) structs, no shuffle. At 100 TB the assigned
    corpus is written bucketed/partitioned by ``centroid_id`` so each
    probe scans ~nprobe/n_centroids of it (partition pruning). The
    only shuffles here: the broadcast probe join and the final
    per-query top-k window (|Q| groups).
    """
    if k < 1 or nprobe < 1:
        raise ValueError("k and nprobe must be >= 1")
    cent_rows = fixed_seed_centroid_rows(corpus, id_col, vec_col, n_centroids)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    ).withColumn("cnrm", norm(F.col("cvec")))
    inv = c.withColumn(
        "centroid_id",
        -F.array_max(_centroid_sims(cent_rows, "cvec", "cnrm"))["negid"],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    ).withColumn("qnrm", norm(F.col("qvec")))
    probes = q.withColumn(
        "probe",
        F.explode(
            F.slice(
                F.reverse(
                    F.array_sort(_centroid_sims(cent_rows, "qvec", "qnrm"))
                ),
                1,
                nprobe,
            )
        ),
    ).select("query_id", "qvec", "qnrm", (-F.col("probe")["negid"]).alias("centroid_id"))
    scored = inv.join(
        F.broadcast(probes),
        (inv.centroid_id == probes.centroid_id)
        & (F.col("query_id") != F.col("neighbor_id")),
    ).withColumn(
        "cosine",
        dot_ref("qvec", "cvec") / (F.col("qnrm") * F.col("cnrm")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# -------------------------------------- fixed-seed k-means / SemDeDup

def assign_fixed_clusters(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    vectorized: bool | None = None,
) -> DataFrame:
    """(id, vec, nrm, cluster_id): every vector assigned to its
    nearest fixed-seed centroid by cosine (deterministic ties → lowest
    centroid id). No shuffle at any scale; at 100 TB write the result
    partitioned/bucketed by ``cluster_id`` so downstream per-cluster
    work (SemDeDup pair scans, IVF probes) co-locates via partition
    pruning instead of shuffling.

    Two physical forms, same cluster semantics:

    - JVM literal-expression argmax (``vectorized=False``): pure
      projection whose floats replay bit-for-bit in SQL — the
      oracle-verified reference path. Per-row cost grows with
      n_clusters (one interpreted fold per centroid), so it is the
      default only up to 32 clusters.
    - Arrow-batched numpy matmul (``vectorized=True``): one BLAS
      ``V @ C.T`` per batch — the production path when n_clusters
      scales with the corpus (measured ~8× faster at 160 clusters).
      np matmul sums pairwise, so a vector equidistant to two
      centroids within 1 ulp can land differently than the fold path
      — measure-zero for real embeddings, and cluster assignment is a
      blocking heuristic, not an answer.

    ``vectorized=None`` picks automatically (> 32 clusters → numpy).
    """
    cent_rows = fixed_seed_centroid_rows(corpus, id_col, vec_col, n_clusters)
    if vectorized is None:
        vectorized = n_clusters > 32
    if vectorized:
        C = np.array([v for _, v in cent_rows], dtype=np.float64)
        assigned = _assign_centroids(corpus, C, id_col, vec_col, nprobe=1)
        # centroid ids are positional in C == sorted seed ids (0..n-1
        # by construction of fixed_seed_centroid_rows)
        return assigned.select(
            "id",
            F.col("__vec").alias("vec"),
            F.col("centroid_id").cast("int").alias("cluster_id"),
        ).withColumn("nrm", norm(F.col("vec")))
    return (
        corpus.select(
            F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
        )
        .withColumn("nrm", norm(F.col("vec")))
        .withColumn(
            "cluster_id",
            -F.array_max(_centroid_sims(cent_rows, "vec", "nrm"))["negid"],
        )
    )


def kmeans_fixed_step(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
) -> DataFrame:
    """One exact Lloyd iteration from the fixed seed: assign every
    vector to its nearest centroid, then recompute per-cluster mean
    embeddings. Long form (cluster_id, pos, centroid_val, n_members)
    — the same drift-friendly surface as ``label_centroids``.

    Scale shape: assignment is a projection (no shuffle); the update
    is ONE map-side-combined aggregation whose output is bounded at
    |clusters| × dim rows regardless of corpus size — the canonical
    distributed-Lloyd step. Iterating = feeding the (tiny) result back
    in as next step's centroid literals; each iteration costs one scan
    + one bounded agg. Means are summation-order dependent — round
    before comparing across engines/partitionings."""
    a = assign_fixed_clusters(corpus, id_col, vec_col, n_clusters)
    return (
        a.select("cluster_id", F.posexplode("vec").alias("pos", "val"))
        .groupBy("cluster_id", "pos")
        .agg(
            F.avg("val").alias("centroid_val"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def semdedup_prune(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then inside each cluster drop every vector that
    has a semantic duplicate (cosine ≥ ``threshold``) with a lower
    id — keeping exactly one representative (the lowest id) per
    duplicate group found this way. Returns the kept (id, cluster_id).

    Scale shape: cluster blocking turns the O(n²) pair scan into
    Σ|cluster|² — the published recipe's point; assignment is a
    projection, the pair scan is an equi-join on ``cluster_id`` (at
    100 TB: pre-bucket by cluster so the self-join co-locates), and
    the exact cosine filter is a JVM array fold. Cosine arithmetic is
    deterministic IEEE on both engines, so the threshold compare —
    and therefore the kept set — replays exactly in SQL.

    The assignment table is referenced three times (both self-join
    sides + the final anti-join); it is computed once via
    ``localCheckpoint(eager=True)`` instead of re-running the
    16-centroid argmax per reference — at cluster scale the
    equivalent is writing the assignment out bucketed by
    ``cluster_id`` once and reading it back."""
    a = assign_fixed_clusters(
        corpus, id_col, vec_col, n_clusters
    ).localCheckpoint(eager=True)
    left = a.select(
        F.col("id").alias("i"),
        F.col("vec").alias("ivec"),
        F.col("nrm").alias("inrm"),
        "cluster_id",
    )
    right = a.select(
        F.col("id").alias("j"),
        F.col("vec").alias("jvec"),
        F.col("nrm").alias("jnrm"),
        F.col("cluster_id").alias("cluster_j"),
    )
    dropped = (
        left.join(
            right,
            (left.cluster_id == right.cluster_j) & (F.col("i") < F.col("j")),
        )
        .filter(
            dot_ref("ivec", "jvec") / (F.col("inrm") * F.col("jnrm"))
            >= threshold
        )
        .select(F.col("j").alias("id"))
        .distinct()
    )
    return a.join(dropped, "id", "left_anti").select(
        F.col("id").alias(id_col), "cluster_id"
    )


# ------------------------------------------------- int8 quantized ANN

def quantize_unit_vec(vec: Column, bits: int = 7) -> Column:
    """L2-normalize then quantize each component to a signed integer in
    [-(2^bits - 1), 2^bits - 1] (127 for int8). The quantized corpus is
    4× smaller than float32 (16× vs float64) — at 100 TB of embeddings
    that is the difference between an in-memory scan and a disk-bound
    one; bandwidth, not FLOPs, bounds brute-force ANN."""
    from idr_data_pipelines_spark.llmdata.dedup import _let

    scale = float((1 << bits) - 1)
    # _let-bind the norm: referenced inside the per-element transform
    # lambda, an unbound norm fold is re-evaluated for EVERY component
    # — O(d²) interpreted ops per row on the quantized-scan hot path
    # (r09 review; _let's docstring describes exactly this pathology)
    return _let(
        norm(vec),
        lambda n: F.transform(
            vec,
            lambda x: F.round(x.cast("double") / n * F.lit(scale)).cast("int"),
        ),
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    oversample: int = 4,
    bits: int = 7,
) -> DataFrame:
    """Two-stage quantized ANN: (1) scan the int8-quantized corpus and
    keep ``oversample·k`` candidates per query by integer dot product
    (∝ cosine, both sides unit-normalized before quantization); (2)
    re-rank ONLY the candidates with exact float cosine by joining
    back to the float corpus by id — the storage-honest shape: floats
    are fetched per candidate, never scanned.

    Same output contract as ``cosine_topk_bruteforce``
    (query_id, neighbor_id, cosine, rank). Approximate: quantization
    error can evict a true neighbor from the candidate set — recall vs
    brute force is pinned in tests; raise ``oversample`` to trade scan
    cost for recall.
    """
    cq = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_unit_vec(F.col(vec_col), bits).alias("cvec_q"),
    )
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_unit_vec(F.col(vec_col), bits).alias("qvec_q"),
    )
    iscore = F.aggregate(
        F.zip_with(F.col("qvec_q"), F.col("cvec_q"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w_c = Window.partitionBy("query_id").orderBy(
        F.desc("iscore"), F.asc("neighbor_id")
    )
    cand = (
        cq.join(F.broadcast(qq), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("iscore", iscore)
        .withColumn("__r", F.row_number().over(w_c))
        .filter(F.col("__r") <= oversample * k)
        .select("query_id", "neighbor_id")
    )
    cf = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    ).withColumn("cnrm", norm(F.col("cvec")))
    qf = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    ).withColumn("qnrm", norm(F.col("qvec")))
    rer = (
        cand.join(cf, "neighbor_id")
        .join(F.broadcast(qf), "query_id")
        .withColumn(
            "cosine",
            dot_ref("qvec", "cvec") / (F.col("qnrm") * F.col("cnrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    emb_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding in long form: one row per
    ``(label, pos)`` with the component mean — corpus-drift /
    source-similarity analytics over an embedding column.

    ``posexplode`` + a (label, pos)-keyed average: the explode is a
    dim× row fan-out but the aggregation partially combines map-side,
    so the shuffle carries at most |labels|·dim rows per input
    partition — the scalable shape for billion-vector corpora (an
    elementwise fold over ``collect_list`` would concentrate each
    label's vectors on one task instead). Float components cast to
    double BEFORE averaging; the mean's summation order is
    partitioning-dependent, so comparators should round (the catalog
    query rounds to 6 decimals).
    """
    ex = df.select(F.col(label_col), F.posexplode(emb_col).alias("pos", "v"))
    return ex.groupBy(label_col, "pos").agg(
        F.avg(F.col("v").cast("double")).alias("centroid_val")
    )


# ---------------------------------------- JL random projection

def random_projection_matrix(d_in: int = 64, d_out: int = 8, seed: int = 1337):
    """Fixed-seed Gaussian Johnson-Lindenstrauss matrix (rows are the
    projection vectors). Deterministic across runs/engines — the same
    literals are baked into the Spark projection and the SQL oracle."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(d_out, d_in)


def random_project(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "proj",
    d_in: int = 64,
    d_out: int = 8,
    seed: int = 1337,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto ``d_out`` fixed Gaussian directions. The standard
    pre-ANN shrink — at 100 TB a 64→8 reduction cuts the candidate
    re-rank's scan bandwidth 8× while approximately preserving
    distances (JL lemma). PURE PROJECTION: the matrix is literal
    arrays, each component a sequential JVM fold (deterministic IEEE,
    so the result replays bit-for-bit in SQL) — zero shuffle, zero
    Python at any scale."""
    M = random_projection_matrix(d_in, d_out, seed)
    # one parsed expression instead of d_out × (2 py4j lambda builds +
    # a literal parse) — same fold tree, bit-identical results; see
    # _fold_dot_sql
    vec_sql = f"transform(`{vec_col}`, x -> cast(x as double))"
    return df.withColumn(
        out_col,
        F.expr(
            "array({})".format(
                ", ".join(_fold_dot_sql(vec_sql, row) for row in M.tolist())
            )
        ),
    )


def pq_assign_fixed(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_subspaces: int = 4,
    dim: int = 64,
    vectorized: bool | None = None,
) -> DataFrame:
    """Product-quantization code assignment with the fixed-seed
    codebook (the third member of the fixed-quantizer family beside
    ``cosine_topk_ivf_fixed`` and ``assign_fixed_clusters``): the
    vector splits into ``n_subspaces`` contiguous subvectors and each
    is assigned the id of its L2-nearest codeword, where subspace
    ``s``'s codebook is the corresponding subvector slice of the
    corpus rows with ``id < n_centroids``. Emits one
    (id, subspace, code, dist) row per subvector — the PQ code table
    an IVF-PQ index stores instead of raw floats (here
    64 floats → 4 codes, a 64× compression at 8-bit codes).

    Replayability: codewords are table rows, distances are fixed-order
    left-associative double arithmetic, ties break to the lowest
    codeword id — a SQL oracle reproduces the assignment bit-for-bit
    (the same property the IVF-fixed index carries).

    Scale shape: the codebook is ``n_centroids`` collected rows
    (bounded driver transfer); assignment is a PURE PROJECTION —
    per-subspace distances fold JVM-side via higher-order functions
    (``transform`` over the constant codebook array, ``zip_with`` +
    ``aggregate`` over the subvector slices), argmin via
    ``array_min`` over (dist, code) structs, ZERO shuffles, so at
    100 TB it is a map-only pass. The HOF form matters for compile
    cost, not just elegance: the earlier fully-unrolled variant
    (n_centroids × sub_d squared-diff nodes per subspace, ~1k
    expression nodes) put the OPTIMIZER, not the executor, in the
    hot path — tens of seconds of plan analysis per build at these
    codebook sizes. The fold keeps the identical left-associative
    term order (``0.0 + t1 + t2 + …``; adding ``+0.0`` to the first
    non-negative term is IEEE-exact), so the SQL oracle still
    replays every code bit-for-bit. Train real codebooks with
    ``kmeans_fixed_step`` per subspace when seed quality matters;
    the assignment plumbing is identical.

    Two physical forms, BIT-IDENTICAL results (unlike the cosine
    matmul in ``assign_fixed_clusters``, whose pairwise sums can
    differ by an ulp): the Arrow path accumulates dimension-by-
    dimension in the same left-associative order — sequential over
    dims, numpy-vectorized over (rows × codewords) — and ``argmin``
    takes the first minimum, which is the lowest code because the
    codebook rows are sorted by id. Rounding happens in a Spark
    expression AFTER the UDF so both paths share the JVM's HALF_UP.
    ``vectorized=None`` auto-picks Arrow when the per-row codebook
    work (n_centroids × dim) exceeds 512 ops — below that the pure
    JVM projection avoids the Python worker round-trip entirely.
    """
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces}")
    sub_d = dim // n_subspaces
    cent_rows = fixed_seed_centroid_rows(corpus, id_col, vec_col, n_centroids)
    if vectorized is None:
        vectorized = n_centroids * dim > 512

    if vectorized:
        import pandas as pd
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        C = np.array([cv for _, cv in cent_rows], dtype=np.float64)
        # positional index == code for a contiguous 0..n-1 seed (the
        # collector guarantees it), but map through the actual ids so
        # a future non-contiguous seed cannot silently mislabel
        cids = np.array([cid for cid, _ in cent_rows], dtype=np.int32)
        id_type = corpus.schema[id_col].dataType
        out_schema = StructType(
            [
                StructField(id_col, id_type),
                StructField("subspace", IntegerType()),
                StructField("code", IntegerType()),
                StructField("dist", DoubleType()),
            ]
        )

        def assign(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(pdf["__v"].tolist(), dtype=np.float64)
                n = len(V)
                ids = pdf[id_col].to_numpy()
                parts = []
                for s in range(n_subspaces):
                    lo = s * sub_d
                    acc = np.zeros((n, len(C)), dtype=np.float64)
                    for i in range(sub_d):
                        d = V[:, lo + i][:, None] - C[None, :, lo + i]
                        acc = acc + d * d
                    codes = np.argmin(acc, axis=1)
                    parts.append(
                        pd.DataFrame(
                            {
                                id_col: ids,
                                "subspace": np.full(n, s, dtype=np.int32),
                                "code": cids[codes],
                                "dist": acc[np.arange(n), codes],
                            }
                        )
                    )
                yield pd.concat(parts, ignore_index=True)

        out = (
            corpus.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col), _as_double(vec_col).alias("__v"))
            .mapInPandas(assign, out_schema)
        )
        return out.select(
            id_col,
            "subspace",
            "code",
            F.round("dist", 6).alias("dist_r"),
        )

    v = _as_double(vec_col)
    per_sub = []
    for s in range(n_subspaces):
        lo = s * sub_d  # 0-based offset; Spark/DuckDB index from 1
        sub_v = F.slice(v, lo + 1, sub_d)
        # per-subspace codebook, pre-sliced in Python, built as ONE
        # parsed SQL literal: a per-element F.lit() construction costs
        # a py4j round-trip PER COMPONENT (n_centroids × sub_d calls —
        # measured ~7 s of pure driver time at 16×16×4), while one
        # expr() string parses JVM-side in milliseconds. repr(float)
        # is shortest-round-trip, so the parsed doubles are
        # bit-identical to the collected codeword components.
        entries = ", ".join(
            "named_struct('code', {}, 'vec', array({}))".format(
                int(cid),
                ", ".join(
                    f"{float(cvec[lo + i])!r}D" for i in range(sub_d)
                ),
            )
            for cid, cvec in cent_rows
        )
        codebook = F.expr(f"array({entries})")
        best = F.array_min(
            F.transform(
                codebook,
                lambda cw: F.struct(
                    F.aggregate(
                        F.zip_with(
                            sub_v,
                            cw["vec"],
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0.0),
                        lambda acc, t: acc + t,
                    ).alias("dist"),
                    cw["code"].alias("code"),
                ),
            )
        )
        per_sub.append(
            F.struct(
                F.lit(s).alias("subspace"),
                best["code"].cast("int").alias("code"),
                F.round(best["dist"], 6).alias("dist_r"),
            )
        )
    # all subspaces in ONE corpus scan: the 1→n_subspaces fan-out is a
    # bounded explode of a projection, not n_subspaces input passes.
    # Same null contract as the Arrow twin (rows with null vectors are
    # excluded, not emitted with null codes).
    return (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.explode(F.array(*per_sub)).alias("pq"))
        .select(id_col, "pq.subspace", "pq.code", "pq.dist_r")
    )


def _pq_codebook_expr(
    cent_rows: list[tuple[int, list[float]]], lo: int, sub_d: int
) -> Column:
    """Per-subspace PQ codebook as ONE parsed literal array of
    (code, vec) structs — same py4j-roundtrip-avoidance rationale as
    ``pq_assign_fixed``'s inline construction, factored out so the
    index build and the ADC table build share it."""
    entries = ", ".join(
        "named_struct('code', {}, 'vec', array({}))".format(
            int(cid),
            ", ".join(f"{float(cvec[lo + i])!r}D" for i in range(sub_d)),
        )
        for cid, cvec in cent_rows
    )
    return F.expr(f"array({entries})")


def _sq_l2_fold(sub_v: Column, cw_vec: Column) -> Column:
    """Squared L2 distance between two equal-length double arrays as
    the canonical left-associative fold (0.0 + t1 + … + tn) — the
    bit-replayable form every fixed-quantizer oracle mirrors."""
    return F.aggregate(
        F.zip_with(sub_v, cw_vec, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def ivfpq_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_subspaces: int = 4,
    dim: int = 64,
    nprobe: int = 2,
    vectorized: bool | None = None,
) -> DataFrame:
    """End-to-end IVF-PQ query path with asymmetric distance
    computation (ADC) — the index layout production ANN systems
    (FAISS IVFPQ, SCaNN's quantized leaf scan) use at corpus scales
    where raw floats don't fit: a coarse inverted file prunes the
    scan to ``nprobe`` cells, and within a cell candidates are scored
    from their 4-byte PQ codes against a per-query lookup table —
    the corpus vectors themselves are never touched at query time.

    Composes the repo's two fixed quantizers (coarse cells =
    ``cosine_topk_ivf_fixed``'s argmax-cosine assignment, PQ codes =
    ``pq_assign_fixed``'s per-subspace argmin codes, both against the
    deterministic id<n_centroids row codebook) so the WHOLE path —
    cell build, probe choice, ADC table, code-indexed scoring, top-k
    rank — replays bit-for-bit in a SQL oracle.

    Physical shape, and why it is the 100 TB plan:
    - index build = ONE map-only projection per corpus row emitting
      (cell, codes[4]); at scale it is written once, bucketed by
      ``cell``, 4 bytes/vector of scoring payload instead of 256;
    - query side = |Q|·nprobe probe rows, each carrying the query's
      ADC tables (n_subspaces × n_centroids doubles — model-sized,
      a broadcast);
    - scoring = ONE broadcast hash join on cell equality (scan
      limited to probed buckets via partition pruning) + a pure
      expression ``adc[s][code_s]`` fold — no per-candidate float
      vector I/O, no shuffle of the corpus;
    - the only shuffle: the final per-query top-k window (|Q| groups,
      WindowGroupLimit-pruned).

    Two physical forms for the corpus index build, BIT-IDENTICAL
    results (the ``pq_assign_fixed`` discipline): the Arrow path
    accumulates every fold dimension-by-dimension in the same
    left-associative IEEE order as the JVM expressions — norms
    (acc + x·x then sqrt), centroid dots (acc + x·y), subspace
    distances (acc + d·d) — and numpy's first-max/first-min ties are
    the lowest centroid id because the fixed-seed codebook rows are
    id-sorted. ``vectorized=None`` auto-picks Arrow when the per-row
    codebook work (n_centroids × dim, coarse + PQ) exceeds 512 ops;
    Catalyst runs higher-order-function lambdas interpreted, which
    measured ~5× slower than the numpy path at 16×64.
    """
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces}")
    sub_d = dim // n_subspaces
    cent_rows = fixed_seed_centroid_rows(corpus, id_col, vec_col, n_centroids)
    if vectorized is None:
        vectorized = n_centroids * dim > 512

    v = _as_double(vec_col)

    if vectorized:
        import pandas as pd
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        C = np.array([cv for _, cv in cent_rows], dtype=np.float64)
        cids = np.array([cid for cid, _ in cent_rows], dtype=np.int64)
        # centroid norms via the exact driver-side fold the JVM
        # expressions bake in as literals
        cnrm = np.array([_py_norm(cv) for _, cv in cent_rows])
        id_type = corpus.schema[id_col].dataType
        out_schema = StructType(
            [
                StructField("neighbor_id", id_type),
                StructField("cell", LongType()),
                StructField("codes", ArrayType(IntegerType())),
            ]
        )

        def build_index(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(pdf["__v"].tolist(), dtype=np.float64)
                n = len(V)
                # row norms: left-assoc acc + x*x over dims, then sqrt
                acc = np.zeros(n)
                for i in range(dim):
                    acc = acc + V[:, i] * V[:, i]
                vnrm = np.sqrt(acc)
                # cosines: left-assoc acc + x*y over dims per centroid
                dots = np.zeros((n, len(C)))
                for i in range(dim):
                    dots = dots + V[:, i][:, None] * C[None, :, i]
                sims = dots / (vnrm[:, None] * cnrm[None, :])
                # argmax first-max tie == lowest cid (rows id-sorted)
                cells = cids[np.argmax(sims, axis=1)]
                codes = np.empty((n, n_subspaces), dtype=np.int32)
                for s in range(n_subspaces):
                    lo = s * sub_d
                    sq = np.zeros((n, len(C)))
                    for i in range(sub_d):
                        d = V[:, lo + i][:, None] - C[None, :, lo + i]
                        sq = sq + d * d
                    codes[:, s] = cids[np.argmin(sq, axis=1)]
                yield pd.DataFrame(
                    {
                        "neighbor_id": pdf[id_col],
                        "cell": cells,
                        "codes": list(codes),
                    }
                )

        inv = (
            corpus.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col), v.alias("__v"))
            .mapInPandas(build_index, out_schema)
        )
    else:
        # ---- corpus index: coarse cell + PQ codes in one projection
        # (named __v/__nrm so _centroid_sims gets plain column refs;
        # the extra Project collapses in the optimizer)
        code_cols = []
        for s in range(n_subspaces):
            lo = s * sub_d
            sub_v = F.slice(F.col("__v"), lo + 1, sub_d)
            codebook = _pq_codebook_expr(cent_rows, lo, sub_d)
            best = F.array_min(
                F.transform(
                    codebook,
                    lambda cw: F.struct(
                        _sq_l2_fold(sub_v, cw["vec"]).alias("dist"),
                        cw["code"].alias("code"),
                    ),
                )
            )
            code_cols.append(best["code"].cast("int"))
        # same null contract as the Arrow twin above, so the two
        # impls stay row-identical on any input
        inv = (
            corpus.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("neighbor_id"), v.alias("__v"))
            .withColumn("__nrm", norm(F.col("__v")))
            .select(
                "neighbor_id",
                (
                    -F.array_max(_centroid_sims(cent_rows, "__v", "__nrm"))[
                        "negid"
                    ]
                ).alias("cell"),
                F.array(*code_cols).alias("codes"),
            )
        )

    # ---- query side: probes + per-subspace ADC tables
    q = queries.select(
        F.col(id_col).alias("query_id"), v.alias("qvec")
    ).withColumn("qnrm", norm(F.col("qvec")))
    adc_cols = []
    for s in range(n_subspaces):
        lo = s * sub_d
        sub_q = F.slice("qvec", lo + 1, sub_d)
        codebook = _pq_codebook_expr(cent_rows, lo, sub_d)
        # positional array: the fixed-seed codebook is contiguous
        # 0..n-1 by construction (collector-asserted), so position
        # index == code and scoring is element_at(adc_s, code+1)
        adc_cols.append(
            F.transform(
                codebook, lambda cw: _sq_l2_fold(sub_q, cw["vec"])
            ).alias(f"adc_{s}")
        )
    probes = (
        q.select("query_id", "qvec", "qnrm", *adc_cols)
        .withColumn(
            "probe",
            F.explode(
                F.slice(
                    F.reverse(
                        F.array_sort(
                            _centroid_sims(cent_rows, "qvec", "qnrm")
                        )
                    ),
                    1,
                    nprobe,
                )
            ),
        )
        .select(
            "query_id",
            *[f"adc_{s}" for s in range(n_subspaces)],
            (-F.col("probe")["negid"]).alias("cell"),
        )
    )

    # ---- ADC scoring over probed cells only
    cand = inv.join(F.broadcast(probes), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    dist: Column | None = None
    for s in range(n_subspaces):
        term = F.element_at(
            F.col(f"adc_{s}"), F.col("codes")[s] + F.lit(1)
        )
        dist = term if dist is None else dist + term
    scored = cand.select(
        "query_id", "neighbor_id", F.round(dist, 6).alias("adc_r")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_r").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def matryoshka_prefix(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix_dim: int = 16,
) -> DataFrame:
    """Matryoshka (MRL) prefix truncation: keep the first
    ``prefix_dim`` components and L2-renormalize — the serving trick
    of Matryoshka-trained embedding models, where a dimension prefix
    is itself a valid (cheaper) embedding for coarse retrieval.
    Long-form output ``(id, dim, val_r)`` for the renormalized prefix
    plus ``norm_frac_r`` (what fraction of the full vector's L2 norm
    the prefix retains — the quality signal that decides how deep the
    funnel can truncate).

    Engine-exact without fold-order games: components scale to e6
    integers (``floor(x·1e6 + 0.5)``, bit-identical everywhere), all
    norms derive from INTEGER sums of squares (order-free, exact), and
    only the final divide/sqrt/round are doubles with a fixed
    operation order. Pure projection + bounded explode — zero
    shuffles at any scale.
    """
    e6 = F.transform(
        _as_double(vec_col),
        lambda x: F.floor(x * F.lit(1_000_000.0) + F.lit(0.5)).cast("bigint"),
    )
    sumsq = lambda arr: F.aggregate(  # noqa: E731 — integer, order-free
        arr, F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
    )
    base = corpus.select(
        F.col(id_col),
        e6.alias("__e6"),
        sumsq(F.slice(e6, 1, prefix_dim)).alias("__pre"),
        sumsq(e6).alias("__full"),
    )
    return base.select(
        id_col,
        F.posexplode(F.slice("__e6", 1, prefix_dim)).alias("pos", "__c"),
        "__pre",
        "__full",
    ).select(
        id_col,
        F.col("pos").alias("dim"),  # posexplode is 0-based
        F.round(
            F.col("__c").cast("double")
            / F.sqrt(F.col("__pre").cast("double")),
            6,
        ).alias("val_r"),
        F.round(
            F.sqrt(
                F.col("__pre").cast("double") / F.col("__full").cast("double")
            ),
            6,
        ).alias("norm_frac_r"),
    )


def sign_bitpack(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Binary (sign) embedding quantization: each component maps to
    one bit (1 iff > 0) and the vector packs into two 32-bit halves —
    ``(id, sig_hi, sig_lo)``, a 64-float → 8-byte compression whose
    Hamming distance approximates angular distance (the binary-
    embedding retrieval trick; 32-bit halves rather than one 64-bit
    word so the integer arithmetic stays inside signed-BIGINT range
    in every engine). All integer ops — exact, order-free, fully
    SQL-replayable; Hamming between two rows is
    ``bit_count(sig_hi ^ sig_hi') + bit_count(sig_lo ^ sig_lo')``.
    Pure projection, zero shuffles.
    """
    if dim % 2:
        raise ValueError("dim must be even to split into two halves")
    half = dim // 2
    v = _as_double(vec_col)

    def pack(lo: int) -> Column:
        # MSB-first fold: acc·2 + bit leaves the first component in
        # the highest bit — integer-exact, no per-element shifts
        return F.aggregate(
            F.slice(v, lo + 1, half),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc * F.lit(2).cast("bigint")
            + F.when(x > 0, F.lit(1).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            ),
        )

    return corpus.select(
        F.col(id_col),
        pack(0).alias("sig_hi"),
        pack(half).alias("sig_lo"),
    )


def knn_graph_fixed_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_clusters: int = 16,
    vectorized: bool | None = False,
) -> DataFrame:
    """Corpus k-NN graph (each vector's top-``k`` cosine neighbors,
    ties → lowest neighbor id), restricted to the vector's fixed-seed
    coarse cell — the candidate-bounded construction SemDeDup-style
    curation and graph-based filtering build on (the full exact graph
    is a quadratic all-pairs scan; cell-local is the standard
    approximation, recall rising with cell granularity).

    Scale shape: cell assignment is a pure projection
    (``assign_fixed_clusters``); the self-join is an equi-join on
    ``cluster_id`` — at 100 TB write the assigned corpus bucketed by
    ``cluster_id`` once and the join is shuffle-free; per-cell pair
    work is bounded by the largest cell (grow ``n_clusters`` with the
    corpus exactly as ``semdedup`` does). With the default
    ``vectorized=False`` the fold-path assignment and fold cosines
    replay bit-for-bit in SQL, so the whole graph is value-hash
    oracle-able; pass ``vectorized=None`` on production corpora so
    assignment auto-switches to the Arrow numpy matmul above 32
    clusters (see ``assign_fixed_clusters``). Returns (src_id,
    dst_id, cosine, rank); vectors alone in their cell simply emit no
    edges.
    """
    a = assign_fixed_clusters(
        corpus, id_col, vec_col, n_clusters, vectorized=vectorized
    ).localCheckpoint(eager=False)  # assignment computed once, not per branch
    l = a.select(
        F.col("id").alias("src_id"),
        F.col("vec").alias("svec"),
        F.col("nrm").alias("snrm"),
        "cluster_id",
    )
    r = a.select(
        F.col("id").alias("dst_id"),
        F.col("vec").alias("dvec"),
        F.col("nrm").alias("dnrm"),
        F.col("cluster_id").alias("__cid_r"),
    )
    scored = l.join(
        r,
        (F.col("cluster_id") == F.col("__cid_r"))
        & (F.col("src_id") != F.col("dst_id")),
    ).withColumn(
        "cosine",
        dot_ref("svec", "dvec") / (F.col("snrm") * F.col("dnrm")),
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("dst_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "dst_id", "cosine", "rank")
    )


def covariance_scaled(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1_000_000.0,
) -> DataFrame:
    """Feature covariance + correlation matrix over an embedding
    column — the input to PCA/whitening/feature-selection passes —
    computed EXACTLY via the scaled-int idiom (same e6 quantization as
    ``matryoshka_prefix``): components → ``floor(x·scale + 0.5)``
    int64, all sums and cross-products are integer arithmetic
    (order-free ⇒ partition-invariant), and only the final
    divide/round are doubles with a fixed operation order, so results
    hash-match a SQL oracle bit-for-bit.

    Scale shape: ONE ``mapInPandas`` pass emits per-partition partial
    sums (d·(d+1)/2 cross-products + d linear sums + a count — a
    numpy int64 matmul per Arrow batch), so the shuffle moves
    O(partitions · d²) rows regardless of corpus size; the merge is a
    single map-side-combined aggregation in DECIMAL(38,0) (exact at
    any corpus size; the int64 partials themselves are safe below
    ~9e18/scale² ≈ 9M rows per partition — far above any sane
    partition). The naive posexplode self-join form would shuffle
    rows·d²/2 pairs instead. Output: (dim_i, dim_j, cov_r, corr_r)
    for i ≤ j — d·(d+1)/2 rows, constant in corpus size.
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    part_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("v", LongType()),
        ]
    )

    def partials(batches):
        n = 0
        S = None
        s = None
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["__vec"]])
            Q = np.floor(V * scale + 0.5).astype(np.int64)
            if S is None:
                d = Q.shape[1]
                S = np.zeros((d, d), dtype=np.int64)
                s = np.zeros(d, dtype=np.int64)
            S += Q.T @ Q
            s += Q.sum(axis=0)
            n += len(Q)
        if S is None:
            return
        d = S.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": np.concatenate([iu, np.arange(d), [-1]]).astype("int32"),
                "j": np.concatenate([ju, np.full(d, -1), [-1]]).astype("int32"),
                "v": np.concatenate([S[iu, ju], s, [n]]).astype("int64"),
            }
        )

    prepped = corpus.filter(F.col(vec_col).isNotNull()).select(
        _as_double(vec_col).alias("__vec")
    )
    agg = (
        prepped.mapInPandas(partials, part_schema)
        .groupBy("i", "j")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("v"))
        .localCheckpoint(eager=False)  # one corpus pass feeds 4 branches
    )
    nrow = agg.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("v").alias("__n")
    )
    lin = agg.filter((F.col("j") == -1) & (F.col("i") >= 0))
    cross = agg.filter(F.col("j") >= 0)
    nd = F.col("__n").cast("double")
    cov = (
        F.col("v").cast("double") / nd
        - (F.col("si").cast("double") / nd) * (F.col("sj").cast("double") / nd)
    ) / F.lit(float(scale) * float(scale))
    covd = (
        cross.join(
            F.broadcast(
                lin.select(F.col("i").alias("di"), F.col("v").alias("si"))
            ),
            F.col("i") == F.col("di"),
        )
        .join(
            F.broadcast(
                lin.select(F.col("i").alias("dj"), F.col("v").alias("sj"))
            ),
            F.col("j") == F.col("dj"),
        )
        .crossJoin(F.broadcast(nrow))
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            cov.alias("__cov"),
        )
        .localCheckpoint(eager=False)  # collapsed d²/2 frame, reused for corr
    )
    diag = covd.filter(F.col("dim_i") == F.col("dim_j"))
    corr = F.when(
        (F.col("vi") > 0) & (F.col("vj") > 0),
        F.col("__cov") / F.sqrt(F.col("vi") * F.col("vj")),
    )
    return (
        covd.join(
            F.broadcast(
                diag.select(F.col("dim_i").alias("ddi"), F.col("__cov").alias("vi"))
            ),
            F.col("dim_i") == F.col("ddi"),
        )
        .join(
            F.broadcast(
                diag.select(F.col("dim_i").alias("ddj"), F.col("__cov").alias("vj"))
            ),
            F.col("dim_j") == F.col("ddj"),
        )
        .select(
            "dim_i",
            "dim_j",
            F.round(F.col("__cov"), 9).alias("cov_r"),
            F.round(corr, 6).alias("corr_r"),
        )
    )


def norm_outliers_scaled(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Per-group embedding-norm outliers: rows whose squared L2 norm
    sits more than ``z_threshold`` population standard deviations from
    their group's mean — the cheap anomaly screen a curation pass runs
    before trusting an embedding batch (truncated vectors, collapsed
    encoders, and scale drift all surface as norm outliers long before
    any similarity search notices).

    Engine-exact: components quantize to e6 integers, each row's
    squared norm is an INTEGER sum of squares (order-free), and the
    group moments are EXACT DECIMAL(38,0) sums of those integers and
    their squares (norm2 ≤ ~6.4e13 for 64 unit-ish dims, its square
    ~4e27 — far inside decimal38/HUGEINT). Only the final
    mean/variance/z divides are doubles with a fixed operation order,
    so the flagged set and z values hash-match a SQL oracle.

    Scale shape: one projection computes norm2; the per-group moment
    aggregate is map-side combined down to |groups| rows, which
    broadcast back onto the corpus — the corpus itself never
    shuffles. Groups with zero variance emit no outliers by
    construction.
    """
    e6 = F.transform(
        _as_double(vec_col),
        lambda x: F.floor(x * F.lit(1_000_000.0) + F.lit(0.5)).cast("bigint"),
    )
    norm2 = F.aggregate(
        e6, F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
    )
    # null embeddings out BEFORE the moments (r10 review: COUNT(*)
    # counted them while SUM skipped their null norms, deflating every
    # group mean/std and inflating real rows' z-scores — the module's
    # isNotNull convention, mirrored in the oracle)
    base = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(label_col), norm2.alias("__n2")
    )
    d19 = F.col("__n2").cast("decimal(19,0)")
    moments = base.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__n2").cast("decimal(38,0)")).alias("__s"),
        F.sum(d19 * d19).alias("__ss"),
    )
    nd = F.col("__n").cast("double")
    mean = F.col("__s").cast("double") / nd
    var = F.col("__ss").cast("double") / nd - mean * mean
    stats = moments.select(
        F.col(label_col).alias("__lbl"),
        mean.alias("__mean"),
        F.sqrt(var).alias("__std"),
    )
    z = (F.col("__n2").cast("double") - F.col("__mean")) / F.col("__std")
    return (
        base.join(
            F.broadcast(stats), F.col(label_col) == F.col("__lbl")
        )
        .filter(
            (F.col("__std") > 0) & (F.abs(z) > F.lit(float(z_threshold)))
        )
        .select(
            id_col,
            label_col,
            F.round(
                F.sqrt(F.col("__n2").cast("double")) / F.lit(1_000_000.0), 6
            ).alias("norm_r"),
            F.round(z, 6).alias("z_r"),
        )
    )


def label_agreement_scores(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    n_clusters: int = 16,
) -> DataFrame:
    """k-NN label-agreement (Confident-Learning-style noise screen):
    for each vector, the fraction of its cell-local top-``k`` cosine
    neighbors (``knn_graph_fixed_cells``) that carry the SAME label —
    near-zero agreement flags probable mislabels, the standard cheap
    pass before training on a labeled corpus. Vectors alone in their
    coarse cell have no neighbors and report ``n_neighbors = 0`` with
    a null ``agree_r`` (no evidence ≠ disagreement).

    Scale shape: the graph build dominates (see
    ``knn_graph_fixed_cells`` — cell-bounded, bucketable); attaching
    neighbor labels is an id-keyed equi-join against the (id, label)
    projection, the rollup is one integer aggregate, and the
    no-neighbor left join keys on the same id. Counts are integers,
    the ratio one IEEE divide — partition-invariant, SQL-replayable.
    """
    edges = knn_graph_fixed_cells(corpus, id_col, vec_col, k, n_clusters)
    labels = corpus.select(
        F.col(id_col).alias("__id"), F.col(label_col).alias("__lbl")
    )
    per_src = (
        edges.join(labels, F.col("src_id") == F.col("__id"))
        .withColumnRenamed("__lbl", "__src_lbl")
        .drop("__id")
        .join(labels, F.col("dst_id") == F.col("__id"))
        .groupBy("src_id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum(
                F.when(F.col("__src_lbl") == F.col("__lbl"), 1).otherwise(0)
            ).alias("n_same"),
        )
    )
    return (
        corpus.select(id_col, label_col)
        .join(per_src, F.col(id_col) == F.col("src_id"), "left")
        .select(
            id_col,
            label_col,
            F.coalesce(F.col("n_neighbors"), F.lit(0))
            .cast("bigint")
            .alias("n_neighbors"),
            F.coalesce(F.col("n_same"), F.lit(0))
            .cast("bigint")
            .alias("n_same"),
            F.round(F.col("n_same") / F.col("n_neighbors"), 6).alias(
                "agree_r"
            ),
        )
    )


def hard_negatives_fixed_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    n_clusters: int = 16,
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    each anchor vector, the top-``k`` highest-cosine corpus vectors
    carrying a DIFFERENT label — the "closest wrong answers" that make
    informative negatives (random negatives are trivially separable;
    hard ones carry the gradient signal). Mining is cell-local (the
    anchor's fixed-seed coarse cell), which is exactly how production
    miners work — negatives come from an ANN index's candidate
    buckets, not an exact corpus scan.

    Scale shape: identical to ``knn_graph_fixed_cells`` — assignment
    is a pure projection, candidates come from a ``cluster_id``
    equi-join (bucket the assigned corpus once at 100 TB and the join
    is shuffle-free), per-cell pair work bounded by the largest cell.
    The label-mismatch predicate rides the join condition, so
    same-label pairs never materialize. Fold cosines replay
    bit-for-bit in SQL. Anchors with no different-label cellmate emit
    no rows (no candidate ≠ a random fallback — callers that want
    fallback negatives union a seeded sample).
    """
    a = assign_fixed_clusters(
        corpus, id_col, vec_col, n_clusters, vectorized=False
    )
    labels = corpus.select(
        F.col(id_col).alias("__lid"), F.col(label_col).alias("__lbl")
    )
    a = a.join(labels, F.col("id") == F.col("__lid")).drop("__lid")
    l = a.select(
        F.col("id").alias("anchor_id"),
        F.col("vec").alias("avec"),
        F.col("nrm").alias("anrm"),
        F.col("__lbl").alias("anchor_label"),
        "cluster_id",
    )
    r = a.select(
        F.col("id").alias("negative_id"),
        F.col("vec").alias("nvec"),
        F.col("nrm").alias("nnrm"),
        F.col("__lbl").alias("neg_label"),
        F.col("cluster_id").alias("__cid_r"),
    )
    scored = l.join(
        r,
        (F.col("cluster_id") == F.col("__cid_r"))
        & (F.col("anchor_label") != F.col("neg_label")),
    ).withColumn(
        "cosine",
        dot_ref("avec", "nvec") / (F.col("anrm") * F.col("nnrm")),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "negative_id", "cosine", "rank")
    )


def power_iteration_top_eig(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 2,
    scale: float = 1_000_000.0,
) -> DataFrame:
    """Top covariance eigenvector by ``n_iter`` fixed power-iteration
    steps from the all-ones seed — the first principal component
    (dominant variance direction) that whitening, PCA compression, and
    embedding-drift monitoring all start from, computed without any
    ML library. Returns one row per dimension: ``(dim, v_r)`` — the
    L2-normalized iterate after ``n_iter`` multiplies — plus the
    Rayleigh-quotient eigenvalue estimate ``eig_r`` (same value on
    every row; kept long-form so the frame stays one well-typed
    table).

    Determinism: the matrix is ``covariance_scaled``'s 9-decimal
    ``cov_r`` (bit-identical doubles in every engine by construction);
    each matvec sums d=|dims| doubles and each normalization is a
    fixed-order divide, so cross-engine drift stays at libm-ulp scale
    and the 6-decimal output rounding absorbs it.

    Scale shape: the corpus is touched ONCE (the covariance pass —
    O(partitions·d²) shuffle, see ``covariance_scaled``); every
    iteration then runs on the d²-row matrix frame: the iterate (d
    rows) broadcasts onto the matrix, the matvec is one map-side
    combinable groupBy(dim), and normalizations are global windows
    over aggregation-collapsed d-row frames (the linter's
    collapsed-frame rule). Iterations are a Python loop over LAZY
    plan builders — n_iter is a small fixed constant, not data-driven
    driver control flow.
    """
    if n_iter < 2:
        raise ValueError("n_iter must be >= 2 (the Rayleigh estimate "
                         "needs one normalized iterate)")
    tri = covariance_scaled(corpus, id_col, vec_col, scale).select(
        "dim_i", "dim_j", F.col("cov_r").alias("c")
    )
    # mirror the upper triangle to the full symmetric matrix
    full = tri.union(
        tri.filter(F.col("dim_i") != F.col("dim_j")).select(
            F.col("dim_j").alias("dim_i"),
            F.col("dim_i").alias("dim_j"),
            "c",
        )
    ).localCheckpoint(eager=False)  # d² rows, reused every iteration
    wall = Window.partitionBy()
    # v0 = ones ⇒ the first matvec is a plain row-sum
    v = full.groupBy("dim_i").agg(F.sum("c").alias("__raw"))
    for _ in range(max(0, n_iter - 1)):
        vn = v.select(
            F.col("dim_i").alias("__j"),
            (
                F.col("__raw")
                / F.sqrt(F.sum(F.col("__raw") * F.col("__raw")).over(wall))
            ).alias("__v"),
        )
        v = (
            full.join(F.broadcast(vn), F.col("dim_j") == F.col("__j"))
            .groupBy("dim_i")
            .agg(F.sum(F.col("c") * F.col("__v")).alias("__raw"))
        )
        # Rayleigh quotient of the PREVIOUS normalized iterate:
        # λ ≈ vᵀ(Cv) with ‖v‖=1 — computed from this round's raw
        # product joined back onto v
        eig = (
            v.join(F.broadcast(vn), F.col("dim_i") == F.col("__j"))
            .select(F.sum(F.col("__raw") * F.col("__v")).over(wall).alias("e"))
            .limit(1)
        )
    out = v.select(
        "dim_i",
        (
            F.col("__raw")
            / F.sqrt(F.sum(F.col("__raw") * F.col("__raw")).over(wall))
        ).alias("__vf"),
    )
    return out.crossJoin(F.broadcast(eig)).select(
        F.col("dim_i").alias("dim"),
        F.round(F.col("__vf"), 6).alias("v_r"),
        F.round(F.col("e"), 6).alias("eig_r"),
    )

"""Semantics tests for the llmdata operators: MinHash-LSH recall vs
brute-force Jaccard, SimHash Hamming locality, embedding similarity
correctness vs numpy, text features, multimodal plumbing, and
dedup property tests (idempotence, one-row-per-key)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from idr_data_pipelines_spark.llmdata.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from idr_data_pipelines_spark.llmdata.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from idr_data_pipelines_spark.llmdata.text import add_text_features
from idr_data_pipelines_spark.llmdata.multimodal import (
    extract_media_meta,
    frame_sample_stub,
    with_binary_payload,
)


BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets "
    "behind distant mountains and rivers flow quietly to the ancient sea"
)


@pytest.fixture(scope="module")
def docs(spark):
    words = BASE.split()
    rows = []
    # family of near-duplicates: perturb one word at varying positions
    for i in range(6):
        w = list(words)
        w[5 + i] = f"tok{i}"
        rows.append((i, " ".join(w)))
    # unrelated documents
    rows.append((100, "completely different content about spark query engines and shuffles"))
    rows.append((101, "another unrelated text concerning medical facility registries in kenya"))
    rows.append((102, " ".join(words)))  # exact duplicate of the base, id 102
    rows.append((103, " ".join(words)))  # and another
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_minhash_lsh_finds_near_dups(docs):
    pairs = minhash_lsh_pairs(docs, num_perm=128, bands=32, jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # exact duplicates must always collide with jaccard 1.0
    assert (102, 103) in got
    # near-duplicate family largely recovered
    family = {(a, b) for a in range(6) for b in range(6) if a < b}
    recall = len(got & family) / len(family)
    assert recall >= 0.8
    # unrelated docs never pair with the family
    assert not any(a == 100 or b == 100 for a, b in got)


def test_minhash_jaccard_matches_exact(docs):
    pairs = minhash_lsh_pairs(docs, num_perm=128, bands=32, jaccard_threshold=0.0)
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, pairs.select("id_a", "id_b"), k=3
        ).collect()
    }
    for r in pairs.collect():
        key = (r["id_a"], r["id_b"])
        # hashed-shingle jaccard vs string-shingle jaccard
        assert abs(r["jaccard"] - exact[key]) < 1e-9


def test_simhash_locality(docs):
    sigs = {r["id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(sigs[102], sigs[103]) == 0           # identical text
    assert ham(sigs[0], sigs[1]) <= 16              # near dups are close
    assert ham(sigs[0], sigs[100]) > 16             # unrelated are far


def test_dedup_exact_idempotent(docs):
    once = dedup_exact(docs)
    twice = dedup_exact(once)
    assert once.count() == twice.count()
    # 102/103 collapse with the base duplicate family member id=? only
    # exact text matches collapse: base text appears for ids 102, 103
    texts = [r["text"] for r in once.collect()]
    assert len(texts) == len(set(texts))


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(50, 16).astype("float32")
    rows = [(i, vecs[i].tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cosine_topk_bruteforce(df, df.filter(F.col("vec_id") < 3), k=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        order = [
            int(j) for j in np.lexsort((np.arange(50), -sims[q]))
            if j != q
        ][:4]
        mine = [nid for _, nid, _ in sorted(got[q])]
        assert mine == order
        for rank, nid, cos in got[q]:
            assert abs(cos - sims[q, nid]) < 1e-6


def test_dot_norm_ref_match_fold_paths(spark):
    """r15: per-pair dots unroll the fixed common dimension (64) into a
    codegen'd multiply-add chain; any other size falls back to the
    identical interpreted fold. Both paths must be BIT-identical
    (struct-packed doubles) — including the 0.0D seed's IEEE
    placement, null elements, negative zeros, and the non-64 fallback
    branch. The folded ``norm`` is pinned bitwise to the same fold
    computed in Python (0.0 seed, left-associated adds, then sqrt)."""
    import math
    import random
    import struct as _s

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.similarity import (
        _UNROLL_DIM,
        dot,
        dot_ref,
        norm,
    )

    assert _UNROLL_DIM == 64
    rng = random.Random(0xD07)

    def vec(n):
        return [rng.uniform(-2, 2) for _ in range(n)]

    rows = [(i, vec(64), vec(64)) for i in range(40)]
    rows += [
        (100, [0.0] * 64, [-0.0] * 64),            # signed zeros
        (101, [-0.0] + vec(63), [1.0] * 64),       # -0.0 first slot
        (102, vec(64), [None] + vec(63)),          # null element
        (103, vec(16), vec(16)),                   # fallback branch
        (104, vec(65), vec(65)),                   # fallback branch
        (105, [], []),                             # empty arrays
        (106, [float("nan")] + vec(63), vec(64)),  # NaN propagation
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    got = df.select(
        "id",
        dot(F.col("a"), F.col("b")).alias("df"),
        dot_ref("a", "b").alias("du"),
        norm(F.col("a")).alias("nf"),
    ).collect()

    def pk(x):
        return None if x is None else _s.pack("d", x)

    def py_norm(a):
        acc = 0.0
        for x in a:
            if x is None:
                return None
            acc = acc + x * x
        return math.sqrt(acc)

    vecs = {i: a for i, a, _ in rows}
    for r in got:
        assert pk(r["df"]) == pk(r["du"]), (r["id"], r["df"], r["du"])
        want = py_norm(vecs[r["id"]])
        if want is not None and math.isnan(want):
            assert math.isnan(r["nf"]), r["id"]
        else:
            assert pk(r["nf"]) == pk(want), (r["id"], r["nf"], want)


def test_cosine_lsh_recall(spark):
    rng = np.random.RandomState(11)
    # clustered data so LSH buckets are meaningful
    centers = rng.randn(5, 16) * 3
    vecs = np.vstack([c + rng.randn(40, 16) * 0.3 for c in centers]).astype("float32")
    rows = [(i, vecs[i].tolist()) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(df, queries, k=5)
    approx = cosine_topk_lsh(df, queries, k=5, n_planes=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.6  # bucketed recall


def test_cosine_ivf_recall(spark):
    """IVF with nprobe=2 of 5 cells recovers most true neighbors on
    clustered data; nprobe = n_centroids recovers brute force exactly."""
    from idr_data_pipelines_spark.llmdata.similarity import cosine_topk_ivf

    rng = np.random.RandomState(23)
    centers = rng.randn(5, 16) * 3
    vecs = np.vstack([c + rng.randn(40, 16) * 0.3 for c in centers]).astype("float32")
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(len(vecs))], ["vec_id", "embedding"]
    )
    queries = df.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(df, queries, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    approx = cosine_topk_ivf(df, queries, k=5, n_centroids=5, nprobe=2, iters=2)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.8

    full = cosine_topk_ivf(df, queries, k=5, n_centroids=5, nprobe=5, iters=1)
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert f == e  # probing every cell == brute force


def test_text_features(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog."), (2, "el la de que y el la")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in add_text_features(df).collect()}
    assert rows[1]["n_tokens"] == 5
    assert rows[1]["lang_pred"] == "en"
    assert rows[2]["lang_pred"] == "es"
    assert 0 < rows[1]["punct_ratio"] < 0.2
    assert rows[1]["stopword_ratio"] > 0


def test_multimodal_meta_and_frames(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "x" * 100)], ["doc_id", "text"])
    with_bin = with_binary_payload(df, "text")
    meta = {r["doc_id"]: r for r in extract_media_meta(with_bin).collect()}
    assert meta[1]["n_bytes"] == 11
    assert meta[1]["width"] == 12 and meta[1]["height"] == 12
    assert meta[2]["n_bytes"] == 100
    assert len(meta[1]["checksum"]) == 32
    frames = frame_sample_stub(with_bin, every_n=10)
    by_doc = {}
    for r in frames.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 2   # 11 bytes / 10
    assert len(by_doc[2]) == 10  # 100 bytes / 10
    assert bytes(sorted(by_doc[1], key=lambda r: r["frame_idx"])[0]["frame_bytes"]) == b"hello worl"


def test_pq_assign_fixed_self_codewords(spark, sf_dir):
    """Codeword vectors must assign to THEMSELVES with distance 0 in
    every subspace (the codebook is the vec_id<16 rows), and every
    vector gets exactly n_subspaces codes in [0, 16)."""
    from idr_data_pipelines_spark.llmdata.similarity import pq_assign_fixed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = pq_assign_fixed(emb, n_centroids=16, n_subspaces=4, dim=64)
    rows = out.collect()
    n_vec = emb.count()
    assert len(rows) == 4 * n_vec
    for r in rows:
        assert 0 <= r["code"] < 16 and 0 <= r["subspace"] < 4
        assert r["dist_r"] >= 0.0
        if r["vec_id"] < 16:
            assert r["code"] == r["vec_id"] and r["dist_r"] == 0.0, r


def test_decode_image_real_or_loud(spark):
    """``decode_image`` must be a REAL Pillow decode when PIL is
    importable and a loud ``NotImplementedError`` when it is not —
    never stub geometry masquerading as a decode. Both branches of
    the gate are asserted; which one runs depends on the environment
    (this container has no PIL; a golden-image rig does)."""
    import importlib.util

    import pytest

    from idr_data_pipelines_spark.llmdata.multimodal import (
        decode_image,
        resize_image,
    )

    if importlib.util.find_spec("PIL") is None:
        with pytest.raises(NotImplementedError, match="Pillow"):
            decode_image(b"\x89PNG\r\n\x1a\n")
        with pytest.raises(NotImplementedError, match="Pillow"):
            resize_image(b"\x89PNG\r\n\x1a\n")
        return

    # golden path: a synthetic 8x6 PNG round-trips through decode and
    # the pluggable extract_media_meta decoder, and resize_image
    # quarters each dimension
    import io

    import PIL.Image

    buf = io.BytesIO()
    PIL.Image.new("RGB", (8, 6), (200, 10, 10)).save(buf, format="PNG")
    png = buf.getvalue()
    assert decode_image(png) == (8, 6)
    small = resize_image(png, factor=2)
    assert decode_image(small) == (4, 3)

    df = spark.createDataFrame([(1, bytearray(png), "image")],
                               "doc_id long, payload binary, media_type string")
    row = extract_media_meta(df, decoder=decode_image).collect()[0]
    assert (row["width"], row["height"]) == (8, 6)
    assert row["n_bytes"] == len(png)


def test_null_text_yields_null_signatures(spark):
    """Null documents must produce null signatures in BOTH MinHash hash
    families — they share one numpy kernel, which used to crash on
    len(None) — and in SimHash. Whitespace-only text and text shorter
    than k tokens still sign (one whole-text shingle), and no null-text
    doc reaches any md5-family pair output."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        _MD5,
        _signatures,
        minhash_md5_estimate_pairs,
        minhash_md5_incremental_pairs,
        minhash_md5_lsh_pairs,
    )

    df = spark.createDataFrame(
        [(1, "some real text here"), (2, None), (3, "other words entirely"),
         (4, "   "), (5, "two words"), (6, "  "), (7, "Two  words"),
         (8, None)],
        "doc_id long, text string",
    )
    null_ids = {2, 8}
    families = {
        "xxhash64": lambda d: minhash_signatures(d, num_perm=16),
        "md5": lambda d: _signatures(_MD5, d, "doc_id", "text", 16, 3),
    }
    for name, sign in families.items():
        sigs = {r["id"]: r["signature"] for r in sign(df).collect()}
        assert {i for i, s in sigs.items() if s is None} == null_ids, name
        assert all(len(sigs[i]) == 16 for i in (1, 3, 4, 5, 6, 7)), name
        # whitespace-only and short docs: one whole-text shingle each
        assert sigs[4] == sigs[6] and sigs[5] == sigs[7], name
    sims = {r["id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert sims[2] is None and sims[1] is not None

    def ids(rows, a, b):
        return {(r[a], r[b]) for r in rows}

    lsh = ids(minhash_md5_lsh_pairs(df).collect(), "id_a", "id_b")
    est = ids(minhash_md5_estimate_pairs(df).collect(), "id_a", "id_b")
    is_batch = F.col("doc_id").isin(2, 4, 7)
    inc = ids(
        minhash_md5_incremental_pairs(
            df.filter(is_batch), df.filter(~is_batch)
        ).collect(),
        "id_new",
        "id_old",
    )
    assert {(4, 6), (5, 7)} <= lsh and {(4, 6), (5, 7)} <= est
    assert {(4, 6), (7, 5)} <= inc
    for got in (lsh, est, inc):
        assert not {i for p in got for i in p} & null_ids, got


def test_winnow_fingerprints(spark):
    """Winnowing guarantee (SIGMOD'03): documents sharing a run of
    ≥ window+k-1 tokens share ≥1 fingerprint; identical docs share all;
    a local edit preserves most fingerprints."""
    from idr_data_pipelines_spark.llmdata.text import winnow_fingerprint_table

    shared_run = " ".join(f"common{i}" for i in range(40))  # ≥ w+k-1 = 7 tokens
    rows = [
        (1, "alpha beta gamma " + shared_run + " delta epsilon"),
        (2, "totally different prefix words " + shared_run),
        (3, "alpha beta gamma " + shared_run + " delta epsilon"),  # == doc 1
        (4, "unrelated content with no overlap at all whatsoever here"),
        (5, "alpha beta gamma " + shared_run.replace("common5", "EDITED") + " delta epsilon"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {
        r["id"]: set(r["fingerprints"])
        for r in winnow_fingerprint_table(df, k=4, window=4).collect()
    }
    assert fps[1] == fps[3]                       # identical text
    assert fps[1] & fps[2]                        # shared run ≥ w+k-1
    assert not (fps[1] & fps[4])                  # no overlap
    overlap = len(fps[1] & fps[5]) / len(fps[1] | fps[5])
    assert overlap > 0.5                          # local edit → most kept
    # compression: far fewer fingerprints than k-grams
    n_tokens = len(rows[0][1].split())
    assert 0 < len(fps[1]) < n_tokens - 4 + 1


def test_signatures_invariant_to_partitioning(spark, docs):
    """Signatures must be identical regardless of how the input is
    partitioned — the determinism-across-cluster-sizes claim."""
    a = {r["id"]: list(r["signature"]) for r in
         minhash_signatures(docs.repartition(1), num_perm=32).collect()}
    b = {r["id"]: list(r["signature"]) for r in
         minhash_signatures(docs.repartition(7), num_perm=32).collect()}
    assert a == b
    sa = {r["id"]: r["simhash"] for r in
          simhash_signatures(docs.repartition(1)).collect()}
    sb = {r["id"]: r["simhash"] for r in
          simhash_signatures(docs.repartition(7)).collect()}
    assert sa == sb


def test_groupby_max_one_row_per_key(spark):
    """Property: group-max dedup yields exactly one row per key and is
    idempotent (SURVEY §5)."""
    from idr_data_pipelines_spark.operators import dedup_groupby_max

    rows = [(k % 7, k, float(k * 3 % 11)) for k in range(100)]
    df = spark.createDataFrame(rows, ["k", "a", "b"])
    once = dedup_groupby_max(df, ["k"])
    assert once.count() == 7
    assert once.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    twice = dedup_groupby_max(once, ["k"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


# --------------------------------------------------------- count-min

def test_count_min_upper_bound_and_exactness(spark):
    """CMS guarantees: est(k) ≥ true(k) always; with width far above
    the key cardinality (no collisions for this fixed seed) the
    estimate is exact; narrow width stays within the ε·N Cormode bound
    for every key (deterministic given the seeded hash family)."""
    import math

    from idr_data_pipelines_spark.llmdata.sketches import (
        count_min_build,
        count_min_estimate,
    )

    # zipf-ish skew: key i appears (20 - i)^2 times, 20 keys
    rows = [(f"k{i:02d}",) for i in range(20) for _ in range((20 - i) ** 2)]
    df = spark.createDataFrame(rows, ["key"])
    exact = {r["key"]: r["n"] for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_total = sum(exact.values())
    keys = df.select("key").distinct()

    for depth, width in [(4, 8), (4, 1024)]:
        sketch = count_min_build(df, "key", depth=depth, width=width)
        est = {
            r["key"]: r["est_count"]
            for r in count_min_estimate(sketch, keys, "key", depth=depth, width=width).collect()
        }
        assert set(est) == set(exact)
        for k in exact:
            assert est[k] >= exact[k], (depth, width, k)
            assert est[k] <= exact[k] + math.ceil(math.e / width * n_total)
    # wide sketch: no collisions at 20 keys / 1024 buckets (fixed seed)
    assert est == exact


def test_count_min_topk_finds_heavy_hitters(spark):
    from idr_data_pipelines_spark.llmdata.sketches import count_min_topk

    rows = [(f"k{i:02d}",) for i in range(20) for _ in range((20 - i) ** 2)]
    df = spark.createDataFrame(rows, ["key"])
    top = count_min_topk(df, "key", k=3, depth=4, width=1024).collect()
    assert [r["key"] for r in top] == ["k00", "k01", "k02"]
    assert top[0]["est_count"] == 400


def test_assign_global_ids_contiguous_and_partition_invariant(spark):
    """Ids are exactly 0..N−1, ordered by the key, and identical
    whatever the input partitioning; the table is range-shuffled and
    sequenced exactly once — both branches read the CHECKPOINTED
    frame (r09 review: the previous design relied on AQE shuffle
    reuse, and two independent executions of repartitionByRange can
    sample different range bounds — RangePartitioner's seed derives
    from the RDD id — silently corrupting ids)."""
    from idr_data_pipelines_spark.llmdata.sampling import assign_global_ids

    df = spark.range(0, 5000).select((F.col("id") * 7 % 10007).alias("k"))
    out = assign_global_ids(df, "k", num_partitions=8)
    rows = out.collect()
    assert sorted(r["global_id"] for r in rows) == list(range(5000))
    by_key = sorted(rows, key=lambda r: r["k"])
    assert [r["global_id"] for r in by_key] == list(range(5000))
    out2 = assign_global_ids(df.repartition(13), "k", num_partitions=8)
    assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, rows))
    # both consumers read the one materialized partitioning: the final
    # plan scans the checkpoint RDD and contains NO range exchange of
    # its own (the range shuffle ran once, inside the checkpoint)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Scan ExistingRDD" in final, final
    assert "rangepartitioning" not in final, final


def test_misra_gries_bounds_and_hitters(spark):
    """MG guarantees: every estimate is an under-estimate within N/m of
    the true count, every key with true count > N/m survives into the
    merged summary, and state never exceeds m-1 entries. m=8 over a
    zipf-ish 20-key stream forces heavy eviction."""
    from idr_data_pipelines_spark.llmdata.sketches import misra_gries_topk

    rows = [(f"k{i:02d}",) for i in range(20) for _ in range((20 - i) ** 2)]
    df = spark.createDataFrame(rows, ["key"]).repartition(4)
    exact = {
        r["key"]: r["n"]
        for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(exact.values())
    m = 8
    # k=m so the final limit never trims the summary (summary ≤ m-1)
    summary = {
        r["key"]: r["est_count"]
        for r in misra_gries_topk(df, "key", m=m, k=m).collect()
    }
    assert len(summary) <= m - 1
    for key, est in summary.items():
        assert est <= exact[key], key
        assert exact[key] - est <= n_total / m, key
    for key, true in exact.items():
        if true > n_total / m:
            assert key in summary, (key, true, n_total / m)
    # exactness when state is never pressured: m above cardinality
    wide = {
        r["key"]: r["est_count"]
        for r in misra_gries_topk(df, "key", m=64, k=64).collect()
    }
    assert wide == exact


# ---------------------------------------------- deterministic sampling

def test_sample_hash_mod_stable_under_partitioning(spark):
    """The property df.sample lacks: membership is a pure function of
    the key, so repartitioning (≙ changing cluster size) and rerunning
    yield the identical sample."""
    from idr_data_pipelines_spark.llmdata.sampling import sample_hash_mod

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r["k"] for r in sample_hash_mod(df.repartition(1), "k", 0.3).collect()}
    b = {r["k"] for r in sample_hash_mod(df.repartition(13), "k", 0.3).collect()}
    assert a == b
    # roughly the requested fraction (hash-uniform; fixed data ⇒ fixed count)
    assert 0.25 < len(a) / 2000 < 0.35


def test_split_train_holdout_stable_as_corpus_grows(spark):
    """A document's split never changes when the corpus is extended —
    the no-leakage-across-runs property."""
    from idr_data_pipelines_spark.llmdata.sampling import split_train_holdout

    small = spark.range(0, 500).withColumnRenamed("id", "k")
    big = spark.range(0, 1500).withColumnRenamed("id", "k")
    s = {r["k"]: r["split"] for r in split_train_holdout(small, "k", 0.2).collect()}
    g = {r["k"]: r["split"] for r in split_train_holdout(big, "k", 0.2).collect()}
    assert all(g[k] == v for k, v in s.items())
    assert set(g.values()) == {"train", "holdout"}
    frac = sum(1 for v in g.values() if v == "holdout") / len(g)
    assert 0.15 < frac < 0.25


def test_mix_weighted_ratios_and_determinism(spark):
    from idr_data_pipelines_spark.llmdata.sampling import mix_weighted

    rows = [(i, ["web", "books", "code"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, ["k", "src"])
    out = mix_weighted(df, "src", "k", {"web": 1.0, "books": 0.5, "code": 0.0})
    counts = {r["src"]: r["n"] for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["web"] == 1000          # weight 1.0 keeps everything
    assert 400 < counts.get("books", 0) < 600
    assert "code" not in counts           # weight 0 and absent sources drop


def test_pack_sequences_contiguous_windows(spark):
    """Greedy contiguous packing: offset ∈ [0, max), pack boundaries
    fall exactly every max_tokens laid end-to-end, per shard."""
    from idr_data_pipelines_spark.llmdata.sampling import pack_sequences

    rows = [(i, "s" + str(i % 2), 30 + (i * 7) % 50) for i in range(40)]
    df = spark.createDataFrame(rows, ["k", "shard", "toks"])
    out = pack_sequences(df, "toks", "k", max_tokens=100, shard_col="shard").collect()
    by_shard: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["k"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, docs in by_shard.items():
        cum = 0
        for r in docs:
            assert r["pack_id"] == cum // 100
            assert r["pack_offset"] == cum % 100
            cum += r["toks"]
        # every pack id up to the last is hit by some doc start or straddle
        assert docs[0]["pack_id"] == 0


# ------------------------------------------------- connected components

def test_connected_components_chains_and_islands(spark):
    """Multi-hop chains collapse to one component; disjoint islands
    stay apart; a 120-node path converges well inside the iteration
    cap (pointer doubling ⇒ O(log n) rounds, ~7 here)."""
    from idr_data_pipelines_spark.llmdata.dedup import connected_components

    # path 0-1-2-...-119 plus island {500,501}, {600}
    edges = [(i, i + 1) for i in range(119)] + [(500, 501)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    comp = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert all(comp[i] == 0 for i in range(120))
    assert comp[500] == comp[501] == 500
    assert 600 not in comp  # isolated vertices aren't in the edge set


def test_connected_components_conf_restored(spark):
    """r15 single-writer contract (VERDICT r14 item 5): the loop
    narrows ``spark.sql.shuffle.partitions`` session-wide for its
    own shuffles and MUST restore it on every exit path — normal
    convergence AND the non-convergence error (a 120-node path needs
    6 label-changing rounds, so max_iter=2 must raise; the exact
    boundary is pinned by test_connected_components_max_iter_boundary);
    adequate max_iter converges."""
    import pytest as _pt

    from idr_data_pipelines_spark.llmdata.dedup import connected_components

    before = spark.conf.get("spark.sql.shuffle.partitions")
    edges = [(i, i + 1) for i in range(119)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    connected_components(df).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    with _pt.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_connected_components_max_iter_boundary(spark):
    """The ``max_iter`` bound is checked once per two-round superstep,
    so it holds up to one round. The 8-node path 0-1-…-7 takes three
    label-changing rounds (labels after each: 0 0 0 1 2 3 4 5 →
    0 0 0 0 0 0 0 1 → all 0); the third is the FIRST round of the
    second superstep, whose second round changes nothing. So the
    smallest max_iter that returns is 2, one below the three changing
    rounds, and it returns the true fixed point; max_iter=1 raises."""
    import pytest as _pt

    from idr_data_pipelines_spark.llmdata.dedup import connected_components

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["component"] for r in connected_components(df, max_iter=2).collect()}
    assert got == {i: 0 for i in range(8)}
    with _pt.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


def test_dedup_cluster_collapse_survivor_policy(spark):
    from idr_data_pipelines_spark.llmdata.dedup import dedup_cluster_collapse

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"])
    kept_min = sorted(
        r["doc_id"] for r in dedup_cluster_collapse(docs, pairs, keep="min").collect()
    )
    kept_max = sorted(
        r["doc_id"] for r in dedup_cluster_collapse(docs, pairs, keep="max").collect()
    )
    assert kept_min == [0, 3, 4]   # {0,1,2}→0, {3}→3, {4,5}→4
    assert kept_max == [2, 3, 5]


def test_hll_union_accuracy(spark, sf_dir):
    """DataSketches HLL: per-type sketches merged via hll_union_agg
    must estimate overall distinct users within 5% of exact."""
    from idr_data_pipelines_spark.queries import _events, q_sketch_hll_union

    rows = {r["event_type"]: r["approx_users"]
            for r in q_sketch_hll_union(spark, sf_dir).collect()}
    ev = _events(spark, sf_dir)
    exact = ev.select("user_id").distinct().count()
    assert abs(rows["ALL"] - exact) / exact < 0.05
    # per-type estimates can't exceed the union's support meaningfully
    assert all(v <= rows["ALL"] * 1.05 for k, v in rows.items() if k != "ALL")


# ------------------------------------------- decontaminate / filters / redact

def test_decontaminate_flags_and_drops_leaked_docs(spark):
    """A training doc embedding a benchmark passage is fully flagged;
    clean docs survive decontaminate() untouched."""
    from idr_data_pipelines_spark.llmdata.decontaminate import (
        contamination_scores,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "quick brown fox jumps over the lazy"),      # pure subset → 1.0
            (2, "totally unrelated words about spark jobs"), # clean → 0.0
            (3, "prefix words then quick brown fox suffix"), # partial overlap
        ],
        ["doc_id", "text"],
    )
    sc = {r["doc_id"]: r for r in
          contamination_scores(corpus, bench, k=3).collect()}
    assert sc[1]["contam_ratio"] == 1.0
    assert sc[2]["contam_ratio"] == 0.0
    assert 0.0 < sc[3]["contam_ratio"] < 1.0
    kept = sorted(r["doc_id"]
                  for r in decontaminate(corpus, bench, k=3, max_ratio=0.5).collect())
    assert kept == [2, 3]


def test_repetition_metrics_semantics(spark):
    """Known-answer repetition fractions, including newline dup-line
    handling and short-doc guards."""
    from idr_data_pipelines_spark.llmdata.filters import repetition_metrics

    rows = [
        (1, "a b a b a b"),              # toks=6 distinct=2; bigrams: ab×3,ba×2 → top 3/5
        (2, "x\ny\nx\nz"),               # 4 lines, 3 distinct → dup_line 0.25
        (3, "single"),                   # 1 token → all zeros
        (4, "all words here are unique"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    m = repetition_metrics("text")
    got = {r["doc_id"]: r for r in
           df.select("doc_id", *[F.expr(v).alias(k) for k, v in m.items()]).collect()}
    assert abs(got[1]["dup_word_frac"] - (1 - 2 / 6)) < 1e-12
    assert abs(got[1]["top_bigram_frac"] - 3 / 5) < 1e-12
    assert abs(got[2]["dup_line_frac"] - 0.25) < 1e-12
    assert got[3]["dup_word_frac"] == 0.0
    assert got[3]["top_bigram_frac"] == 0.0
    assert got[4]["dup_word_frac"] == 0.0
    assert got[4]["top_trigram_frac"] == 1 / 3  # 3 distinct trigrams, top=1


# Rows for the text-builder value tests: every branch (empty, 1-token,
# < k tokens, exactly k, dup-heavy, newline dups, whitespace runs, a
# backtick in the text), every ASCII whitespace character, and U+00A0.
# Under Java's default ``\s`` only space, TAB, LF, VT, FF and CR
# separate tokens; the other ASCII whitespace (FS, GS, RS, US) and
# U+00A0 are word characters, and ``trim`` strips spaces only.
_TEXT_ROWS = [
    (1, "a b a b a b"),
    (2, "x\ny\nx\nz"),
    (3, "single"),
    (4, "all words here are unique"),
    (5, ""),
    (6, "  spaced   out   tokens  "),
    (7, "tick ` mark ` tick"),
    (8, "w w w w w w w w w w"),
    (9, "one two"),
    (10, "x y z"),
    (11, "\tLead a\tb\nc\x0bd\x0ce\rf\r\nA  b\x1c\x1d\x1e\x1fg a b\n"),
    (12, "a b c a b c"),
]


def _py_tokens(text):
    r"""Python reference of the word tokenizer: Spark's ``trim`` (spaces
    only), lowercase, split on runs of Java's ``\s`` (leading and
    trailing empty tokens kept, as Java's ``split(regex, -1)``)."""
    import re

    return re.split("[ \t\n\x0b\x0c\r]+", text.strip(" ").lower())


def _py_kgrams(toks, k):
    return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]


def _distinct(xs):
    return list(dict.fromkeys(xs))


def _text_conf_cases(spark):
    """Yield once per ``spark.sql.parser.escapedStringLiterals`` value;
    the builders' literals must parse the same under both."""
    key = "spark.sql.parser.escapedStringLiterals"
    try:
        for v in ("false", "true"):
            spark.conf.set(key, v)
            yield v
    finally:
        spark.conf.set(key, "false")


def test_repetition_metrics_match_python_reference(spark):
    """The repetition fractions and the Gopher pass flag equal a Python
    reference, bitwise (doubles compared by struct packing), under
    both ``escapedStringLiterals`` values."""
    import struct as _s
    from collections import Counter

    from idr_data_pipelines_spark.llmdata.filters import (
        _gopher_pass_from,
        gopher_repetition_pass,
        repetition_metrics,
    )

    def frac(xs):
        n = len(xs)
        return 0.0 if n <= 1 else 1.0 - float(len(set(xs))) / float(n)

    def top(toks, k):
        if len(toks) < k:
            return 0.0
        grams = _py_kgrams(toks, k)
        return float(max(Counter(grams).values())) / float(len(grams))

    want = {}
    for i, t in _TEXT_ROWS:
        toks = _py_tokens(t)
        want[i] = {
            "dup_word_frac": frac(toks),
            "dup_line_frac": frac(t.split("\n")),
            "top_bigram_frac": top(toks, 2),
            "top_trigram_frac": top(toks, 3),
        }
    df = spark.createDataFrame(_TEXT_ROWS, ["doc_id", "text"])
    for conf in _text_conf_cases(spark):
        m = repetition_metrics("text")
        got = df.select(
            "doc_id",
            *[F.expr(v).alias(k) for k, v in m.items()],
            F.expr(gopher_repetition_pass("text")).alias("pass"),
            F.expr(_gopher_pass_from(m)).alias("pass_from"),
        ).collect()
        assert len(got) == len(_TEXT_ROWS)
        for r in got:
            w = want[r["doc_id"]]
            for k, v in w.items():
                assert _s.pack("d", r[k]) == _s.pack("d", v), (
                    conf, r["doc_id"], k, r[k], v)
            ok = (
                w["dup_line_frac"] <= 0.30
                and w["top_bigram_frac"] <= 0.20
                and w["top_trigram_frac"] <= 0.18
            )
            assert r["pass"] == r["pass_from"] == ok, (conf, r["doc_id"])


def test_shingle_builders_match_python_reference(spark):
    """Shingle strings and md5-32 shingle hashes equal a Python
    reference; positional xxhash64 shingle hashes equal literal
    ``xxhash64(xxhash64('a'), …)`` selects (documents shorter than k
    fold their token hashes from ``0L``). Checked under both
    ``escapedStringLiterals`` values."""
    import hashlib

    import pytest as _pt

    from idr_data_pipelines_spark.llmdata.dedup import (
        md5_shingle_hashes,
        shingle_hashes,
        shingle_hashes_positional,
        word_shingles,
    )

    def py_shingles(toks, k):
        return [" ".join(toks)] if len(toks) < k else _distinct(_py_kgrams(toks, k))

    def md5_32(s):
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)

    def xx_sql(toks, k):
        for t in toks:
            assert "'" not in t and "\\" not in t, t
        hs = [f"xxhash64('{t}')" for t in toks]
        if len(hs) < k:
            whole = "CAST(0 AS BIGINT)"
            for h in hs:
                whole = f"xxhash64({whole}, {h})"
            return f"array({whole})"
        grams = [
            f"xxhash64({', '.join(hs[i:i + k])})"
            for i in range(len(hs) - k + 1)
        ]
        return f"array({', '.join(grams)})"

    df = spark.createDataFrame(_TEXT_ROWS, ["doc_id", "text"])
    for conf in _text_conf_cases(spark):
        got = {
            r["doc_id"]: r
            for r in df.select(
                "doc_id",
                F.expr(word_shingles("text", 2)).alias("ws2"),
                F.expr(word_shingles("text", 3)).alias("ws3"),
                F.expr(shingle_hashes_positional("text", 3)).alias("shp3"),
                F.expr(shingle_hashes("text", 3)).alias("sh3"),
                F.expr(md5_shingle_hashes("text", 3)).alias("md5sh3"),
            ).collect()
        }
        lit = spark.range(1).select(
            *[
                F.expr(xx_sql(_py_tokens(t), 3)).alias(f"r{i}")
                for i, t in _TEXT_ROWS
            ]
        ).first()
        assert sorted(got) == [i for i, _ in _TEXT_ROWS]
        for i, t in _TEXT_ROWS:
            toks, r = _py_tokens(t), got[i]
            assert r["ws2"] == py_shingles(toks, 2), (conf, i)
            assert r["ws3"] == py_shingles(toks, 3), (conf, i)
            assert r["md5sh3"] == _distinct(
                md5_32(s) for s in py_shingles(toks, 3)
            ), (conf, i)
            assert r["shp3"] == lit[f"r{i}"], (conf, i)
            assert r["sh3"] == _distinct(lit[f"r{i}"]), (conf, i)
    for fn in (word_shingles, shingle_hashes_positional, md5_shingle_hashes):
        with _pt.raises(ValueError):
            fn("text", 0)


def test_band_struct_sql_paths_match_column_paths(spark):
    """The one LSH band renderer (``_band_structs_sql``, one parsed SQL
    string — the Column build cost ~0.5 s of py4j per call at
    bands=16) keys band b by its hash family's expression over slots
    b·r+1 … b·r+r: xxhash64 of the slots in production,
    ``concat_ws('_', …)`` of the slots cast to string in the portable
    md5 family. Checked against the same expressions built with the
    Column API, edge-value slots (0, −1, ±2⁶³) included."""
    import random

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.dedup import (
        _MD5,
        _XXHASH64,
        _band_structs_sql,
    )

    rng = random.Random(0xB00)
    rows = [
        (i, [rng.randrange(0, 1 << 40) for _ in range(16)])
        for i in range(64)
    ]
    # negative / zero / max-long slots exercise cast+hash edge cases
    rows.append((64, [0, -1, (1 << 63) - 1, -(1 << 63)] * 4))
    df = spark.createDataFrame(rows, ["id", "signature"])
    for bands, r in ((4, 4), (8, 2), (16, 1)):
        slots = [
            [F.element_at("signature", b * r + j + 1) for j in range(r)]
            for b in range(bands)
        ]
        got = df.select(
            "id",
            F.expr(_band_structs_sql(_XXHASH64, "`signature`", bands, r)).alias(
                "x"
            ),
            F.expr(_band_structs_sql(_MD5, "`signature`", bands, r)).alias("m"),
            F.array(*[F.xxhash64(*s) for s in slots]).alias("x_want"),
            F.array(
                *[F.concat_ws("_", *[c.cast("string") for c in s]) for s in slots]
            ).alias("m_want"),
        ).collect()
        for row in got:
            for fam in ("x", "m"):
                assert [b["band_idx"] for b in row[fam]] == list(range(bands))
                assert [b["band_key"] for b in row[fam]] == row[fam + "_want"], (
                    fam, bands, r, row["id"],
                )


def test_text_builders_take_column_names(spark):
    """The SQL-text builders take a column NAME. Each dot-separated
    part is backtick-quoted, so a struct field (``meta.text``) and a
    name with a space (``a b``) resolve like ``F.col`` resolves them;
    a ``Column`` argument raises ``TypeError`` and a name containing a
    backtick raises ``ValueError``. Output is identical on a thread
    with no active session of its own while the session parses
    literals with ``escapedStringLiterals=true``."""
    import threading

    import pytest as _pt

    from idr_data_pipelines_spark.llmdata.dedup import (
        md5_shingle_hashes,
        shingle_hashes,
        shingle_hashes_positional,
        word_shingles,
    )
    from idr_data_pipelines_spark.llmdata.filters import (
        dup_line_fraction,
        dup_word_fraction,
        top_ngram_fraction,
    )
    from idr_data_pipelines_spark.llmdata.redact import pii_counts, redact_pii
    from idr_data_pipelines_spark.llmdata.sampling import hash_bucket
    from idr_data_pipelines_spark.llmdata.text import (
        bpe_token_estimate,
        fingerprint,
        lang_id,
        quality_score,
        token_count,
        winnow_fingerprints,
        winnow_md5_fingerprints,
    )

    builders = {
        "tc": token_count,
        "bpe": bpe_token_estimate,
        "lang": lang_id,
        "fp": fingerprint,
        "sw": lambda n: quality_score(n)["stopword_ratio"],
        "red": redact_pii,
        "pii": lambda n: pii_counts(n)["n_email"],
        "hb": lambda n: hash_bucket(n, 97, "s"),
        "ws": lambda n: word_shingles(n, 2),
        "shp": lambda n: shingle_hashes_positional(n, 3),
        "sh": lambda n: shingle_hashes(n, 3),
        "md5": lambda n: md5_shingle_hashes(n, 3),
        "wn": lambda n: winnow_fingerprints(n, 2, 2),
        "wn5": lambda n: winnow_md5_fingerprints(n, 2, 2),
        "dw": dup_word_fraction,
        "dl": dup_line_fraction,
        "top": lambda n: top_ngram_fraction(n, 2),
    }
    texts = ["x y z", "a b\na b\tc", "Dup dup  dup"]
    df = spark.createDataFrame(
        [(i, t, t, (t,)) for i, t in enumerate(texts)],
        "id int, text string, `a b` string, meta struct<text:string>",
    )

    def run(name):
        return df.select(
            "id", *[F.expr(b(name)).alias(k) for k, b in builders.items()]
        ).orderBy("id").collect()

    base = run("text")
    assert base[0]["ws"] == ["x y", "y z"]
    assert run("meta.text") == base
    assert run("a b") == base
    for k, b in builders.items():
        with _pt.raises(TypeError):
            b(F.col("text"))
        for bad in ("`text`", "a`b"):
            with _pt.raises(ValueError):
                b(bad)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        seen = []
        t = threading.Thread(target=lambda: seen.append(run("text")))
        t.start()
        t.join()
        assert seen == [base]
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")


def test_redact_pii_classes_and_order(spark):
    """Every PII class redacts to its typed token; IPv4 is not eaten
    by the phone pattern; counts audit the raw text."""
    from idr_data_pipelines_spark.llmdata.redact import scrub_documents

    df = spark.createDataFrame(
        [(1, "mail a.b+c@d-e.org, ip 10.20.30.40, ssn 123-45-6789, "
             "call 555-123-4567 twice 555 1234 5678")],
        ["doc_id", "text"],
    )
    r = scrub_documents(df).collect()[0]
    assert "<EMAIL>" in r["text"] and "@" not in r["text"]
    assert "<IPV4>" in r["text"] and "10.20.30.40" not in r["text"]
    assert "<SSN>" in r["text"]
    assert r["text"].count("<PHONE>") == 2
    assert (r["n_email"], r["n_ipv4"], r["n_ssn"], r["n_phone"]) == (1, 1, 1, 2)


def test_redact_pii_international_phone_prefix(spark):
    """r10 review: '\\b\\+?' could never consume a leading '+' (no
    word boundary between space and '+'), leaving '+<PHONE>' in the
    redacted text — the '+' must be swallowed by the match."""
    from idr_data_pipelines_spark.llmdata.redact import scrub_documents

    df = spark.createDataFrame(
        [(1, "call me at +555-123-4567 ok")], ["doc_id", "text"]
    )
    r = scrub_documents(df).collect()[0]
    assert "+<PHONE>" not in r["text"]
    assert "<PHONE>" in r["text"] and "+" not in r["text"]
    assert r["n_phone"] == 1


# ---------------------------------------------- stratified / budget sampling

def test_sample_stratified_exact_counts_and_stability(spark, sf_dir):
    """Every stratum yields exactly min(n, stratum_size) rows, and the
    selection is stable under repartitioning (pure function of key)."""
    from idr_data_pipelines_spark.llmdata.sampling import sample_stratified

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    out = sample_stratified(docs, ["lang"], 40, "doc_id")
    sizes = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {l: min(40, n) for l, n in sizes.items()}
    again = sample_stratified(docs.repartition(7), ["lang"], 40, "doc_id")
    assert sorted(r["doc_id"] for r in again.collect()) == \
           sorted(r["doc_id"] for r in out.collect())


def test_sample_token_budget_greedy_prefix(spark, sf_dir):
    """Kept rows' tokens-before < budget everywhere; per group either
    the budget is reached-or-straddled, or the whole group was kept."""
    from idr_data_pipelines_spark.llmdata.sampling import sample_token_budget

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars")
    budget = 20_000
    out = sample_token_budget(docs, "n_chars", budget, "doc_id",
                              group_col="source", cum_col="cum")
    rows = out.collect()
    assert all(r["cum"] < budget for r in rows)
    kept_sum = {}
    for r in rows:
        kept_sum[r["source"]] = kept_sum.get(r["source"], 0) + r["n_chars"]
    total = {r["source"]: r["s"] for r in
             docs.groupBy("source").agg(F.sum("n_chars").alias("s")).collect()}
    for src, s in kept_sum.items():
        assert s >= budget or s == total[src], (src, s)


def test_cosine_quantized_recall_and_exact_scores(spark):
    """int8 two-stage ANN: high recall vs brute force at 4× oversample,
    and the REPORTED cosine of any agreeing pair is the exact float
    value (re-rank stage), not the quantized approximation."""
    from idr_data_pipelines_spark.llmdata.similarity import cosine_topk_quantized

    rng = np.random.RandomState(7)
    vecs = rng.randn(150, 16).astype("float32")
    rows = [(i, vecs[i].tolist()) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in cosine_topk_bruteforce(df, queries, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]): r["cosine"]
              for r in cosine_topk_quantized(df, queries, k=5, oversample=4).collect()}
    hits = set(exact) & set(approx)
    assert len(hits) / len(exact) >= 0.9
    for key in hits:
        assert abs(exact[key] - approx[key]) < 1e-12  # exact re-rank


def test_mix_weighted_repeat_epochs(spark):
    """w=2.5 → every row 2 or 3 times, ~half tripled; w=1 → exactly
    once; w=0/absent → dropped; repeat_idx numbers copies from 1."""
    from idr_data_pipelines_spark.llmdata.sampling import mix_weighted_repeat

    rows = [(i, f"s{i % 3}") for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = mix_weighted_repeat(df, "source", "doc_id", {"s0": 2.5, "s1": 1.0}).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault((r["source"], r["doc_id"]), []).append(r["repeat_idx"])
    assert all(s != "s2" for s, _ in per_doc)
    s0_counts = [len(v) for (s, _), v in per_doc.items() if s == "s0"]
    assert set(s0_counts) <= {2, 3}
    frac3 = sum(1 for c in s0_counts if c == 3) / len(s0_counts)
    assert 0.4 < frac3 < 0.6
    assert all(len(v) == 1 for (s, _), v in per_doc.items() if s == "s1")
    for v in per_doc.values():
        assert sorted(v) == list(range(1, len(v) + 1))


def test_label_centroids_known_vectors(spark):
    """Exact means on hand-checkable vectors; one row per (label, pos);
    float components promoted to double before averaging."""
    from idr_data_pipelines_spark.llmdata.similarity import label_centroids

    rows = [
        (0, [1.0, 2.0, 3.0]),
        (0, [3.0, 2.0, 1.0]),
        (1, [10.0, 0.0, -10.0]),
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    got = {
        (r["label"], r["pos"]): r["centroid_val"]
        for r in label_centroids(df).collect()
    }
    assert got == {
        (0, 0): 2.0, (0, 1): 2.0, (0, 2): 2.0,
        (1, 0): 10.0, (1, 1): 0.0, (1, 2): -10.0,
    }


def test_unigram_logprob_scores_exact(spark):
    """Hand-computed -log2 p means on a 4-token corpus: p(a)=3/6,
    p(b)=2/6, p(c)=1/6."""
    import math

    from idr_data_pipelines_spark.llmdata.text import unigram_logprob_scores

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c a")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["mean_neg_log2p"], r["n_tokens"])
        for r in unigram_logprob_scores(df).collect()
    }
    lp = lambda n: math.log2(6.0) - math.log2(float(n))
    want1 = (lp(3) + lp(3) + lp(2)) / 3
    want2 = (lp(2) + lp(1) + lp(3)) / 3
    assert got[1][1] == 3 and got[2][1] == 3
    assert abs(got[1][0] - want1) < 1e-12
    assert abs(got[2][0] - want2) < 1e-12


def test_dedup_incremental_batch_vs_index(spark):
    """Docs already in the index are dropped; within-batch dups keep
    the min id; normalization (case/whitespace) applies before
    matching."""
    from idr_data_pipelines_spark.llmdata.dedup import dedup_incremental
    from idr_data_pipelines_spark.llmdata.text import fingerprint

    seen_docs = spark.createDataFrame(
        [(100, "already seen text")], ["doc_id", "text"]
    )
    seen = seen_docs.select(F.expr(fingerprint("text")).alias("fp"))
    batch = spark.createDataFrame(
        [
            (1, "Already   SEEN text"),   # dup of index after normalize
            (2, "fresh one"),
            (3, "fresh  ONE"),            # within-batch dup of 2
            (4, "another fresh"),
        ],
        ["doc_id", "text"],
    )
    out = dedup_incremental(batch, seen).collect()
    assert sorted(r["doc_id"] for r in out) == [2, 4]
    # survivors carry their fingerprint so the caller can append them
    # to the index without re-hashing text
    assert all(r["fp"] is not None for r in out)
    import pytest

    with pytest.raises(ValueError, match="fp"):
        dedup_incremental(batch.withColumn("fp", batch.text), seen)


def test_embed_stub_composes_with_ann(spark):
    """The multimodal embed stage's output column is directly
    consumable by the similarity surface: top-1 neighbor of each of 5
    query docs over a 60-doc corpus, sane cosine range, self excluded,
    and identical texts embed identically (cosine == 1 with its twin
    ranked first)."""
    from idr_data_pipelines_spark.llmdata.multimodal import (
        embed_media_stub,
        with_binary_payload,
    )
    from idr_data_pipelines_spark.llmdata.similarity import cosine_topk_bruteforce

    rows = [(i, f"doc body number {i % 30} with shared tail") for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    emb = embed_media_stub(with_binary_payload(docs), dim=16).withColumnRenamed(
        "doc_id", "vec_id"
    )
    out = cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 5), k=1, id_col="vec_id",
        vec_col="embedding",
    ).collect()
    assert len(out) == 5
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        # doc i and doc i+30 share text → identical stub embeddings
        assert r["neighbor_id"] == r["query_id"] + 30
        assert r["cosine"] == pytest.approx(1.0, abs=1e-9)


def test_temperature_weights_properties(spark):
    """T=1 → natural proportions (all weights 1); higher T →
    monotonically flattens: the biggest source's weight is smallest,
    the smallest source keeps everything; extreme T → near-equal
    sampled counts; composes with mix_weighted."""
    from idr_data_pipelines_spark.llmdata.sampling import (
        mix_weighted,
        temperature_weights,
    )

    rows = (
        [(i, "big") for i in range(3000)]
        + [(i + 10_000, "mid") for i in range(600)]
        + [(i + 20_000, "small") for i in range(120)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source"])

    w1 = temperature_weights(df, "source", temperature=1.0)
    assert all(abs(w - 1.0) < 1e-12 for w in w1.values())

    w = temperature_weights(df, "source", temperature=3.0)
    assert w["small"] == pytest.approx(1.0)
    assert w["small"] > w["mid"] > w["big"]

    # extreme temperature: sampled sizes approach equality
    weq = temperature_weights(df, "source", temperature=100.0)
    sampled = mix_weighted(df, "source", "doc_id", weq)
    got = {r["source"]: r["n"] for r in
           sampled.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["small"] == 120           # smallest keeps everything
    assert got["big"] < 3000 * 0.1       # biggest heavily downsampled
    assert max(got.values()) < 3 * min(got.values())


def test_cosine_lsh_exact_bucket_recall_and_shape(spark):
    """The integer-exact bucket form is still real sign-LSH: decent
    recall on clustered data, per-query results ranked 1..n with no
    self-matches; empty corpus yields an empty frame, not a crash."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        cosine_topk_lsh_exact_bucket,
    )

    rng = np.random.RandomState(11)
    centers = rng.randn(5, 16) * 3
    vecs = np.vstack([c + rng.randn(40, 16) * 0.3 for c in centers]).astype("float32")
    rows = [(i, vecs[i].tolist()) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(df, queries, k=5)
    approx = cosine_topk_lsh_exact_bucket(df, queries, k=5, n_planes=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    rows_a = approx.collect()
    a = {(r["query_id"], r["neighbor_id"]) for r in rows_a}
    assert len(a & e) / len(e) >= 0.6
    by_q = {}
    for r in rows_a:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cosine_topk_lsh_exact_bucket(empty, empty, k=3).count() == 0


def test_cosine_lsh_exact_bucket_query_pred_form(spark):
    """The split-probe form (query_pred slicing ONE shared persisted
    bucket table) must return exactly the rows of the two-frame form,
    and its plan must carry a single Arrow/Python stage — the whole
    point of the r14 rework (one mapInPandas worker-startup instead
    of two when the query panel is a slice of the corpus)."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        unpersist_materialized,
    )
    from idr_data_pipelines_spark.llmdata.similarity import (
        cosine_topk_lsh_exact_bucket,
    )

    rng = np.random.RandomState(17)
    rows = [(i, (rng.randn(16) * (1 + i % 4)).astype("float32").tolist())
            for i in range(150)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    two = cosine_topk_lsh_exact_bucket(
        df, df.filter(F.col("vec_id") < 6), k=4, n_planes=4
    )
    one = cosine_topk_lsh_exact_bucket(
        df, None, k=4, n_planes=4, query_pred=lambda c: c < 6
    )
    # both join sides must read the ONE cached bucket table (the
    # plan string re-prints the cached relation's child under each
    # scan, so count the cache scans, not MapInPandas occurrences)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 2, plan
    a = sorted(map(tuple, two.collect()))
    b = sorted(map(tuple, one.collect()))
    assert a == b and a
    assert unpersist_materialized(one) == 1


def test_int_lsh_bucket_numpy_matches_jvm_expression(spark):
    """The Arrow-batched int64-matmul bucket table must be
    bit-identical to the pure-JVM fold expression — both are exact
    integer arithmetic, so any divergence is a bug, not float noise."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        _int_lsh_bucket_table,
        int_lsh_bucket,
        signed_projection_signs,
    )

    rng = np.random.RandomState(3)
    rows = [(i, (rng.randn(24) * (1 + i % 3)).astype("float32").tolist())
            for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    signs = signed_projection_signs(24, 6, seed=42)
    jvm = {r["vec_id"]: r["b"] for r in df.select(
        "vec_id", int_lsh_bucket(F.col("embedding"), signs).alias("b")
    ).collect()}
    np_ = {r["id"]: r["bucket"] for r in _int_lsh_bucket_table(
        df, "vec_id", "embedding", 6, 42, 1_000_000
    ).collect()}
    assert jvm == np_


def test_simhash32_md5_near_dup_property(spark):
    """The portable md5-SimHash is still a real SimHash: near-identical
    docs land within small Hamming distance, unrelated docs far; null
    text yields a null fingerprint."""
    from idr_data_pipelines_spark.llmdata.dedup import simhash32_md5_signatures

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),
        (2, base + "extra token"),         # near-dup of 1
        (3, "completely different words about spark and parquet " * 8),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["simhash32"] for r in simhash32_md5_signatures(df).collect()}
    assert got[4] is None
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(got[1], got[2]) <= 6
    assert ham(got[1], got[3]) > 6


def test_simhash32_md5_matches_python_reference(spark):
    """The shared SimHash kernel reproduces, bit for bit, a per-token
    Python loop: hashlib md5 of each token, the first 4 digest bytes
    read MSB-first as vote columns, bit b set where more than half the
    tokens have it. Run on the text-builder rows (every ASCII
    whitespace character, the empty string) plus non-ASCII text and a
    null."""
    import hashlib

    from idr_data_pipelines_spark.llmdata.dedup import simhash32_md5_signatures

    def py_simhash32(text):
        toks = _py_tokens(text)
        fp = 0
        for b in range(32):
            ones = sum(
                (hashlib.md5(t.encode("utf-8")).digest()[b // 8]
                 >> (7 - b % 8)) & 1
                for t in toks
            )
            if 2 * ones > len(toks):
                fp |= 1 << b
        return fp

    rows = _TEXT_ROWS + [(13, "caf\u00e9 na\u00efve \u00a0x"), (14, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: r["simhash32"] for r in simhash32_md5_signatures(df).collect()
    }
    want = {i: None if t is None else py_simhash32(t) for i, t in rows}
    assert got == want


def test_count_min_md5_family_same_guarantees(spark):
    """The portable md5 hash family preserves the CMS guarantees
    (est >= true; exact when width clears the key space) and rejects
    depth > 4 (one md5 yields only four 32-bit rows)."""
    from idr_data_pipelines_spark.llmdata.sketches import (
        count_min_build,
        count_min_estimate,
    )

    rows = [(f"k{i:02d}",) for i in range(20) for _ in range((20 - i) ** 2)]
    df = spark.createDataFrame(rows, ["key"])
    exact = {r["key"]: r["n"] for r in df.groupBy("key").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    keys = df.select("key").distinct()
    sketch = count_min_build(df, "key", depth=4, width=1024, hash_fn="md5")
    est = {r["key"]: r["est_count"] for r in count_min_estimate(
        sketch, keys, "key", depth=4, width=1024, hash_fn="md5").collect()}
    assert est == exact  # wide: collision-free for 20 keys
    narrow = count_min_build(df, "key", depth=4, width=8, hash_fn="md5")
    est8 = {r["key"]: r["est_count"] for r in count_min_estimate(
        narrow, keys, "key", depth=4, width=8, hash_fn="md5").collect()}
    assert all(est8[k] >= exact[k] for k in exact)
    with pytest.raises(Exception, match="depth"):
        count_min_build(df, "key", depth=5, width=8, hash_fn="md5").collect()


def test_minhash_md5_lsh_near_dup_property(spark):
    """The portable md5-MinHash-LSH is still a real near-dup detector:
    an exact duplicate and a one-token edit both pair with the
    original at high verified Jaccard; unrelated docs never pair;
    null-text docs are excluded rather than colliding."""
    from idr_data_pipelines_spark.llmdata.dedup import minhash_md5_lsh_pairs

    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (1, base),
        (2, base),                                   # exact dup
        (3, base.replace("tok30", "EDITED")),        # near dup
        (4, "entirely different words about streams and shuffles " * 6),
        (5, None),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_r"]
        for r in minhash_md5_lsh_pairs(
            df, num_perm=16, bands=4, shingle_k=3, jaccard_threshold=0.5
        ).collect()
    }
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] > 0.8
    assert all(4 not in p and 5 not in p and 6 not in p for p in got)


def test_minhash_md5_jaccard_matches_exact_string_sets(spark):
    """Verified jaccard_r equals the exact Jaccard over distinct
    string shingle sets (the 32-bit hash introduces no collisions on
    this corpus), rounded to 6."""
    from idr_data_pipelines_spark.llmdata.dedup import minhash_md5_lsh_pairs

    def shingles(t, k=3):
        toks = t.lower().split()
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    a = " ".join(f"w{i}" for i in range(40))
    b = " ".join(f"w{i}" for i in range(5, 45))
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = minhash_md5_lsh_pairs(
        df, num_perm=16, bands=4, shingle_k=3, jaccard_threshold=0.1
    ).collect()
    assert len(rows) == 1
    sa, sb = shingles(a), shingles(b)
    expected = round(len(sa & sb) / len(sa | sb), 6)
    assert rows[0]["jaccard_r"] == expected


def test_winnow_md5_same_guarantees_as_production(spark):
    """The md5 winnowing variant keeps the SIGMOD'03 guarantee (shared
    run ≥ window+k-1 tokens ⇒ shared fingerprint) and the compression
    bound; fingerprint SETS differ from the xxhash64 form (different
    hash) but their per-doc sizes stay in the same regime."""
    from idr_data_pipelines_spark.llmdata.text import winnow_md5_fingerprints

    shared_run = " ".join(f"common{i}" for i in range(40))
    rows = [
        (1, "alpha beta gamma " + shared_run + " delta epsilon"),
        (2, "totally different prefix words " + shared_run),
        (3, "short text"),
        (4, "unrelated content with no overlap at all whatsoever here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id", F.expr(winnow_md5_fingerprints("text", k=4, window=4)).alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2]                 # shared run ⇒ shared fingerprint
    assert not (fps[1] & fps[4])           # disjoint docs ⇒ disjoint fps
    assert len(fps[3]) == 1                # < k tokens ⇒ whole-text k-gram
    n_tokens = len(rows[0][1].split())
    assert 0 < len(fps[1]) < n_tokens - 4 + 1


def test_cosine_ivf_fixed_recall_and_full_probe(spark):
    """Fixed-centroid IVF (the SQL-replayable quantizer) still
    recovers most true neighbors with nprobe=2 on clustered data, and
    probing every cell recovers brute force exactly; requesting more
    centroids than qualifying rows raises."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf_fixed,
    )

    rng = np.random.RandomState(31)
    centers = rng.randn(5, 16) * 3
    # interleave clusters so the low-id fixed centroids span clusters
    vecs = np.stack(
        [centers[i % 5] + rng.randn(16) * 0.3 for i in range(200)]
    ).astype("float32")
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(len(vecs))], ["vec_id", "embedding"]
    )
    queries = df.filter(F.col("vec_id") < 5)
    e = {(r["query_id"], r["neighbor_id"])
         for r in cosine_topk_bruteforce(df, queries, k=5).collect()}

    approx = cosine_topk_ivf_fixed(df, queries, k=5, n_centroids=10, nprobe=2)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.8

    full = cosine_topk_ivf_fixed(df, queries, k=5, n_centroids=10, nprobe=10)
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert f == e  # probing every cell == brute force

    with pytest.raises(ValueError, match="fixed-centroid"):
        cosine_topk_ivf_fixed(df, queries, n_centroids=1000)


def test_hll_md5_registers_estimate_and_union(spark):
    """The portable HLL registers estimate true cardinality within the
    ~1.04/sqrt(m) HLL error regime, are insensitive to duplicates
    (MAX idempotence), and the '__union__' group equals the
    bucket-wise max of the per-group registers."""
    from idr_data_pipelines_spark.llmdata.sketches import (
        hll_estimate_from_registers,
        hll_md5_registers,
    )

    rows = [(f"g{i % 3}", f"key-{i}") for i in range(6000)]
    df = spark.createDataFrame(rows + rows, ["src", "key"])  # dup everything
    out = hll_md5_registers(df, key_col="key", group_col="src", b=6).collect()
    regs: dict = {}
    for r in out:
        regs.setdefault(r["grp"], {})[r["bucket"]] = r["register"]
    # each group holds 2000 distinct keys; union holds 6000
    for g in ("g0", "g1", "g2"):
        est = hll_estimate_from_registers(regs[g], b=6)
        assert abs(est - 2000) / 2000 < 0.35
    est_u = hll_estimate_from_registers(regs["__union__"], b=6)
    assert abs(est_u - 6000) / 6000 < 0.35
    for bkt in regs["__union__"]:
        assert regs["__union__"][bkt] == max(
            regs[g].get(bkt, 0) for g in ("g0", "g1", "g2")
        )


def test_sample_exact_k_deterministic_and_exact(spark):
    from idr_data_pipelines_spark.llmdata.sampling import sample_exact_k

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    s1 = sample_exact_k(df, "doc_id", k=50)
    assert s1.count() == 50
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    # partition-invariant: same 50 rows under a different layout
    ids2 = sorted(
        r["doc_id"]
        for r in sample_exact_k(df.repartition(13), "doc_id", k=50).collect()
    )
    assert ids1 == ids2
    # a different salt decorrelates the sample
    ids3 = sorted(
        r["doc_id"]
        for r in sample_exact_k(df, "doc_id", k=50, salt="other").collect()
    )
    assert ids1 != ids3
    # k >= n returns everything; k=0 returns nothing
    assert sample_exact_k(df, "doc_id", k=5000).count() == 1000
    assert sample_exact_k(df, "doc_id", k=0).count() == 0
    with pytest.raises(ValueError):
        sample_exact_k(df, "doc_id", k=-1)


def test_assign_kfold_stable_as_corpus_grows(spark):
    from idr_data_pipelines_spark.llmdata.sampling import assign_kfold

    small = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 800).withColumnRenamed("id", "doc_id")
    f_small = {r["doc_id"]: r["fold"] for r in assign_kfold(small, "doc_id").collect()}
    f_big = {r["doc_id"]: r["fold"] for r in assign_kfold(big, "doc_id").collect()}
    # fold membership never changes when the corpus doubles
    assert all(f_big[k] == v for k, v in f_small.items())
    assert set(f_big.values()) == {0, 1, 2, 3, 4}
    # ~uniform: no fold more than 2x its fair share
    from collections import Counter

    counts = Counter(f_big.values())
    assert max(counts.values()) < 2 * 800 / 5
    with pytest.raises(ValueError):
        assign_kfold(small, "doc_id", n_folds=0)


def test_kmeans_fixed_step_masses_and_shape(spark):
    import numpy as np

    from idr_data_pipelines_spark.llmdata.similarity import (
        assign_fixed_clusters,
        kmeans_fixed_step,
    )

    rng = np.random.RandomState(7)
    n, dim, k = 120, 8, 4
    rows = [(i, rng.randn(dim).astype("float32").tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    step = kmeans_fixed_step(df, n_clusters=k)
    out = step.collect()
    # long form: one row per (cluster, pos) for every non-empty cluster
    clusters = {r["cluster_id"] for r in out}
    assert clusters <= set(range(k))
    by_pos = {}
    for r in out:
        by_pos.setdefault(r["pos"], 0)
        by_pos[r["pos"]] += r["n_members"]
    # membership accounts for every vector at every position
    assert set(by_pos.values()) == {n}
    # the per-cluster mean matches numpy for one spot-checked cluster
    a = {r["id"]: r["cluster_id"] for r in assign_fixed_clusters(df, n_clusters=k).collect()}
    c0 = [v for i, v in rows if a[i] == min(clusters)]
    want = np.mean(np.array(c0, dtype=np.float64), axis=0)
    got = sorted(
        (r["pos"], r["centroid_val"]) for r in out if r["cluster_id"] == min(clusters)
    )
    assert np.allclose([g[1] for g in got], want, atol=1e-9)


def test_semdedup_prune_keeps_lowest_id_per_dup_pair(spark):
    import numpy as np

    from idr_data_pipelines_spark.llmdata.similarity import (
        cosine,
        semdedup_prune,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    base = rng.randn(6, 8)
    rows = []
    # ids 0..5: distinct random vectors (seed centroids 0..3)
    for i in range(6):
        rows.append((i, base[i].astype("float32").tolist()))
    # ids 10..12: near-copies of id 4 (tiny noise) -> semantic dups
    for j, i in enumerate((10, 11, 12)):
        rows.append((i, (base[4] + 0.001 * rng.randn(8)).astype("float32").tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = semdedup_prune(df, n_clusters=4, threshold=0.99)
    kept_ids = sorted(r["vec_id"] for r in kept.collect())
    # the dup family collapses to its lowest id (4); singletons survive
    assert 4 in kept_ids
    assert not {10, 11, 12} & set(kept_ids)
    assert set(range(4)) <= set(kept_ids)
    # no surviving within-cluster pair is above threshold
    a = kept.join(
        df.withColumnRenamed("vec_id", "id").withColumnRenamed("embedding", "v"),
        F.col("vec_id") == F.col("id"),
    ).select("vec_id", "cluster_id", "v")
    l = a.select(
        F.col("vec_id").alias("i"), F.col("cluster_id").alias("cl"), F.col("v").alias("lv")
    )
    r = a.select(
        F.col("vec_id").alias("j"), F.col("cluster_id").alias("cr"), F.col("v").alias("rv")
    )
    from idr_data_pipelines_spark.llmdata.similarity import _as_double

    pairs = l.join(r, (F.col("cl") == F.col("cr")) & (F.col("i") < F.col("j")))
    over = pairs.filter(
        cosine(_as_double(F.col("lv")), _as_double(F.col("rv"))) >= 0.99
    ).count()
    assert over == 0


def test_bpe_pair_counts_hand_example(spark):
    from idr_data_pipelines_spark.llmdata.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "abab Cab!"), (2, "ba"), (3, None), (4, "x")], ["doc_id", "text"]
    )
    # words: abab, cab, ba ('x' is length-1, dropped; case folded)
    # pairs: abab -> ab,ba,ab ; cab -> ca,ab ; ba -> ba
    got = {(r["pair"], r["n"]) for r in bpe_pair_counts(df).collect()}
    assert got == {("ab", 3), ("ba", 2), ("ca", 1)}


def test_cross_doc_ngram_stats_shared_fractions(spark):
    from idr_data_pipelines_spark.llmdata.dedup import cross_doc_ngram_stats

    boiler = "all rights reserved by the site"
    rows = [
        (1, boiler),                                  # 2 grams, both shared with doc 2
        (2, boiler),                                  # identical
        (3, "completely original text about unrelated themes entirely"),
        (4, "short doc"),                             # < k tokens -> whole text gram
        (5, "short doc"),                             # duplicate short -> shared
    ]
    out = {
        r["doc_id"]: r
        for r in cross_doc_ngram_stats(
            spark.createDataFrame(rows, ["doc_id", "text"]), k=5, min_docs=2
        ).collect()
    }
    assert out[1]["shared_frac"] == 1.0 and out[1]["flagged"]
    assert out[2]["shared_frac"] == 1.0 and out[2]["flagged"]
    assert out[3]["n_shared"] == 0 and not out[3]["flagged"]
    assert out[4]["n_grams"] == 1 and out[4]["flagged"]
    assert out[5]["flagged"]


def test_bloom_scores_equal_exact_scores(spark):
    """The Bloom prefilter has no false negatives, so its contamination
    scores must be IDENTICAL to the exact operator's on any input."""
    from idr_data_pipelines_spark.llmdata.decontaminate import (
        bloom_bitmap,
        bloom_positions,
        benchmark_ngrams,
        contamination_scores,
        contamination_scores_bloom,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs today"),
        (3, "the quick brown fox naps under a warm sun"),
        (4, None),
        (5, "tiny"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = df.filter(F.col("doc_id") == 1)
    corpus = df.filter(F.col("doc_id") != 1)
    exact = {
        r["doc_id"]: (r["n_ngrams"], r["n_matched"], r["contam_ratio"])
        for r in contamination_scores(corpus, bench, k=3).collect()
    }
    bloom = {
        r["doc_id"]: (r["n_ngrams"], r["n_matched"], r["contam_ratio"])
        for r in contamination_scores_bloom(corpus, bench, k=3).collect()
    }
    assert exact == bloom
    # every benchmark n-gram's bits are set (no false negatives)
    bng = benchmark_ngrams(bench, k=3)
    bm = bloom_bitmap(bng)
    pos = bng.select(
        F.explode(bloom_positions(F.col("ngram"))).alias("p")
    ).collect()
    assert all((bm[r["p"] >> 3] >> (r["p"] & 7)) & 1 for r in pos)


def test_sample_exact_k_per_group_counts_and_stability(spark):
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.sampling import sample_exact_k_per_group

    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    out = sample_exact_k_per_group(df, "source", "doc_id", k=10)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"s0": 10, "s1": 10, "s2": 10}
    # deterministic under repartitioning
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in sample_exact_k_per_group(df.repartition(17), "source", "doc_id", k=10).collect()
    )
    assert a == b
    # k larger than a group returns the whole group
    tiny = df.filter(F.col("doc_id") < 5)
    assert sample_exact_k_per_group(tiny, "source", "doc_id", k=10).count() == 5


def test_random_project_matches_sequential_fold(spark):
    import numpy as np

    from idr_data_pipelines_spark.llmdata.similarity import (
        random_project,
        random_projection_matrix,
    )

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(16).astype("float32").tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    M = random_projection_matrix(16, 4, 99)
    got = {r["vec_id"]: r["proj"] for r in random_project(df, d_in=16, d_out=4, seed=99).collect()}
    for i, v in rows:
        for j, mrow in enumerate(M.tolist()):
            acc = 0.0
            for x, c in zip(v, mrow):
                acc = acc + float(x) * c
            assert got[i][j] == acc  # bit-exact sequential fold


def test_sample_weighted_k_bias_and_determinism(spark):
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.sampling import sample_weighted_k

    # weights: ids 0..99 weight 1, ids 100..199 weight 20
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, F.lit(1.0)).otherwise(F.lit(20.0)).alias("w"),
    )
    out = sample_weighted_k(df, "doc_id", "w", k=50)
    ids = [r["doc_id"] for r in out.collect()]
    assert len(ids) == 50
    heavy = sum(1 for i in ids if i >= 100)
    # 20x weight must dominate the sample decisively
    assert heavy >= 40
    # deterministic under repartitioning
    ids2 = [
        r["doc_id"]
        for r in sample_weighted_k(df.repartition(13), "doc_id", "w", k=50).collect()
    ]
    assert sorted(ids) == sorted(ids2)
    # non-positive / null weights are excluded
    df2 = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None)], ["doc_id", "w"]
    )
    kept = {r["doc_id"] for r in sample_weighted_k(df2, "doc_id", "w", k=10).collect()}
    assert kept == {1}


def test_assign_fixed_clusters_vectorized_matches_expression(spark):
    import numpy as np

    from idr_data_pipelines_spark.llmdata.similarity import assign_fixed_clusters

    rng = np.random.RandomState(21)
    rows = [(i, rng.randn(12).astype("float32").tolist()) for i in range(150)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = {
        r["id"]: r["cluster_id"]
        for r in assign_fixed_clusters(df, n_clusters=8, vectorized=False).collect()
    }
    b = {
        r["id"]: r["cluster_id"]
        for r in assign_fixed_clusters(df, n_clusters=8, vectorized=True).collect()
    }
    assert a == b


def test_winnow_candidate_pairs_finds_partial_overlap(spark):
    from idr_data_pipelines_spark.llmdata.dedup import winnow_candidate_pairs

    para = "the shared boilerplate paragraph that was copied verbatim between documents " * 3
    rows = [
        (1, para + " plus original tail content alpha beta gamma delta"),
        (2, "entirely different opening material here and then " + para),
        (3, "no overlap with anything else whatsoever in this tiny doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_candidate_pairs(df, min_shared=2, max_fp_freq=10).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p for p in pairs)
    # the common-fingerprint filter kills pairs once a fp is too hot
    many = [(i, para) for i in range(20)]
    df2 = spark.createDataFrame(many, ["doc_id", "text"])
    hot = winnow_candidate_pairs(df2, min_shared=1, max_fp_freq=10).count()
    assert hot == 0  # every fp appears in 20 docs > max_fp_freq


def test_score_buckets_per_group_terciles(spark):
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.filters import score_buckets

    # group a: scores 1..9 (terciles at 3.67/6.33); group b: 100..102
    rows = [(i, "a", float(i)) for i in range(1, 10)]
    rows += [(100 + i, "b", 100.0 + i) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "score"])
    out = {r["doc_id"]: r["bucket"] for r in score_buckets(df, "score", "source").collect()}
    assert [out[i] for i in range(1, 10)] == ["low"] * 3 + ["mid"] * 3 + ["high"] * 3
    # group b is judged against its own cuts, not group a's
    assert out[100] == "low" and out[102] == "high"


def test_join_bloom_prefilter_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.operators.joins import join_bloom_prefilter

    fact = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    dim = spark.range(0, 1000, 37).select(
        F.col("id").alias("dk"), F.lit("d").alias("tag")
    )
    got = sorted(
        (r["k"], r["tag"]) for r in join_bloom_prefilter(fact, dim, "k", "dk").collect()
    )
    want = sorted(
        (r["k"], r["tag"])
        for r in fact.join(dim, fact.k == dim.dk).collect()
    )
    assert got == want and len(got) == 28


def test_pack_bestfit_invariants(spark):
    from collections import defaultdict

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.sampling import pack_sequences_bestfit

    rows = [(i, (i * 37) % 900 + 50, f"s{i % 2}") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok", "shard"])
    out = pack_sequences_bestfit(
        df, "n_tok", "doc_id", max_tokens=1024, shard_col="shard"
    ).collect()
    # every doc packed exactly once, capacity respected per pack
    assert len(out) == 200
    loads = defaultdict(int)
    for r in out:
        loads[(r["shard"], r["pack_id"])] += r["n_tok"]
    assert all(v <= 1024 for v in loads.values())
    # BFD fill beats the trivial one-doc-per-pack floor decisively
    total = sum(r[1] for r in rows)
    assert len(loads) <= total // 1024 * 2  # within 2x of the LB
    # deterministic under repartitioning (whole shard = one group)
    out2 = pack_sequences_bestfit(
        df.repartition(13), "n_tok", "doc_id", max_tokens=1024, shard_col="shard"
    ).collect()
    assert sorted((r["doc_id"], r["pack_id"]) for r in out) == sorted(
        (r["doc_id"], r["pack_id"]) for r in out2
    )
    # oversized docs get their own pack, others still fit
    big = spark.createDataFrame(
        [(1, 5000, "a"), (2, 100, "a"), (3, 100, "a")], ["doc_id", "n_tok", "shard"]
    )
    b = {r["doc_id"]: r["pack_id"] for r in pack_sequences_bestfit(
        big, "n_tok", "doc_id", max_tokens=1024, shard_col="shard"
    ).collect()}
    assert b[1] not in (b[2], b[3]) and b[2] == b[3]


def test_join_bloom_null_keys_and_type_contract(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.operators.joins import join_bloom_prefilter

    # NULL dim keys must not crash the bitmap build (r6 review fix):
    # a NULL key never matches an inner join, so it's simply dropped
    fact = spark.range(0, 50).select(F.col("id").alias("k"))
    dim = spark.createDataFrame(
        [(0,), (37,), (None,)], "dk: bigint"
    ).withColumn("tag", F.lit("d"))
    got = sorted(r["k"] for r in join_bloom_prefilter(fact, dim, "k", "dk").collect())
    assert got == [0, 37]
    # mismatched key types would hash matching values to different
    # bits (bigint 5 -> '5', double 5.0 -> '5.0') = silent false
    # negatives; the operator must refuse instead
    dimf = spark.createDataFrame([(5.0,)], "dk: double")
    with _pytest.raises(ValueError, match="share a type"):
        join_bloom_prefilter(fact, dimf, "k", "dk")


def test_minmax_scale_bits_clamps_both_ends(spark):
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.operators.layout import (
        minmax_scale_bits,
        zorder_value,
    )

    df = spark.createDataFrame([(-50,), (0,), (100,), (150,)], "v: bigint")
    out = [
        r["s"]
        for r in df.select(
            minmax_scale_bits(F.col("v"), 0, 100, bits=8).alias("s")
        ).collect()
    ]
    # below-min clamps to 0 (not a negative that z-ordering would
    # sign-extend into garbage Morton bits), above-max clamps to top
    assert out == [0, 0, 255, 255]
    z = df.select(
        zorder_value(
            [
                minmax_scale_bits(F.col("v"), 0, 100, bits=8),
                minmax_scale_bits(F.col("v"), 0, 100, bits=8),
            ],
            bits=8,
        ).alias("z")
    ).collect()
    assert all(r["z"] >= 0 for r in z)


def test_containment_catches_quoted_subset(spark):
    """A short doc fully quoted inside a long one must score ~1.0
    containment from the short side while Jaccard stays low."""
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quoted paragraph appears verbatim in the longer document"
    filler = " ".join(f"filler{i} content{i} word{i}" for i in range(60))
    rows = [(1, short), (2, filler + " " + short + " " + filler)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    c = ngram_containment_pairs(df, pairs, k=3).collect()[0]
    j = ngram_jaccard_pairs(df, pairs, k=3).collect()[0]
    assert c["containment_a"] == 1.0        # A wholly inside B
    assert c["containment_b"] < 0.1
    assert j["jaccard"] < 0.1               # Jaccard misses it


def test_bloom_bitmap_odd_sizes_and_integral_widening_join(spark):
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.decontaminate import (
        bloom_bitmap,
        bloom_positions,
    )
    from idr_data_pipelines_spark.operators.joins import join_bloom_prefilter

    # n_bits ending in a partial 64-bit word (multiple of 8 only)
    # builds correctly — every set position still probes true
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "ngram: string")
    n_bits = 1048584  # 2^20 + 8
    bm = bloom_bitmap(keys, "ngram", n_bits=n_bits)
    pos = keys.select(
        F.explode(bloom_positions(F.col("ngram"), n_bits)).alias("p")
    ).collect()
    assert all((bm[r["p"] >> 3] >> (r["p"] & 7)) & 1 for r in pos)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple of 8"):
        bloom_bitmap(keys, "ngram", n_bits=1048581)
    # integral widening (int fact key vs bigint dim key) is allowed:
    # both stringify identically, so no false negatives are possible
    fact = spark.range(0, 40).select(F.col("id").cast("int").alias("k"))
    dim = spark.range(0, 40, 7).select(F.col("id").alias("dk"), F.lit("d").alias("t"))
    got = sorted(r["k"] for r in join_bloom_prefilter(fact, dim, "k", "dk").collect())
    assert got == [0, 7, 14, 21, 28, 35]


def test_shuffle_shards_is_a_permutation_and_epoch_decorrelated(spark):
    from idr_data_pipelines_spark.llmdata.sampling import shuffle_shards

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    e0 = shuffle_shards(df, "doc_id", n_shards=4, epoch=0).collect()
    # every row present exactly once; positions contiguous 1..|shard|
    assert sorted(r.doc_id for r in e0) == list(range(200))
    by_shard: dict[int, list[int]] = {}
    for r in e0:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= {0, 1, 2, 3}
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic: same epoch → identical assignment
    again = shuffle_shards(df, "doc_id", n_shards=4, epoch=0).collect()
    assert sorted(map(tuple, e0)) == sorted(map(tuple, again))
    # a fresh epoch is a genuinely different permutation
    e1 = shuffle_shards(df, "doc_id", n_shards=4, epoch=1).collect()
    assert sorted(map(tuple, e0)) != sorted(map(tuple, e1))

    with pytest.raises(ValueError):
        shuffle_shards(df, "doc_id", n_shards=0)


def test_temperature_mix_shares_limits_and_bias(spark):
    from idr_data_pipelines_spark.llmdata.sampling import (
        temperature_mix_shares,
    )

    rows = [("big",)] * 900 + [("small",)] * 100
    df = spark.createDataFrame(rows, ["source"])

    # alpha=1 → natural sampling: temp == nat, boost == 1
    nat = {
        r.source: r
        for r in temperature_mix_shares(df, "source", alpha=1.0).collect()
    }
    for r in nat.values():
        assert abs(r.temp_share - r.nat_share) < 1e-12
        assert abs(r.boost - 1.0) < 1e-12

    # alpha=0 → uniform shares regardless of size
    uni = {
        r.source: r
        for r in temperature_mix_shares(df, "source", alpha=0.0).collect()
    }
    assert abs(uni["big"].temp_share - 0.5) < 1e-12
    assert abs(uni["small"].temp_share - 0.5) < 1e-12

    # 0<alpha<1 → the small source is boosted, the big one damped,
    # and shares still sum to 1
    mid = {
        r.source: r
        for r in temperature_mix_shares(df, "source", alpha=0.5).collect()
    }
    assert mid["small"].boost > 1.0 > mid["big"].boost
    assert abs(sum(r.temp_share for r in mid.values()) - 1.0) < 1e-12


def test_cluster_keep_best_elects_max_quality(spark):
    from idr_data_pipelines_spark.llmdata.dedup import cluster_keep_best

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0), (4, 5.0), (5, 30.0), (6, 30.0)],
        ["doc_id", "q"],
    )
    # chain 1-2-3 (keeper: 2, max q), pair 5-6 (tie → min id 5),
    # 4 unpaired (own keeper)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    out = {
        r.doc_id: r
        for r in cluster_keep_best(docs, edges, quality_col="q").collect()
    }
    assert len(out) == 6
    assert [out[i].keeper_id for i in (1, 2, 3)] == [2, 2, 2]
    assert out[4].keeper_id == 4 and out[4].is_keeper
    assert [out[i].keeper_id for i in (5, 6)] == [5, 5]
    # exactly one keeper per cluster
    clusters: dict[int, int] = {}
    for r in out.values():
        clusters[r.cluster_id] = clusters.get(r.cluster_id, 0) + int(
            r.is_keeper
        )
    assert all(v == 1 for v in clusters.values())


def test_vocab_coverage_monotone_and_exact_on_known_corpus(spark):
    from idr_data_pipelines_spark.llmdata.text import vocab_coverage

    # 10 'a', 5 'b', 3 'c', 2 'd' → total 20; cum: a=10, +b=15, +c=18,
    # +d=20 → 50%→1 token, 90%→3, 99%→4
    df = spark.createDataFrame(
        [("a " * 10 + "b " * 5 + "c " * 3 + "d " * 2,)], ["text"]
    )
    rows = {
        r.coverage: r
        for r in vocab_coverage(df, "text", thresholds=(0.5, 0.9, 0.99)).collect()
    }
    assert rows[0.5].vocab_size == 1
    assert rows[0.9].vocab_size == 3
    assert rows[0.99].vocab_size == 4
    assert all(r.total_tokens == 20 for r in rows.values())


def test_cluster_keep_best_null_quality_loses(spark):
    from idr_data_pipelines_spark.llmdata.dedup import cluster_keep_best

    docs = spark.createDataFrame(
        [(1, None), (2, 100.0), (3, None), (4, None)],
        "doc_id long, q double",
    )
    # pair (1,2): the null-quality copy must NOT beat the scored one;
    # pair (3,4): all-null cluster falls back to min id
    edges = spark.createDataFrame([(1, 2), (3, 4)], ["id_a", "id_b"])
    out = {
        r.doc_id: r
        for r in cluster_keep_best(docs, edges, quality_col="q").collect()
    }
    assert out[1].keeper_id == 2 and not out[1].is_keeper
    assert out[3].keeper_id == 3 and out[3].is_keeper


def test_pq_assign_vectorized_equals_expression_path(spark, sf_dir):
    """The Arrow PQ path accumulates in the same left-associative
    order as the JVM fold, so the two forms must match EXACTLY —
    codes AND rounded distances — not just approximately."""
    from idr_data_pipelines_spark.llmdata.similarity import pq_assign_fixed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = pq_assign_fixed(emb, vectorized=False).collect()
    b = pq_assign_fixed(emb, vectorized=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_minhash_incremental_equals_cross_pairs_of_full(spark, sf_dir):
    """The incremental probe must find EXACTLY the full self-join's
    pairs that straddle the batch/corpus split — same bands, same
    verify, only the join shape differs."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        minhash_md5_incremental_pairs,
        minhash_md5_lsh_pairs,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = minhash_md5_lsh_pairs(
        docs, num_perm=16, bands=4, shingle_k=3, jaccard_threshold=0.5
    ).collect()
    want = {
        ((r.id_a, r.id_b) if r.id_a % 7 == 0 else (r.id_b, r.id_a), r.jaccard_r)
        for r in full
        if (r.id_a % 7 == 0) != (r.id_b % 7 == 0)
    }
    inc = minhash_md5_incremental_pairs(
        docs.filter(F.col("doc_id") % 7 == 0),
        docs.filter(F.col("doc_id") % 7 != 0),
        num_perm=16,
        bands=4,
        shingle_k=3,
        jaccard_threshold=0.5,
    ).collect()
    got = {((r.id_new, r.id_old), r.jaccard_r) for r in inc}
    assert got == want


def test_sign_bitpack_known_bits(spark):
    from idr_data_pipelines_spark.llmdata.dedup import dedup_exact  # noqa: F401
    from idr_data_pipelines_spark.llmdata.similarity import sign_bitpack

    # 4 dims: [+,-,+,0] → hi bits (2 dims) = 0b10 = 2, lo = 0b10 = 2
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5, 0.0])], "vec_id long, embedding array<double>"
    )
    r = sign_bitpack(df, dim=4).collect()[0]
    assert (r.sig_hi, r.sig_lo) == (2, 2)
    with __import__("pytest").raises(ValueError):
        sign_bitpack(df, dim=3)


def test_matryoshka_prefix_unit_norm(spark):
    from idr_data_pipelines_spark.llmdata.similarity import matryoshka_prefix

    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 12.0, 0.0])], "vec_id long, embedding array<double>"
    )
    rows = matryoshka_prefix(df, prefix_dim=2).collect()
    # prefix (3,4): norm 5 → renormalized (0.6, 0.8); full norm 13
    got = {r.dim: r for r in rows}
    assert got[0].val_r == 0.6 and got[1].val_r == 0.8
    assert abs(got[0].norm_frac_r - 5.0 / 13.0) < 1e-6
    assert set(got) == {0, 1}


def test_split_train_holdout_rejects_bad_fraction(spark):
    """r09 review: a typo'd fraction (1.5, -0.1) must raise, not
    silently label the whole corpus holdout/train."""
    import pytest as _pytest

    from idr_data_pipelines_spark.llmdata.sampling import split_train_holdout

    df = spark.range(5).withColumnRenamed("id", "k")
    for bad in (1.5, -0.1):
        with _pytest.raises(ValueError, match="holdout_fraction"):
            split_train_holdout(df, "k", holdout_fraction=bad)


def test_sampler_null_key_contract(spark):
    """r12 module-wide null-key contract: md5(salt‖NULL) is NULL, so a
    null-key row has no stable identity. Selectors EXCLUDE it
    explicitly (before r12, Spark's NULLS-FIRST ascending sort handed
    null-key rows the winning exact-k slots while DuckDB's NULLS-LAST
    handed them the losing ones — an engine-dependent sample);
    labelers keep the row with a NULL label (before r12,
    split_train_holdout's bare otherwise() silently swept null-key
    rows into 'train')."""
    from idr_data_pipelines_spark.llmdata.sampling import (
        assign_kfold,
        mix_weighted,
        sample_exact_k,
        sample_exact_k_per_group,
        sample_hash_mod,
        sample_weighted_k,
        shuffle_shards,
        split_train_holdout,
    )

    df = spark.createDataFrame(
        [(1, "a", 10), (None, "a", 20), (2, "b", 30), (3, "b", 40)],
        "k long, src string, w long",
    )

    # selectors: the null-key row is never selected, even at k/fraction
    # large enough to take everything
    assert sample_exact_k(df, "k", k=10).filter("k IS NULL").count() == 0
    assert sample_exact_k(df, "k", k=10).count() == 3
    per_g = sample_exact_k_per_group(df, "src", "k", k=10)
    assert per_g.filter("k IS NULL").count() == 0
    assert per_g.count() == 3
    assert sample_weighted_k(df, "k", "w", k=10).count() == 3
    assert sample_hash_mod(df, "k", fraction=1.0).count() == 3
    assert (
        mix_weighted(df, "src", "k", {"a": 1.0, "b": 1.0}).count() == 3
    )

    from idr_data_pipelines_spark.llmdata.sampling import (
        mix_weighted_repeat,
        sample_stratified,
        sample_token_budget,
    )

    strat = sample_stratified(df, ["src"], n_per_stratum=10, key_col="k")
    assert strat.filter("k IS NULL").count() == 0 and strat.count() == 3
    tb = sample_token_budget(df, "w", budget=10**6, key_col="k", group_col="src")
    assert tb.filter("k IS NULL").count() == 0 and tb.count() == 3
    # r12 ADVICE: the balanced sampler is a selector too — a null KEY
    # must never take one of a label's floor slots
    from idr_data_pipelines_spark.llmdata.sampling import (
        sample_balanced_labels,
    )

    bal = sample_balanced_labels(df, label_col="src", key_col="k")
    assert bal.filter("k IS NULL").count() == 0
    # floor stays min over real-key class sizes: a=1 (null key gone)
    assert bal.count() == 2
    # mix_weighted_repeat: full epochs are key-independent (emit), the
    # hash-chosen fractional epoch fails closed for a null key
    rep = mix_weighted_repeat(df, "src", "k", {"a": 2.9, "b": 1.0})
    by_k = {
        (r["k"], r["repeat_idx"]) for r in rep.collect()
    }
    assert (None, 1) in by_k and (None, 2) in by_k  # floor(2.9) epochs
    assert (None, 3) not in by_k  # never wins the fractional epoch

    # labelers: row kept, label/fold/shard NULL — visible, never a
    # silent 'train' / fold-0 masquerade
    split = {r["k"]: r["split"] for r in split_train_holdout(df, "k").collect()}
    assert split[None] is None
    assert all(v in ("train", "holdout") for k_, v in split.items() if k_ is not None)
    folds = {r["k"]: r["fold"] for r in assign_kfold(df, "k", n_folds=5).collect()}
    assert folds[None] is None
    assert all(v is not None for k_, v in folds.items() if k_ is not None)
    shards = {r["k"]: r["shard"] for r in shuffle_shards(df, "k", n_shards=4).collect()}
    assert shards[None] is None
    assert all(v is not None for k_, v in shards.items() if k_ is not None)


def test_samplers_refuse_internal_column_collisions(spark):
    """r12 API-boundary sweep: an input frame that already carries one
    of the samplers' internal working columns must be refused — the
    operator would otherwise silently overwrite it and then DROP it
    on the way out (data destruction with no error)."""
    import pytest as _pytest

    from idr_data_pipelines_spark.llmdata.dedup import dedup_exact
    from idr_data_pipelines_spark.llmdata.sampling import (
        sample_balanced_labels,
        sample_exact_k,
        sample_exact_k_per_group,
        sample_stratified,
        sample_token_budget,
        sample_weighted_k,
        shuffle_shards,
    )

    def frame(*extra):
        cols = "k long, src string, w long" + "".join(
            f", {c} string" for c in extra
        )
        return spark.createDataFrame([(1, "a", 10) + ("x",) * len(extra)], cols)

    cases = [
        (lambda d: sample_exact_k(d, "k", k=1), "__h"),
        (lambda d: shuffle_shards(d, "k", n_shards=2), "__h"),
        (lambda d: sample_exact_k_per_group(d, "src", "k", k=1), "__rn"),
        (lambda d: sample_stratified(d, ["src"], 1, "k"), "__rk"),
        (lambda d: sample_token_budget(d, "w", 10, "k"), "__cum"),
        (lambda d: sample_weighted_k(d, "k", "w", k=1), "__es"),
        (lambda d: sample_balanced_labels(d, "src", "k"), "__rn"),
    ]
    for fn, col in cases:
        with _pytest.raises(ValueError, match="rename"):
            fn(frame(col))
        fn(frame())  # clean frame constructs fine

    with _pytest.raises(ValueError, match="__fp"):
        dedup_exact(frame("__fp"), text_col="src")
    dedup_exact(frame(), text_col="src")


def test_quality_score_escapes_stopword_metachars(spark):
    """r09 review: caller-supplied stopwords are regex-escaped — 'c++'
    must count literal occurrences (not compile as a quantifier) and
    '(' must not break pattern compilation. Caller strings reach SQL
    text as literals: a stopword holding a quote (``don't``) or a
    backslash, and a ``hash_bucket`` salt holding both, parse to the
    same values under both ``escapedStringLiterals`` values (the
    buckets checked against md5 computed in Python)."""
    import hashlib

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.sampling import hash_bucket
    from idr_data_pipelines_spark.llmdata.text import quality_score

    df = spark.createDataFrame(
        [("we love c++ and c++ but not ccc ( really don't say a\\b twice a\\b",)],
        ["text"],
    )
    keys = spark.range(20).withColumnRenamed("id", "doc_id")
    salt = "it's a \\ salt"
    want = {
        k: int(hashlib.md5(f"{salt}{k}".encode()).hexdigest()[:15], 16) % 97
        for k in range(20)
    }
    for conf in _text_conf_cases(spark):
        cols = quality_score("text", stopwords=["c++", "(", "don't", "a\\b"])
        row = df.select(
            *[F.expr(v).alias(k) for k, v in cols.items()]
        ).collect()[0]
        # 15 whitespace tokens; hits = 2 literal 'c++' + 1 literal '('
        # + 1 'don't' + 2 literal 'a\b' (non-word edge chars drop the
        # \b anchor that could never match)
        assert row["n_tokens"] == 15, conf
        assert abs(row["stopword_ratio"] - 0.4) < 1e-9, conf
        got = {
            r["doc_id"]: r["b"]
            for r in keys.select(
                "doc_id", F.expr(hash_bucket("doc_id", 97, salt)).alias("b")
            ).collect()
        }
        assert got == want, conf


def test_pack_bestfit_null_tokens_loud_error(spark):
    """r09 review: a null token count must fail with an actionable
    message, not pandas' opaque non-finite cast error."""
    import pytest as _pytest

    from idr_data_pipelines_spark.llmdata.sampling import pack_sequences_bestfit

    df = spark.createDataFrame(
        [(1, 10), (2, None)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(Exception, match="null 'n_tokens'"):
        pack_sequences_bestfit(
            df, "n_tokens", "doc_id", max_tokens=100
        ).collect()


def test_connected_components_string_and_hash_ids(spark):
    """r09 review: the old sum-of-labels convergence probe crashed on
    string vertex ids under ANSI (or silently returned identity
    components with ANSI off) and could overflow on xxhash64-scale
    longs. The changed-label probe must cluster both."""
    from idr_data_pipelines_spark.llmdata.dedup import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    big = 2**62
    ledges = spark.createDataFrame(
        [(big, big + 1), (big + 1, big + 2), (-big, -big + 1)],
        ["id_a", "id_b"],
    )
    lgot = {
        r["id"]: r["component"]
        for r in connected_components(ledges).collect()
    }
    assert lgot == {
        big: big, big + 1: big, big + 2: big, -big: -big, -big + 1: -big
    }

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_score_buckets_null_group_and_null_score(spark):
    """r09 review: a null group must survive (its own group via the
    null-safe join — the inner join silently dropped those rows), and
    a null score must get a NULL bucket, not 'high'."""
    from idr_data_pipelines_spark.llmdata.filters import score_buckets

    df = spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "a"),
         (4, 1.0, None), (5, 9.0, None), (6, None, "a")],
        "id long, s double, g string",
    )
    rows = {r["id"]: r["bucket"] for r in score_buckets(df, "s", "g").collect()}
    assert len(rows) == 6                      # nothing dropped
    assert rows[4] == "low" and rows[5] == "high"  # null group bucketed
    assert rows[6] is None                     # null score -> null bucket
    assert rows[1] == "low" and rows[3] == "high"


def test_misra_gries_empty_input(spark):
    """r09 review: pd.concat over zero merge batches crashed on an
    empty input frame; must return an empty top-k instead."""
    from idr_data_pipelines_spark.llmdata.sketches import misra_gries_topk

    empty = spark.createDataFrame([], "k string")
    assert misra_gries_topk(empty, "k").count() == 0


def test_media_stages_skip_null_payloads(spark):
    """r09 review: bytes(None) poisoned every media mapInPandas job
    from one null payload; null payloads are now excluded."""
    from idr_data_pipelines_spark.llmdata.multimodal import (
        extract_media_meta,
        with_binary_payload,
    )

    docs = spark.createDataFrame(
        [(1, "hello"), (2, None)], "doc_id long, text string"
    )
    out = extract_media_meta(with_binary_payload(docs))
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_spread_small_scan_rescues_coalesced_frame(spark, sf_dir):
    """r09 review: coalesce() prints 'Repartition n, false' — a
    NARROW node the probe must see through; treating it as an
    exchange made the guard skip exactly the coalesced-to-1 frames
    it exists to rescue."""
    from idr_data_pipelines_spark.sources.parquet import (
        planned_partitions,
        spread_small_scan,
    )

    one = spark.read.parquet(f"{sf_dir}/documents.parquet").coalesce(1)
    assert planned_partitions(one) == 1
    assert spread_small_scan(one).rdd.getNumPartitions() > 1
    # an explicit repartition(n) reports n and is not spread again
    wide = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(4)
    assert planned_partitions(wide) == 4
    assert spread_small_scan(wide, min_partitions=4) is wide


def test_spread_small_scan_works_without_rdd_surface(spark, sf_dir):
    """r11 (VERDICT r10 item 7): on a Connect-shaped session — no
    ``_jdf``, no ``.rdd``, no ``sparkContext`` — the guard must still
    WORK, not just degrade: fire (repartition) on an exchange-free
    scan, and leave an exchange-bearing frame alone (repartitioning a
    post-shuffle frame would ADD a shuffle). The proxy below hides
    every RDD/JVM surface while keeping ``explain`` (which Spark
    Connect serves server-side, plan-only)."""
    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    class _ConnectSession:
        def __init__(self, real):
            self._real = real
            self.conf = real.conf

        @property
        def sparkContext(self):
            raise AttributeError("no sparkContext on Connect")

    class _ConnectFrame:
        """Hides _jdf/rdd; delegates explain/repartition/sparkSession."""

        def __init__(self, df):
            self._df = df
            self.repartition_called = False

        @property
        def _jdf(self):
            raise AttributeError("no JVM handle on Connect")

        @property
        def rdd(self):
            raise AttributeError("no RDD surface on Connect")

        @property
        def sparkSession(self):
            return _ConnectSession(self._df.sparkSession)

        def explain(self, extended=None, mode=None):
            return self._df.explain(extended=extended)

        def repartition(self, n):
            self.repartition_called = True
            return self._df.repartition(n)

    narrow = _ConnectFrame(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    )
    out = spread_small_scan(narrow)
    assert narrow.repartition_called, (
        "exchange-free scan must fire the guard on Connect"
    )
    assert out.rdd.getNumPartitions() > 1

    shuffled = _ConnectFrame(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("source")
        .count()
    )
    res = spread_small_scan(shuffled)
    assert not shuffled.repartition_called, (
        "post-shuffle frame must NOT be re-shuffled on Connect"
    )
    assert res is shuffled


def _invariants_corpus(docs):
    """The corpus shape of the registry ``dedup_minhash_lsh`` entry: the
    non-null docs plus re-keyed copies of every 10th one, offset by a
    broadcast one-row aggregate — a union over a broadcast cross join,
    which AQE coalesces to 1–2 partitions on a small input."""
    base = docs.filter(F.col("text").isNotNull()).select("doc_id", "text")
    off = docs.agg((F.max("doc_id") + F.lit(1)).alias("__off"))
    planted = (
        base.filter(F.col("doc_id") % 10 == 0)
        .crossJoin(F.broadcast(off))
        .withColumn("doc_id", F.col("doc_id") + F.col("__off"))
        .drop("__off")
    )
    return base.unionByName(planted)


def test_narrow_corpus_stages_run_full_width(spark, sf_dir, tmp_path):
    """On a one-row-group documents.parquet of a few thousand docs, the
    MinHash signature stage over the registry's union + broadcast
    cross-join corpus and ``text_quality``'s projection run at least
    ``defaultParallelism`` tasks: the width rule reads an
    AQE-coalesced exchange-bearing frame as narrow instead of assuming
    it is ``shuffle.partitions`` wide."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from idr_data_pipelines_spark.queries import QUERIES

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    step = pc.max(t["doc_id"]).as_py() + 1
    big = pa.concat_tables(
        t.set_column(
            t.schema.get_field_index("doc_id"),
            "doc_id",
            pc.add(t["doc_id"], pa.scalar(r * step, t.schema.field("doc_id").type)),
        )
        for r in range(6)
    )
    pq.write_table(big, tmp_path / "documents.parquet", row_group_size=big.num_rows)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    assert docs.rdd.getNumPartitions() == 1
    cores = spark.sparkContext.defaultParallelism

    signatures = minhash_signatures(_invariants_corpus(docs), num_perm=64)
    assert signatures.rdd.getNumPartitions() >= cores
    quality = QUERIES["text_quality"](spark, str(tmp_path))
    assert quality.rdd.getNumPartitions() >= cores


def _build_tasks(spark, build):
    """Completed tasks of the jobs that ``build()`` runs."""
    import uuid

    sc = spark.sparkContext
    group = f"build-tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return sum(
        st.getStageInfo(s).numCompletedTasks
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None
    )


def _at_width(spark, width, fn):
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        return fn()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_minhash_build_tasks_follow_data_not_conf(spark, sf_dir):
    """Building the registry ``dedup_minhash_lsh`` at Spark's default of
    200 shuffle partitions runs at most twice the tasks it runs at 4:
    its reused intermediates are lazy local checkpoints, which AQE
    coalesces, not persisted frames, which keep the conf width."""
    from idr_data_pipelines_spark.queries import QUERIES

    def build():
        return QUERIES["dedup_minhash_lsh"](spark, sf_dir)

    build()  # resolve the table and warm the plan caches
    narrow = _at_width(spark, 4, lambda: _build_tasks(spark, build))
    wide = _at_width(spark, 200, lambda: _build_tasks(spark, build))
    print(f"dedup_minhash_lsh build tasks: {narrow} at width 4, {wide} at 200")
    assert 0 < wide <= 2 * narrow, (narrow, wide)


_BANDING_CONSUMERS = (
    "dedup_minhash_lsh",
    "dedup_minhash_md5",
    "dedup_minhash_incremental",
    "dedup_cross_split_leakage",
    "dedup_minhash_estimate",
    "dedup_minhash_clusters",
    "docs_source_overlap",
    "split_cluster_safe",
)


@pytest.mark.parametrize("name", _BANDING_CONSUMERS)
def test_banding_consumers_same_rows_at_any_width(name, spark, sf_dir):
    """The MinHash banding consumers return the same rows at 4, 8 and
    200 shuffle partitions."""
    from idr_data_pipelines_spark.queries import QUERIES

    def rows():
        df = QUERIES[name](spark, sf_dir)
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    base = _at_width(spark, 4, rows)
    for width in (8, 200):
        assert _at_width(spark, width, rows) == base, (name, width)


@pytest.mark.parametrize(
    "op",
    (
        "minhash_lsh_pairs",
        "minhash_md5_lsh_pairs",
        "minhash_md5_incremental_pairs",
        "minhash_md5_split_probe",
        "minhash_md5_estimate_pairs",
    ),
)
def test_pair_operators_release_their_intermediates(op, spark, sf_dir):
    """After an eager pair operator returns, the session pins nothing
    new but the result's own checkpoint: every intermediate it read
    twice was released inside ``_finish``."""
    import idr_data_pipelines_spark.llmdata.dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    calls = {
        "minhash_lsh_pairs": lambda: D.minhash_lsh_pairs(docs),
        "minhash_md5_lsh_pairs": lambda: D.minhash_md5_lsh_pairs(docs),
        "minhash_md5_incremental_pairs": lambda: D.minhash_md5_incremental_pairs(
            docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
        ),
        "minhash_md5_split_probe": lambda: D.minhash_md5_split_probe(
            docs, "id % 2 = 0"
        ),
        "minhash_md5_estimate_pairs": lambda: D.minhash_md5_estimate_pairs(docs),
    }

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = pinned()
    result = calls[op]()
    own = result._jdf.queryExecution().analyzed().rdd().id()
    assert pinned() - before == {own}


def test_pack_invariant_summary_catches_violations(spark):
    """The r11 invariant oracle for pack_bestfit is only worth its
    green driver row if a BROKEN packing flips it red. Feed the
    summary reduction hand-built packings violating each contract and
    assert the corresponding count/flag moves off the oracle's
    expected value (0/0/1/0); then a clean packing reproduces the
    expected row exactly."""
    from idr_data_pipelines_spark.queries import _pack_invariant_summary

    cols = ["doc_id", "source", "n_tok", "pack_id"]

    def summarize(rows):
        r = _pack_invariant_summary(
            spark.createDataFrame(rows, cols), cap=1024
        ).collect()
        assert len(r) == 1
        return r[0]

    # over-capacity multi-doc bin
    r = summarize([(1, "s", 600, 0), (2, "s", 600, 0)])
    assert r["over_capacity_bins"] == 1

    # oversized doc sharing its bin
    r = summarize([(1, "s", 2000, 0), (2, "s", 10, 0)])
    assert r["shared_oversized_bins"] == 1

    # the same doc packed twice
    r = summarize([(1, "s", 10, 0), (1, "s", 10, 1)])
    assert r["dup_docs"] == 1

    # two half-empty bins (any-fit theorem violation)
    r = summarize([(1, "s", 100, 0), (2, "s", 100, 1)])
    assert r["fill_bound_ok"] == 0

    # a clean packing reproduces the oracle row exactly
    r = summarize([(1, "s", 900, 0), (2, "s", 124, 0), (3, "s", 700, 1)])
    assert (
        r["docs_packed"],
        r["tokens_packed"],
        r["over_capacity_bins"],
        r["shared_oversized_bins"],
        r["fill_bound_ok"],
        r["dup_docs"],
    ) == (3, 1724, 0, 0, 1, 0)


def test_sampling_api_guards_r11(spark):
    """r11 review guards: zero buckets would silently null every
    hash_bucket assignment (pmod(x,0) is NULL, not an error);
    negative temperature alpha would hand the smallest source an
    unbounded share; a null-label class must not depress the
    balanced-sampling floor while silently vanishing from the
    output."""
    import pytest as _pytest

    from idr_data_pipelines_spark.llmdata.sampling import (
        hash_bucket,
        sample_balanced_labels,
        temperature_mix_shares,
    )

    with _pytest.raises(ValueError, match="buckets"):
        hash_bucket("x", buckets=0)
    df = spark.createDataFrame([("a",), ("b",)], ["source"])
    with _pytest.raises(ValueError, match="alpha"):
        temperature_mix_shares(df, "source", alpha=-0.5)

    rows = [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "y"), (6, None)]
    bal = spark.createDataFrame(rows, ["vec_id", "label"])
    out = sample_balanced_labels(bal, label_col="label", key_col="vec_id")
    per = {
        r["label"]: r["n"]
        for r in out.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # floor = min over REAL classes (2), not the single-null class (1)
    assert per == {"x": 2, "y": 2}


def test_text_api_guards_r11():
    """r11 review: winnowing with window=0 would array_min EMPTY
    slices — every fingerprint silently null; k=0 is not a k-gram.
    Column builders raise at construction, before any job runs."""
    import pytest as _pytest

    from idr_data_pipelines_spark.llmdata.filters import top_ngram_fraction
    from idr_data_pipelines_spark.llmdata.text import (
        winnow_fingerprints,
        winnow_md5_fingerprints,
    )

    for bad in ((0, 4), (4, 0)):
        with _pytest.raises(ValueError):
            winnow_fingerprints("text", k=bad[0], window=bad[1])
        with _pytest.raises(ValueError):
            winnow_md5_fingerprints("text", k=bad[0], window=bad[1])
    with _pytest.raises(ValueError):
        top_ngram_fraction("text", k=0)


def test_ann_invariant_flags_catch_violations(spark, sf_dir, monkeypatch):
    """Like the pack_bestfit sensitivity pin: the ann_topk_ivf
    invariant flags must flip on a BROKEN result set, or the green
    driver row is a tautology. Patch the inner query to emit a frame
    with a self-match, an unsorted cosine pair, and a rank gap, and
    assert each contract flag reads 0."""
    import idr_data_pipelines_spark.queries as Q

    broken = spark.createDataFrame(
        [
            (1, 1, 0.5, 1),            # self-match
            (2, 3, 0.2, 1), (2, 4, 0.9, 2),  # cosines ascending
            (5, 6, 0.7, 2),            # ranks start at 2
        ],
        ["query_id", "neighbor_id", "cosine_r", "rank"],
    )
    monkeypatch.setattr(Q, "q_ann_topk_ivf", lambda s_, sf_: broken)
    row = Q.q_ann_topk_ivf_invariants(spark, sf_dir).collect()[0]
    assert row["no_self_ok"] == 0
    assert row["cosine_sorted_ok"] == 0
    assert row["rank_contract_ok"] == 0
    # the probe-set anchor still reads from the real input
    assert row["n_probe_queries"] == 8


def test_sketch_invariant_flags_catch_violations(spark, sf_dir, monkeypatch):
    """Sensitivity pins for the sketch-family invariant wrappers: an
    estimate pushed outside its envelope must flip the flag."""
    import idr_data_pipelines_spark.queries as Q
    from idr_data_pipelines_spark.queries import _events

    # HLL distinct: inflate one group's estimate 3x
    real = Q.q_sketch_approx_distinct(spark, sf_dir)
    rows = real.collect()
    rows = [(r["event_type"], float(r["approx_users"]) * 3.0) for r in rows]
    fake = spark.createDataFrame(rows, ["event_type", "approx_users"])
    monkeypatch.setattr(Q, "q_sketch_approx_distinct", lambda s_, sf_: fake)
    out = {
        r["event_type"]: r["within_5pct"]
        for r in Q.q_sketch_approx_distinct_invariants(spark, sf_dir).collect()
    }
    assert set(out.values()) == {0}, out

    # Misra-Gries: an estimate ABOVE truth must flip underestimate_ok
    ev = _events(spark, sf_dir)
    top = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .count()
        .orderBy(F.desc("count"))
        .limit(20)
        .select("user_id", (F.col("count") + 1).alias("est_count"))
    )
    monkeypatch.setattr(Q, "q_sketch_topk_mg", lambda s_, sf_: top)
    row = Q.q_sketch_topk_mg_invariants(spark, sf_dir).collect()[0]
    assert row["underestimate_ok"] == 0
    assert row["k_returned_ok"] == 1  # still exactly min(20, n_keys) rows


def test_remove_duplicate_spans_releases_via_handle(spark, sf_dir):
    """remove_duplicate_spans persist()s an INTERNAL frame the caller
    never receives (r11 ADVICE): unpersist() on the returned frame
    cannot free it, so the handle rides on the result and
    unpersist_materialized(result) is the engine-owned release. Pin
    (a) exactly one handle rides on the result and is persisted after
    the consuming action, (b) the release actually drops the block
    (storage level reverts to NONE and the RDD leaves the persistent
    set), (c) the call is idempotent."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        _MATERIALIZED_ATTR,
        remove_duplicate_spans,
        unpersist_materialized,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def n_persistent():
        # JavaSparkContext exposes the cached-RDD registry as a
        # java.util.Map (the scala Map on sc() is awkward over py4j)
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    result = remove_duplicate_spans(docs)
    result.write.format("noop").mode("overwrite").save()  # consume
    handles = getattr(result, _MATERIALIZED_ATTR)
    assert len(handles) == 1
    internal = handles[0]
    assert internal.storageLevel.useMemory
    before = n_persistent()
    assert before > 0, "consuming action should have pinned a block"
    assert unpersist_materialized(result, blocking=True) == 1
    assert not internal.storageLevel.useMemory
    assert n_persistent() < before
    assert unpersist_materialized(result) == 0  # idempotent


def test_dedup_invariant_flags_catch_violations(spark, sf_dir, monkeypatch):
    """Sensitivity pins for the minhash/simhash invariant wrappers:
    a missing planted-duplicate pair shifts the exact-dup count off
    the oracle's expected value, and a signature that differs between
    identical texts flips the consistency flag."""
    import idr_data_pipelines_spark.queries as Q
    from idr_data_pipelines_spark.llmdata.dedup import minhash_lsh_pairs

    import duckdb

    con = duckdb.connect()
    # the planting re-key offset is max(doc_id)+1 in both engines
    # (r12: a fixed 1000000 literal collides with real ids at scale)
    off = con.execute(
        f"SELECT MAX(doc_id) + 1 FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]

    # --- minhash: drop one KNOWN planted pair (doc 0 and its re-keyed
    # copy at id=off — guaranteed present: identical text collides in
    # every band and Jaccard-1 survives the verify)
    def broken_pairs(corpus, **kw):
        out = minhash_lsh_pairs(corpus, **kw)
        return out.filter(
            ~((F.col("id_a") == 0) & (F.col("id_b") == off))
        )

    import idr_data_pipelines_spark.llmdata.dedup as D

    monkeypatch.setattr(D, "minhash_lsh_pairs", broken_pairs)
    row = Q.q_dedup_minhash_lsh_invariants(spark, sf_dir).collect()[0]
    expected = con.execute(
        f"""
        WITH corpus AS (
            SELECT doc_id, text FROM '{sf_dir}/documents.parquet'
            WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id + {off}, text FROM '{sf_dir}/documents.parquet'
            WHERE text IS NOT NULL AND doc_id % 10 = 0
        ), grp AS (
            SELECT COUNT(*) AS c FROM corpus
            GROUP BY md5(lower(trim(regexp_replace(text, '[\\t\\n\\v\\f\\r ]+', ' ', 'g'))))
        )
        SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) FROM grp
        """
    ).fetchone()[0]
    con.close()
    assert row["exact_dup_pairs_found"] == expected - 1, (
        row["exact_dup_pairs_found"],
        expected,
    )

    # --- simhash: perturb one planted copy's signature
    from idr_data_pipelines_spark.llmdata.dedup import simhash_signatures

    def broken_sigs(corpus, **kw):
        out = simhash_signatures(corpus, **kw)
        return out.withColumn(
            "simhash",
            F.when(
                F.col("id") >= off, F.col("simhash") + F.lit(1)
            ).otherwise(F.col("simhash")),
        )

    monkeypatch.setattr(D, "simhash_signatures", broken_sigs)
    row2 = Q.q_dedup_simhash_invariants(spark, sf_dir).collect()[0]
    assert row2["consistent_ok"] == 0


def test_remaining_invariant_flags_catch_violations(spark, sf_dir, monkeypatch):
    """Sensitivity pins for the last three invariant wrappers:
    quantile rank, winnow coverage, streamed-distinct envelope."""
    import idr_data_pipelines_spark.queries as Q

    # quantiles: report p99 as the median -> p50 rank lands far from n/2
    real_q = Q.q_sketch_quantiles(spark, sf_dir)
    fake_q = real_q.withColumn("p50", F.col("p99"))
    monkeypatch.setattr(Q, "q_sketch_quantiles", lambda s_, sf_: fake_q)
    rows = Q.q_sketch_quantiles_invariants(spark, sf_dir).collect()
    assert all(r["p50_ok"] == 0 for r in rows), rows
    assert all(r["p99_ok"] == 1 for r in rows)

    # winnow: zero out one document's fingerprint count -> the
    # coverage anchor shifts off the oracle's exact non-null count
    real_w = Q.q_text_winnow_fingerprint(spark, sf_dir)
    fake_w = real_w.withColumn(
        "n_fingerprints",
        F.when(F.col("id") == 0, F.lit(0)).otherwise(
            F.col("n_fingerprints")
        ),
    )
    monkeypatch.setattr(
        Q, "q_text_winnow_fingerprint", lambda s_, sf_: fake_w
    )
    row = Q.q_text_winnow_fingerprint_invariants(spark, sf_dir).collect()[0]
    assert row["docs_fingerprinted"] == row["n_rows"] - 1

    # streamed distinct: triple one group's estimate -> envelope flag 0
    from idr_data_pipelines_spark.queries import _events

    base = (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg((F.countDistinct("user_id") * 3).alias("approx_distinct"))
    )
    monkeypatch.setattr(Q, "q_evt_distinct_stream", lambda s_, sf_: base)
    out = Q.q_evt_distinct_stream_invariants(spark, sf_dir).collect()
    assert all(r["within_5pct"] == 0 for r in out), out

    # ivf: an all-empty output flips the output-side anchor (r12) —
    # the per-row contract flags coalesce to vacuous 1 on empty input,
    # which is exactly the gap the anchor closes
    real_ivf = Q.q_ann_topk_ivf(spark, sf_dir)
    fake_ivf = real_ivf.filter(F.lit(False))
    monkeypatch.setattr(Q, "q_ann_topk_ivf", lambda s_, sf_: fake_ivf)
    row = Q.q_ann_topk_ivf_invariants(spark, sf_dir).collect()[0]
    assert row["all_queries_answered_ok"] == 0, row
    assert row["rank_contract_ok"] == 1  # vacuous by design, documented


def test_guard_boundaries_minimum_legal_params_run(spark):
    """r12 guards-vs-domain lens: every r11/r12 parameter guard's
    MINIMUM legal value must actually work end-to-end — a guard that
    is one off from the operator's real domain either rejects valid
    calls (too tight) or admits a degenerate one (too loose). Tiny
    in-memory corpus; each call only needs to produce rows without
    error and satisfy the obvious degenerate-case shape."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        minhash_lsh_pairs,
        word_shingles,
    )
    from idr_data_pipelines_spark.llmdata.sampling import (
        mix_weighted,
        pack_sequences,
        sample_exact_k,
        sample_hash_mod,
        shuffle_shards,
        split_train_holdout,
    )
    from idr_data_pipelines_spark.llmdata.sketches import (
        count_min_build,
        hll_md5_registers,
    )
    from idr_data_pipelines_spark.llmdata.text import winnow_md5_fingerprints
    from idr_data_pipelines_spark.operators.graph import pagerank

    docs = spark.createDataFrame(
        [(0, "a b c d", "s"), (1, "a b c d", "s"), (2, "x y z w", "t")],
        "doc_id long, text string, source string",
    )

    # shingles/winnow at k=1 / window=1
    assert docs.select(F.expr(word_shingles("text", k=1)).alias("s")).count() == 3
    assert (
        docs.select(
            F.expr(winnow_md5_fingerprints("text", k=1, window=1)).alias("f")
        ).count() == 3
    )

    # minhash at the smallest legal banding (num_perm=2, bands=2, r=1)
    pairs = minhash_lsh_pairs(docs, num_perm=2, bands=2, shingle_k=1)
    assert pairs.filter("id_a = 0 AND id_b = 1").count() == 1

    # count-min at depth=1, width=1: every key shares the one bucket,
    # so each estimate is the total row count (upper bound holds)
    cm = count_min_build(docs, "source", depth=1, width=1)
    assert cm.count() >= 1

    # HLL registers at both ends of the b domain
    assert hll_md5_registers(docs, "doc_id", b=1).count() >= 1
    assert hll_md5_registers(docs, "doc_id", b=26).count() >= 1

    # samplers at the degenerate-but-legal edges
    assert sample_exact_k(docs, "doc_id", k=0).count() == 0
    assert sample_hash_mod(docs, "doc_id", fraction=0.0).count() == 0
    assert sample_hash_mod(docs, "doc_id", fraction=1.0).count() == 3
    assert mix_weighted(docs, "source", "doc_id", {"s": 0.0, "t": 1.0}).count() == 1
    assert split_train_holdout(docs, "doc_id", holdout_fraction=0.0).filter(
        "split = 'train'"
    ).count() == 3
    assert shuffle_shards(docs, "doc_id", n_shards=1).filter(
        "shard = 0"
    ).count() == 3
    packed = pack_sequences(
        docs.withColumn("n_tok", F.lit(2)), "n_tok", max_tokens=1, order_col="doc_id"
    )
    assert packed.count() == 3  # every doc opens its own pack

    # pagerank at iterations=0 (uniform init returned) and damping edges
    # symmetric (dangling-free contract)
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], "src long, dst long"
    )
    assert pagerank(edges, iterations=0).count() == 3
    assert pagerank(edges, iterations=1, damping=0.0).count() == 3
    assert pagerank(edges, iterations=1, damping=1.0).count() == 3


def test_empty_input_contracts(spark):
    """r12 lens: an EMPTY corpus (a legal state for an incremental
    pipeline's first run or a fully-filtered batch) must flow through
    every major operator as an empty result — or raise the operator's
    DOCUMENTED error (ivf_centroids) — never an opaque internal crash."""
    import pytest as _pytest

    from idr_data_pipelines_spark.llmdata.dedup import (
        cross_doc_ngram_stats,
        dedup_exact,
        minhash_lsh_pairs,
        ngram_novelty_stats,
        winnow_candidate_pairs,
    )
    from idr_data_pipelines_spark.llmdata.sampling import (
        mix_weighted,
        sample_exact_k,
        sample_stratified,
        shuffle_shards,
        split_train_holdout,
    )
    from idr_data_pipelines_spark.llmdata.similarity import ivf_centroids
    from idr_data_pipelines_spark.llmdata.sketches import (
        count_min_build,
        hll_md5_registers,
    )
    from idr_data_pipelines_spark.llmdata.text import quality_score

    empty = spark.createDataFrame(
        [], "doc_id long, text string, source string"
    )

    assert dedup_exact(empty).count() == 0
    assert minhash_lsh_pairs(empty, num_perm=4, bands=2).count() == 0
    assert winnow_candidate_pairs(empty).count() == 0
    assert cross_doc_ngram_stats(empty).count() == 0
    assert ngram_novelty_stats(empty).count() == 0
    assert sample_exact_k(empty, "doc_id", k=5).count() == 0
    assert sample_stratified(empty, ["source"], 3, "doc_id").count() == 0
    assert split_train_holdout(empty, "doc_id").count() == 0
    assert shuffle_shards(empty, "doc_id", n_shards=4).count() == 0
    assert mix_weighted(empty, "source", "doc_id", {"s": 1.0}).count() == 0
    assert count_min_build(empty, "source").count() == 0
    assert hll_md5_registers(empty, "doc_id").count() == 0
    assert empty.selectExpr(*quality_score("text").values()).count() == 0

    emb = spark.createDataFrame([], "vec_id long, vec array<double>")
    with _pytest.raises(ValueError, match="no non-null embeddings"):
        ivf_centroids(emb, "vec_id", "vec", n_centroids=2)


def test_decontaminate_semantic_contract(spark):
    """Planted semantic leak: a corpus vector equal to a benchmark
    vector has cosine 1 and must be flagged; an orthogonal one must
    not. Empty benchmark keeps every corpus row visible (null max,
    zero hits, not contaminated) instead of returning zero rows; a
    non-cosine threshold is refused."""
    import pytest as _pytest

    from idr_data_pipelines_spark.llmdata.decontaminate import (
        decontaminate_semantic,
    )

    bench = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]),   # exact copy -> cosine 1
         (11, [0.0, 1.0, 0.0]),   # orthogonal -> cosine 0
         (12, [0.9, 0.1, 0.0])],  # near-copy  -> cosine ~0.99
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in decontaminate_semantic(
        corpus, bench, threshold=0.8
    ).collect()}
    assert out[10]["contaminated"] and out[10]["n_bench_hits"] == 1
    assert out[10]["max_cos_r"] == 1.0
    assert not out[11]["contaminated"] and out[11]["n_bench_hits"] == 0
    assert out[12]["contaminated"]  # paraphrase-class leak caught

    empty_bench = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    vac = {r["vec_id"]: r for r in decontaminate_semantic(
        corpus, empty_bench
    ).collect()}
    assert len(vac) == 3  # every corpus row still visible
    assert all(
        (not r["contaminated"]) and r["n_bench_hits"] == 0
        and r["max_cos_r"] is None
        for r in vac.values()
    )

    with _pytest.raises(ValueError, match="cosine"):
        decontaminate_semantic(corpus, bench, threshold=1.5)


def test_decontaminate_semantic_bucketed_contract(spark, sf_dir):
    """The LSH-bucketed screen: an exact copy of a benchmark vector
    lands in every band's same bucket (identical bits) and must be
    flagged; empty benchmark keeps every corpus row (null max, zero
    hits); null-embedding corpus rows surface as vacuously clean; bad
    params refused. Against the exact twin at sf: flags are a SUBSET
    (candidates are a subset of all pairs), every bucketed max_cos_r
    equals the exact twin's where a candidate existed, and recall on
    the twin's flagged set is positive."""
    import pytest as _pytest

    from idr_data_pipelines_spark.llmdata.decontaminate import (
        decontaminate_semantic,
        decontaminate_semantic_bucketed,
    )

    bench = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]),    # exact copy -> same buckets, cos 1
         (11, [0.0, 1.0, 0.0]),    # orthogonal
         (13, None)],              # unbucketable -> vacuously clean
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in decontaminate_semantic_bucketed(
        corpus, bench, threshold=0.8
    ).collect()}
    assert len(out) == 3
    assert out[10]["contaminated"] and out[10]["n_bench_hits"] == 1
    assert out[10]["max_cos_r"] == 1.0
    assert not out[11]["contaminated"] and out[11]["n_bench_hits"] == 0
    assert not out[13]["contaminated"] and out[13]["max_cos_r"] is None

    empty_bench = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    vac = decontaminate_semantic_bucketed(corpus, empty_bench).collect()
    assert len(vac) == 3
    assert all(
        (not r["contaminated"]) and r["n_bench_hits"] == 0
        and r["max_cos_r"] is None
        for r in vac
    )

    with _pytest.raises(ValueError, match="cosine"):
        decontaminate_semantic_bucketed(corpus, bench, threshold=1.5)
    with _pytest.raises(ValueError, match=">= 1"):
        decontaminate_semantic_bucketed(corpus, bench, bands=0)

    # vs the exact twin on the real embeddings table: subset property
    # + candidate-exactness + positive recall on the flagged set
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = emb.filter(F.col("vec_id") < 8)
    c = emb.filter(F.col("vec_id") >= 8)
    exact = {r["vec_id"]: r for r in decontaminate_semantic(
        c, b, threshold=0.8
    ).collect()}
    buck = {r["vec_id"]: r for r in decontaminate_semantic_bucketed(
        c, b, threshold=0.8, bands=2, planes_per_band=3
    ).collect()}
    assert set(buck) == set(exact)  # every corpus row surfaced
    for vid, r in buck.items():
        e = exact[vid]
        assert r["n_bench_hits"] <= e["n_bench_hits"], vid
        assert r["contaminated"] <= e["contaminated"], vid
        if r["max_cos_r"] is not None:
            # candidate cosines are EXACT -> bounded by the true max
            assert r["max_cos_r"] <= e["max_cos_r"] + 1e-9, vid
    exact_flagged = {v for v, r in exact.items() if r["contaminated"]}
    buck_flagged = {v for v, r in buck.items() if r["contaminated"]}
    assert buck_flagged <= exact_flagged
    if exact_flagged:
        assert len(buck_flagged) / len(exact_flagged) > 0


def test_remove_duplicate_spans(spark):
    """Planted cross-doc duplicate: the shared 5-gram (and every token
    it covers) is cut from BOTH docs, unique text survives, a doc
    shorter than k comes back untouched (normalized), a NULL-text row
    passes through with NULL outputs (the r14 contract — a transform
    stage must not silently drop corpus rows), min_df=1 and
    internal-column collisions are refused."""
    import pytest as _pytest

    from idr_data_pipelines_spark.llmdata.dedup import remove_duplicate_spans

    shared = "alpha bravo charlie delta echo"  # the duplicated 5-gram
    df = spark.createDataFrame(
        [
            (1, f"unique one two {shared} tail1"),
            (2, f"{shared} other words here"),
            (3, "tiny doc"),                       # < k tokens
            (4, None),                             # NULL text: passes through
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(
        df, "doc_id", "text", k=5, min_df=2
    ).collect()}
    assert set(out) == {1, 2, 3, 4}
    # NULL text: row kept, all derived outputs NULL (pass-through
    # contract pinned by test_span_removal_property)
    assert out[4]["cleaned_text"] is None
    assert out[4]["n_tokens"] is None and out[4]["n_removed"] is None
    # doc 1: 9 tokens, positions 3..7 (0-based) covered by the span
    assert out[1]["cleaned_text"] == "unique one two tail1"
    assert out[1]["n_tokens"] == 9 and out[1]["n_removed"] == 5
    # doc 2: span at the head
    assert out[2]["cleaned_text"] == "other words here"
    assert out[2]["n_removed"] == 5
    # short doc: untouched, canonical form
    assert out[3]["cleaned_text"] == "tiny doc" and out[3]["n_removed"] == 0

    # OVERLAPPING duplicated grams merge into one span: two docs
    # sharing 6 consecutive tokens have two overlapping 5-grams;
    # exactly those 6 tokens go, not 10
    df2 = spark.createDataFrame(
        [(1, "x1 a b c d e f y1"), (2, "x2 a b c d e f y2")],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r for r in remove_duplicate_spans(
        df2, k=5, min_df=2
    ).collect()}
    assert out2[1]["cleaned_text"] == "x1 y1"
    assert out2[1]["n_removed"] == 6

    with _pytest.raises(ValueError, match="min_df"):
        remove_duplicate_spans(df, min_df=1)
    with _pytest.raises(ValueError, match="k must"):
        remove_duplicate_spans(df, k=0)
    bad = df.withColumn("__rpos", F.lit(1))
    with _pytest.raises(ValueError, match="__rpos"):
        remove_duplicate_spans(bad)

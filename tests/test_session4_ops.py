"""Semantic invariants for the round-7 session-4 operators — what the
DuckDB value-hash oracle can't express by itself (the oracle proves
engine agreement; these prove the SEMANTICS are the intended ones)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from idr_data_pipelines_spark.queries import QUERIES


def _vecs(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    labels = np.array([r["label"] for r in rows])
    order = np.argsort(ids)
    return ids[order], V[order], labels[order]


def test_ann_recall_eval_bounds_and_bruteforce_consistency(spark, sf_dir):
    """recall ∈ {0, .2, .4, .6, .8, 1}; n_hits == |IVF∩exact| recomputed
    from the two underlying registry queries; one row per query."""
    rows = {r["query_id"]: r for r in QUERIES["ann_recall_eval"](spark, sf_dir).collect()}
    gt = QUERIES["ann_topk_bruteforce"](spark, sf_dir).collect()
    ap = QUERIES["ann_topk_ivf_fixed"](spark, sf_dir).collect()
    gt_set = {(r["query_id"], r["neighbor_id"]) for r in gt}
    ap_set = {(r["query_id"], r["neighbor_id"]) for r in ap}
    qids = {q for q, _ in gt_set}
    assert set(rows) == qids
    for q in qids:
        expect = len({p for p in gt_set if p[0] == q} & ap_set)
        assert rows[q]["n_hits"] == expect
        assert abs(rows[q]["recall_r"] - expect / 5.0) < 1e-9
        assert 0 <= rows[q]["n_hits"] <= 5


def test_emb_knn_graph_matches_numpy_cell_local(spark, sf_dir):
    """The graph equals a numpy reconstruction: fixed-seed cell
    assignment (argmax cosine vs vec_id<16 rows, ties → lowest id),
    then exact in-cell top-3 by (cosine desc, id asc)."""
    ids, V, _ = _vecs(spark, sf_dir)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn[ids < 16]
    sims = Vn @ C.T
    # argmax with ties -> lowest centroid id (np.argmax picks first max)
    cell = np.argmax(sims, axis=1)
    got = {
        (r["src_id"], r["rank"]): r["dst_id"]
        for r in QUERIES["emb_knn_graph"](spark, sf_dir).collect()
    }
    expected_n = 0
    S = Vn @ Vn.T
    for si, s in enumerate(ids):
        mates = [di for di in range(len(ids)) if cell[di] == cell[si] and di != si]
        ranked = sorted(mates, key=lambda di: (-S[si, di], ids[di]))[:3]
        expected_n += len(ranked)
        for rk, di in enumerate(ranked, start=1):
            assert got[(s, rk)] == ids[di], (s, rk)
    assert len(got) == expected_n


def test_emb_covariance_matches_numpy(spark, sf_dir):
    """cov/corr equal the numpy covariance of the e6-quantized
    components (population covariance, scaled back)."""
    _, V, _ = _vecs(spark, sf_dir)
    Q = np.floor(V * 1e6 + 0.5)
    n = len(Q)
    mu = Q.sum(axis=0) / n
    Xc = Q - mu
    cov = (Xc.T @ Xc) / n / 1e12
    sd = np.sqrt(np.diag(cov))
    rows = QUERIES["emb_covariance"](spark, sf_dir).collect()
    d = V.shape[1]
    assert len(rows) == d * (d + 1) // 2
    for r in rows:
        i, j = r["dim_i"], r["dim_j"]
        assert i <= j
        assert abs(r["cov_r"] - cov[i, j]) < 1e-6, (i, j)
        assert abs(r["corr_r"] - cov[i, j] / (sd[i] * sd[j])) < 1e-5, (i, j)


def test_sample_balanced_labels_exact_floor(spark, sf_dir):
    """Every label keeps exactly min-class-count rows; the kept ids
    are a subset of that label's population."""
    ids, _, labels = _vecs(spark, sf_dir)
    from collections import Counter

    pop = Counter(labels.tolist())
    floor = min(pop.values())
    out = QUERIES["sample_balanced_labels"](spark, sf_dir).collect()
    kept = Counter(r["label"] for r in out)
    assert set(kept) == set(pop)
    assert all(v == floor for v in kept.values()), kept
    by_label = {}
    for i, l in zip(ids.tolist(), labels.tolist()):
        by_label.setdefault(l, set()).add(i)
    for r in out:
        assert r["vec_id"] in by_label[r["label"]]


def test_docs_ngram_novelty_invariants(spark, sf_dir):
    """The lowest doc_id is fully novel; novelty ∈ [0,1]; Σ n_novel
    equals the corpus-wide distinct-gram count (every gram is novel in
    exactly one document — its first)."""
    rows = QUERIES["docs_ngram_novelty"](spark, sf_dir).collect()
    first = min(r["doc_id"] for r in rows)
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_grams"]
        assert abs(r["novelty_r"] - round(r["n_novel"] / r["n_grams"], 6)) < 1e-12
        if r["doc_id"] == first:
            assert r["n_novel"] == r["n_grams"]
    from idr_data_pipelines_spark.llmdata.dedup import word_shingles

    n_distinct = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select(F.explode(F.expr(word_shingles("text", 3))).alias("g"))
        .select("g")
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in rows) == n_distinct

#!/usr/bin/env python
"""Scale spot-check: replicate sf0.1 10x and time the heavy corpus
operators at both scales (BENCH_SCALE.md methodology, round 6).

Replicas are decorrelated so workloads scale linearly, not
quadratically in near-dup bucket occupancy:

- documents: per-replica vowel/consonant rotation (period 5 x 3 -> a
  unique substitution per replica) + id offsets;
- embeddings: per-replica component roll (norm-preserving) plus a
  deterministic per-replica sign flip of one component, + id offsets.

SemDeDup is timed with n_clusters scaled with the corpus (16 -> 160)
so per-cluster size — and therefore the pair-scan cost per row — stays
constant: that is the operator's documented scale knob (the published
recipe uses ~|corpus|/avg_cluster_size clusters).

Usage: python tools/scale_check.py [/tmp/scale10] [shape,shape,...]
Runs on local[$SPARK_GRAFT_CPUS] (default 32) with as many shuffle
partitions, as bench.py does.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = "/root/testdata/sf0.1"
VOWELS = "aeiou"
CONS = "bcdfghjklmnpqrstvwxyz"


def _sub_table(replica: int) -> dict[int, str]:
    vr, cr = replica % 5, replica % 3
    m = {}
    for i, ch in enumerate(VOWELS):
        m[ord(ch)] = VOWELS[(i + vr) % len(VOWELS)]
    for i, ch in enumerate(CONS):
        m[ord(ch)] = CONS[(i + cr) % len(CONS)]
    return m


def generate(out_dir: str, n_replicas: int = 10) -> None:
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(f"{SF}/documents.parquet").to_pydict()
    n_docs = len(docs["doc_id"])
    out = {k: [] for k in docs}
    for r in range(n_replicas):
        sub = _sub_table(r)
        for i in range(n_docs):
            out["doc_id"].append(docs["doc_id"][i] + r * 1_000_000)
            t = docs["text"][i]
            out["text"].append(t.translate(sub) if (t is not None and r) else t)
            out["lang"].append(docs["lang"][i])
            out["source"].append(docs["source"][i])
            out["n_chars"].append(docs["n_chars"][i])
    pq.write_table(pa.table(out), f"{out_dir}/documents.parquet")

    emb = pq.read_table(f"{SF}/embeddings.parquet").to_pydict()
    n_emb = len(emb["vec_id"])
    ids, vecs, labels = [], [], []
    for r in range(n_replicas):
        for i in range(n_emb):
            ids.append(emb["vec_id"][i] + r * 1_000_000 if r else emb["vec_id"][i])
            v = np.asarray(emb["embedding"][i], dtype=np.float32)
            if r:
                v = np.roll(v, r)
                v[r % len(v)] = -v[r % len(v)]
            vecs.append(v.tolist())
            labels.append(emb["label"][i])
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )


def generate_relational(out_dir: str, n_replicas: int = 10) -> None:
    """10x events/orders/lineitem: disjoint key-shifted replicas
    (vectorized pyarrow arithmetic — no per-row Python).

    - events: user_id offset per replica — the realistic growth axis
      is MORE USERS, so per-user window partitions multiply rather
      than deepen; timestamps unchanged.
    - orders+lineitem: orderkey/custkey/suppkey offsets — the
      customer-supplier graph becomes 10 disjoint replica subgraphs,
      so a fixed seed set (khop's c_custkey < 10, replica 0 only)
      tests the "graph grows, seeds don't" axis: per-hop cost should
      track the edge-scan, frontier stays constant.
    Unshifted dims (customer etc.) are symlinked so catalog queries
    run against out_dir unchanged.
    """
    import pyarrow.compute as pc

    os.makedirs(out_dir, exist_ok=True)
    shifts = {
        "events": {"event_id": 100_000_000, "user_id": 1_000_000},
        "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
        "lineitem": {"l_orderkey": 100_000_000, "l_suppkey": 10_000_000},
    }
    for tbl, cols in shifts.items():
        t = pq.read_table(f"{SF}/{tbl}.parquet")
        reps = []
        for r in range(n_replicas):
            if r == 0:
                reps.append(t)
                continue
            shifted = t
            for col, step in cols.items():
                i = shifted.schema.get_field_index(col)
                shifted = shifted.set_column(
                    i, col, pc.add(shifted.column(col), r * step)
                )
            reps.append(shifted)
        pq.write_table(pa.concat_tables(reps), f"{out_dir}/{tbl}.parquet")
    for tbl in ("region", "nation", "customer", "supplier", "part"):
        link = f"{out_dir}/{tbl}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{SF}/{tbl}.parquet", link)


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale10"
    # completion sentinel, written only after BOTH generators finish
    # (r10 review: keying on individual parquet files left a crash
    # partway through generation as a permanently half-built dir that
    # every later run skipped and then died reading). Both generators
    # are idempotent overwrites, so re-running on a partial dir heals.
    marker = f"{out_dir}/_SCALE10_COMPLETE"
    if not os.path.exists(marker):
        print(f"# generating 10x data in {out_dir}", flush=True)
        generate(out_dir)
        print(f"# generating 10x relational data in {out_dir}", flush=True)
        generate_relational(out_dir)
        with open(marker, "w") as fh:
            fh.write("ok\n")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.dedup import cross_doc_ngram_stats
    from idr_data_pipelines_spark.llmdata.similarity import semdedup_prune
    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def timed(label, build):
        runs = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 2))
        print(f"{label}: {runs} (median-after-primer basis)", flush=True)

    from idr_data_pipelines_spark.plans.lint import count_shuffles
    from idr_data_pipelines_spark.queries import QUERIES

    shapes = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    def want(name):
        return shapes is None or name in shapes

    for scale, d, nclus in (("1x", SF, 16), ("10x", out_dir, 160)):
        docs = spread_small_scan(spark.read.parquet(f"{d}/documents.parquet"))
        emb = spread_small_scan(spark.read.parquet(f"{d}/embeddings.parquet"))
        if want("text_shared_ngrams"):
            timed(
                f"text_shared_ngrams {scale}",
                lambda docs=docs: cross_doc_ngram_stats(docs, k=5, min_docs=2),
            )
        if want("emb_semdedup"):
            timed(
                f"emb_semdedup {scale} (n_clusters={nclus})",
                lambda emb=emb, nclus=nclus: semdedup_prune(
                    emb, n_clusters=nclus, threshold=0.35
                ),
            )
        if want("emb_knn_graph_scaled"):
            # the knn graph's documented scale knob: n_clusters grows
            # with the corpus (16 -> 160) so per-cell pair work stays
            # constant; vectorized=None picks the numpy assignment
            # path above 32 clusters (the production form)
            from idr_data_pipelines_spark.llmdata.similarity import (
                knn_graph_fixed_cells,
            )

            timed(
                f"emb_knn_graph {scale} (n_clusters={nclus})",
                lambda emb=emb, nclus=nclus: knn_graph_fixed_cells(
                    emb, k=3, n_clusters=nclus, vectorized=None
                ),
            )
        # Any catalog query named on the command line runs against the
        # scaled directory, with shuffle-exchange counts so a plan
        # change at 10x is visible, not inferred. Default set: the
        # heavy round-6 session-3 shapes (VERDICT r6 item 5).
        dedicated = {"text_shared_ngrams", "emb_semdedup"}  # timed above
        catalog = (
            [s for s in (shapes or []) if s in QUERIES and s not in dedicated]
            or ["graph_khop", "text_bm25_topk", "evt_path_analysis"]
        )
        for name in catalog:
            if not want(name):
                continue
            if "stream" in name:
                # streaming entries run their drain INSIDE the query
                # function (stage inbox -> availableNow -> memory
                # sink) and return the sink as a batch frame, so the
                # noop-write path would time only the memory-table
                # projection. Time the full call instead (staging +
                # drain + state maintenance — the axis that scales
                # with users); exchange counts of the returned batch
                # frame would be meaningless and are skipped.
                runs = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    n = QUERIES[name](spark, d).count()
                    runs.append(round(time.perf_counter() - t0, 2))
                print(
                    f"{name} {scale}: {runs} rows={n} "
                    "(full drain incl. staging; median-after-primer basis)",
                    flush=True,
                )
                continue
            build = lambda name=name, d=d: QUERIES[name](spark, d)
            print(
                f"# {name} {scale}: shuffle exchanges = "
                f"{count_shuffles(build())}",
                flush=True,
            )
            timed(f"{name} {scale}", build)

    # explicit teardown: a nohup'd run has been observed hanging after
    # the last timed line on a lingering non-daemon JVM thread; stop
    # the session so the process exits when the work is done
    spark.stop()


if __name__ == "__main__":
    main()

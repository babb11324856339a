#!/usr/bin/env python
"""Hot-gram straggler stress: window form vs aggregate+join-back
(BENCH_SCALE round-11 row; VERDICT r10 item 5).

The r10 rewrite of ``cross_doc_ngram_stats`` (llmdata/dedup.py)
replaced ``COUNT OVER (PARTITION BY gram)`` with a gram-keyed
aggregate + join-back, on the argument that AQE's skew handling
splits skewed JOIN partitions but can never split a WINDOW partition
— a stopword gram present in ~100% of documents serializes the whole
corpus onto one window task. This script MEASURES that claim with a
controlled synthetic corpus — and the honest result (BENCH_SCALE
r11) is that on ONE box the window form wins at every reachable
scale (1.2–2.3x across 4M–40M gram rows, 3g–16g heaps): a local
straggler inherits the idle machine's bandwidth, and the join-back
pays a double shingle evaluation. The rewrite's justification is
cluster geometry this harness cannot reproduce (one core against an
idle fleet; a hot partition that must fit ONE task's sorter), argued
quantitatively in the BENCH_SCALE row. Keep this tool as the
honest-local-baseline generator:

- corpus: ``--docs`` synthetic documents, every one containing the
  same 5-token phrase (the hot gram — doc-frequency == corpus size)
  plus four doc-unique 5-grams. Generated with ``spark.range`` so the
  experiment is pure compute, no IO term.
- skew census (static): rows per hash partition of the gram frame at
  32 partitions — the hot partition carries ≥ 20% of all gram rows
  (doc-unique grams spread evenly), i.e. ~6.4x the average; at a
  50M-doc production corpus the same shape is a full corpus on one
  task.
- AQE thresholds are DROPPED (factor 2, 4 MB) so the skew-join
  splitter can engage at toy scale the way it would at 256 MB
  partitions in production. Identical conf for both forms: the point
  is that with splitting available, only the JOIN can use it.

Both forms compute identical per-doc (n_grams, n_shared) results
(asserted), alternate 3x in one session (interleaved discipline —
see memory: benchmark-host-variance).

Usage: python tools/hotgram_stress.py [--docs 2000000]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--driver-mem",
        default="16g",
        help="JVM heap; shrink (e.g. 3g) to reproduce the production "
        "failure mode locally — the hot WINDOW partition no longer "
        "fits one task's sorter and spills, while the join-back's "
        "AQE-split partitions stay in-memory per task",
    )
    ap.add_argument(
        "--unique-grams",
        type=int,
        default=4,
        help="doc-unique k-grams per document; 1 puts HALF of all gram "
        "rows in the hot gram (the 50M-doc-stopword shape), 4 dilutes "
        "the hot share to 20%% where the join-back's double shingle "
        "evaluation can offset the window straggler locally",
    )
    args = ap.parse_args()

    from idr_data_pipelines_spark.llmdata.dedup import word_shingles
    from idr_data_pipelines_spark.session import get_spark

    spark = get_spark(
        app_name="hotgram-stress",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": args.driver_mem,
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            # production defaults (factor 5, 256 MB) never trigger at
            # toy scale; scaled down so the splitter can do at 4 MB
            # what it does at 256 MB on a cluster
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    tail_tokens = {
        1: [F.lit(" w"), F.col("id")],
        4: [
            F.lit(" w"), F.col("id") % 99991,
            F.lit(" x"), F.col("id"),
            F.lit(" y"), (F.col("id") * 7) % 99989,
            F.lit(" z"), F.col("id"),
        ],
    }[args.unique_grams]
    docs = spark.range(args.docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("hot1 hot2 hot3 hot4 hot5"), *tail_tokens).alias(
            "text"
        ),
    )
    grams = docs.select(
        "doc_id", F.explode(F.expr(word_shingles("text", 5))).alias("gram")
    )

    # static skew census: the layout the window exchange would create
    census = (
        grams.repartition(32, "gram")
        .groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .agg(
            F.max("count").alias("max_rows"),
            F.avg("count").alias("avg_rows"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .collect()[0]
    )
    print(
        f"# gram-exchange census: max {census['max_rows']} vs avg "
        f"{census['avg_rows']:.0f} rows/partition "
        f"({census['max_rows'] / census['avg_rows']:.1f}x skew) over "
        f"{census['n_parts']} partitions",
        flush=True,
    )

    def window_form():
        w = Window.partitionBy("gram")
        return (
            grams.withColumn("doc_freq", F.count(F.lit(1)).over(w))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(
                    F.when(F.col("doc_freq") >= 2, 1).otherwise(0)
                ).alias("n_shared"),
            )
        )

    def joinback_form():
        freq = grams.groupBy("gram").agg(
            F.count(F.lit(1)).alias("doc_freq")
        )
        return (
            grams.join(freq, "gram")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(
                    F.when(F.col("doc_freq") >= 2, 1).otherwise(0)
                ).alias("n_shared"),
            )
        )

    # same answer, both forms (checksum over all rows)
    def checksum(df):
        return df.agg(
            F.sum(F.col("n_grams") * 1).alias("g"),
            F.sum(F.col("n_shared") * 1).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]

    cw, cj = checksum(window_form()), checksum(joinback_form())
    assert tuple(cw) == tuple(cj), (cw, cj)
    print(f"# checksums equal: {tuple(cw)}", flush=True)

    results = {"window": [], "joinback": []}
    for rep in range(args.reps):
        for name, fn in (("window", window_form), ("joinback", joinback_form)):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            results[name].append(round(dt, 2))
            print(f"# rep {rep} {name}: {dt:.2f}s", flush=True)
    print("RESULT", results)


if __name__ == "__main__":
    main()

"""End-to-end training-data pipeline: the library composed the way a
user would wire it to build a pretraining corpus.

    raw documents
      → quality gate (C4/Gopher-style heuristic signals)
      → exact dedup (first occurrence wins)
      → MinHash-LSH near-dup collapse (keep lowest-id representative)
      → duplicate-span trim (cut cross-doc repeated 8-gram spans from
        the surviving text — Lee et al. 2022 substring dedup — and
        drop docs the trim leaves too short)
      → benchmark decontamination (shared-n-gram anti-join, broadcast)
      → deterministic train/holdout split (never leaks across runs)
      → weighted source mixing (the "2 parts web, 1 part books" step)
      → greedy sequence packing into 256-token windows
      → sharded export with contiguous global example ids

Every step is a named `Pipeline` stage, so `build(lint=True)` pre-flights
the composed physical plan (cartesian products, row-path Python UDFs,
shuffle budget) before anything executes, and `observe=True` yields
per-stage row counts from the single action that writes the shards.

Run directly:

    python examples/train_data_pipeline.py /root/testdata/sf0.01 /tmp/out

or import `build_pipeline` and call `.build(spark, lint=True)` yourself
(tests/test_example_pipeline.py does exactly that).
"""

from __future__ import annotations

import os
import sys

# runnable directly (`python examples/train_data_pipeline.py …`)
# without installing the package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idr_data_pipelines_spark.llmdata.decontaminate import decontaminate
from idr_data_pipelines_spark.llmdata.dedup import (
    dedup_cluster_collapse,
    dedup_exact,
    minhash_lsh_pairs,
)
from idr_data_pipelines_spark.llmdata.sampling import (
    mix_weighted,
    pack_sequences,
    split_train_holdout,
)
from idr_data_pipelines_spark.llmdata.text import quality_score
from idr_data_pipelines_spark.plans.pipeline import Pipeline
from idr_data_pipelines_spark.sources.parquet import read_parquet_dir


def _quality_gate(df: DataFrame) -> DataFrame:
    """Keep docs clearing the heuristic signals — the cheap filter runs
    BEFORE the dedup stages so everything downstream shuffles less."""
    q = quality_score("text")
    return (
        df.withColumns({k: F.expr(q[k]) for k in ("n_tokens", "stopword_ratio")})
        .filter((F.col("n_tokens") >= 5) & (F.col("stopword_ratio") <= 0.5))
    )


def _near_dedup(df: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs (bucket-then-compare; the O(n²)
    scan never materializes) → connected components → keep the
    lowest-id member of every near-dup cluster."""
    pairs = minhash_lsh_pairs(df, id_col="doc_id", text_col="text")
    return dedup_cluster_collapse(df, pairs, id_col="doc_id", keep="min")


def _span_trim(df: DataFrame) -> DataFrame:
    """Cut cross-doc duplicated 8-gram spans out of the surviving
    text (whole-doc near-dups are already collapsed; this removes the
    shared BOILERPLATE inside otherwise-unique docs), refresh
    n_tokens to the post-trim count, and re-apply the quality gate's
    length floor — a doc the trim hollowed out is no longer training
    data. The join-back composes the summary-frame operator with the
    carried columns (source etc.) without a second text scan."""
    from idr_data_pipelines_spark.llmdata.dedup import remove_duplicate_spans

    trimmed = remove_duplicate_spans(
        df, id_col="doc_id", text_col="text", k=8, min_df=2
    )
    kept = trimmed.filter(
        (F.col("n_tokens") - F.col("n_removed")) >= 5
    ).select(
        "doc_id",
        F.col("cleaned_text").alias("text"),
        (F.col("n_tokens") - F.col("n_removed")).alias("n_tokens"),
    )
    return df.drop("text", "n_tokens").join(kept, "doc_id")


def _decontaminate(df: DataFrame) -> DataFrame:
    """Drop docs sharing 8-grams with the 'benchmark' (the 20
    lowest-id docs stand in for an eval set; broadcast-sized)."""
    bench = df.filter(F.col("doc_id") < 20).select("text")
    return decontaminate(df, bench, id_col="doc_id", text_col="text")


def _train_split(df: DataFrame) -> DataFrame:
    """Deterministic md5-keyed 95/5 split; keep the train side. A
    doc's split never changes as the corpus is reprocessed."""
    return split_train_holdout(df, key_col="doc_id", holdout_fraction=0.05).filter(
        F.col("split") == "train"
    )


def _mix(df: DataFrame) -> DataFrame:
    """Weighted source mixing — downsample two dominant sources; the
    weight table compiles to one codegen'd CASE predicate."""
    weights = {f"src{i}": 1.0 for i in range(20)}
    weights["src0"] = 0.5
    weights["src1"] = 0.25
    return mix_weighted(
        df, source_col="source", key_col="doc_id", weights=weights
    )


def _pack(df: DataFrame) -> DataFrame:
    """Greedy contiguous packing into 256-token windows, sharded by
    source so the running-sum window never funnels globally. Reuses
    the n_tokens column the quality gate already computed — no second
    full-text split."""
    return pack_sequences(
        df,
        token_col="n_tokens",
        order_col="doc_id",
        max_tokens=256,
        shard_col="source",
    )


def audit_reports(clean: DataFrame) -> dict[str, DataFrame]:
    """The governance artifacts a curation run publishes ALONGSIDE the
    corpus (run them on the post-decontamination frame):

    - ``leakage``: near-dup pairs straddling the holdout/train split
      (banded md5-MinHash probe of the train side by the holdout
      side) — the number you check before trusting holdout loss;
    - ``curriculum``: temperature-scaled source shares (α=0.7) for
      the mixing stage — what the mix SHOULD converge to.
    Both are audit-sized outputs; neither re-shuffles the corpus
    beyond its own probe."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        minhash_md5_incremental_pairs,
    )
    from idr_data_pipelines_spark.llmdata.sampling import (
        temperature_mix_shares,
    )

    s = split_train_holdout(clean, key_col="doc_id", holdout_fraction=0.05)
    train = s.filter(F.col("split") == "train")
    holdout = s.filter(F.col("split") == "holdout")
    return {
        "leakage": minhash_md5_incremental_pairs(
            holdout, train, num_perm=16, bands=4, shingle_k=3,
            jaccard_threshold=0.5,
        ),
        "curriculum": temperature_mix_shares(train, "source", alpha=0.7),
    }


def build_pipeline(sf_dir: str) -> Pipeline:
    p = Pipeline(
        "train_data",
        source=lambda spark: read_parquet_dir(
            spark, f"{sf_dir}/documents.parquet"
        ),
    )
    p.stage("quality_gate", _quality_gate)
    p.stage("exact_dedup", lambda df: dedup_exact(df, text_col="text"))
    p.stage("near_dedup", _near_dedup)
    p.stage("span_trim", _span_trim)
    p.stage("decontaminate", _decontaminate)
    p.stage("train_split", _train_split)
    p.stage("source_mix", _mix)
    p.stage("pack", _pack)
    return p


def main(sf_dir: str, out_dir: str) -> None:
    from idr_data_pipelines_spark.session import get_spark
    from idr_data_pipelines_spark.sources.sinks import sink_training_shards

    spark = get_spark(app_name="train-data-example", master="local[*]")
    p = build_pipeline(sf_dir)
    packed = p.build(spark, lint=True, observe=True)
    sink_training_shards(
        packed.withColumn("order_key", F.md5(F.col("doc_id").cast("string"))),
        f"{out_dir}/shards",
        n_shards=8,
        order_col="order_key",
    )
    print(p.stage_metrics())
    # column-level provenance of the export — the catalog answer to
    # "where did pack_id come from?" (plan-only; nothing executes)
    from idr_data_pipelines_spark.plans import lineage_report

    print(lineage_report(packed))


if __name__ == "__main__":
    import sys

    main(sys.argv[1], sys.argv[2])

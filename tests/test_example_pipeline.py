"""The end-to-end example (examples/train_data_pipeline.py) must keep
working as the library evolves — it is the composed-usage surface a
new user copies first."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))

from train_data_pipeline import audit_reports, build_pipeline  # noqa: E402


def test_example_pipeline_builds_lints_and_shards(spark, sf_dir, tmp_path):
    from idr_data_pipelines_spark.sources.sinks import sink_training_shards

    p = build_pipeline(sf_dir)
    packed = p.build(spark, lint=True, observe=True)
    rows = packed.count()
    assert rows > 0
    assert {"doc_id", "source", "n_tokens", "pack_id", "pack_offset"} <= set(
        packed.columns
    )
    # the funnel must actually filter: fewer docs than the 500 raw
    assert rows < 500
    metrics = p.stage_metrics()
    assert set(metrics) == {
        "quality_gate", "exact_dedup", "near_dedup", "span_trim",
        "decontaminate", "train_split", "source_mix", "pack",
    }
    # monotone funnel on the doc-level stages (pack keeps row count
    # but its observation can tally a second plan pass — compare the
    # doc-level ones only)
    assert metrics["near_dedup"] <= metrics["exact_dedup"]
    assert metrics["span_trim"] <= metrics["near_dedup"]
    assert metrics["decontaminate"] <= metrics["span_trim"]
    assert metrics["source_mix"] <= metrics["train_split"]

    out = str(tmp_path / "shards")
    sink_training_shards(
        packed.withColumn("order_key", F.md5(F.col("doc_id").cast("string"))),
        out,
        n_shards=4,
        order_col="order_key",
    )
    shards = spark.read.parquet(out)
    assert shards.count() == rows
    assert shards.select("shard").distinct().count() == 4
    # contiguous global ids
    ids = [r["example_id"] for r in shards.select("example_id").collect()]
    assert sorted(ids) == list(range(rows))


def test_example_audit_reports_and_lineage(spark, sf_dir):
    """The governance side-products: the leakage probe only ever
    pairs holdout docs with train docs (verified against the split
    assignment), the curriculum shares sum to 1, and column lineage
    traces the packed export's key columns back to the documents
    scan."""
    from idr_data_pipelines_spark.llmdata.sampling import hash_bucket
    from idr_data_pipelines_spark.plans import column_lineage
    from idr_data_pipelines_spark.sources.parquet import read_parquet_dir

    docs = read_parquet_dir(spark, f"{sf_dir}/documents.parquet")
    reports = audit_reports(docs)
    buckets = {
        r["doc_id"]: r["b"]
        for r in docs.select(
            "doc_id",
            F.expr(hash_bucket("doc_id", buckets=1_000_000, salt="split")).alias("b"),
        ).collect()
    }
    threshold = int(0.05 * 1_000_000)
    for r in reports["leakage"].collect():
        assert buckets[r["id_new"]] < threshold  # holdout side
        assert buckets[r["id_old"]] >= threshold  # train side
        assert r["jaccard_r"] >= 0.5
    shares = reports["curriculum"].collect()
    assert abs(sum(r["temp_share"] for r in shares) - 1.0) < 1e-4

    p = build_pipeline(sf_dir)
    packed = p.build(spark, lint=False)
    lin = column_lineage(packed)
    assert lin["doc_id"] == [("documents", "doc_id")]
    assert ("documents", "text") in lin["n_tokens"]
    # pack_id derives from the token budget and the shard/order keys
    assert ("documents", "text") in lin["pack_id"]

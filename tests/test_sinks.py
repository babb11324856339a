"""Scale-path sink tests: bucketed co-located joins (no exchange on
either join input) and dynamic partition overwrite (only the incoming
partitions are replaced)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idr_data_pipelines_spark.sources import (
    sink_parquet_overwrite,
    sink_table_bucketed,
)


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key with equal bucket counts
    sort-merge-join without any Exchange — the co-located fact⋈fact
    path (reference's ART⋈VLS merge)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sink_table_bucketed(orders, "b_orders", ["o_custkey"], n_buckets=8,
                        sort_cols=["o_custkey"])
    sink_table_bucketed(cust, "b_customer", ["c_custkey"], n_buckets=8,
                        sort_cols=["c_custkey"])

    bo, bc = spark.table("b_orders"), spark.table("b_customer")
    # disable auto-broadcast so the join strategy is actually SMJ
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bo.join(bc, bo.o_custkey == bc.c_custkey).select(
            "o_orderkey", "c_name", "o_totalprice"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and the result is still correct
        expect = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
        assert j.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")


def test_dynamic_partition_overwrite(spark, sf_dir, tmp_path):
    """With partitionOverwriteMode=dynamic (session default), an
    overwrite that produces a subset of partitions replaces only those
    — the WRITE_TRUNCATE-at-scale story."""
    path = str(tmp_path / "part_table")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "status", F.col("o_orderstatus")
    )
    sink_parquet_overwrite(orders, path, partition_by=["status"])
    statuses = {r["status"] for r in spark.read.parquet(path).select("status").distinct().collect()}
    assert len(statuses) > 1

    # rewrite ONLY status='F' with a single marker row
    one = orders.filter(F.col("status") == "F").limit(1).withColumn(
        "o_comment", F.lit("REWRITTEN")
    )
    sink_parquet_overwrite(one, path, partition_by=["status"])
    after = spark.read.parquet(path)
    # other partitions untouched
    assert {r["status"] for r in after.select("status").distinct().collect()} == statuses
    f_rows = after.filter(F.col("status") == "F").collect()
    assert len(f_rows) == 1 and f_rows[0]["o_comment"] == "REWRITTEN"


def test_training_shards_balanced_contiguous_deterministic(spark, tmp_path):
    """Shard sizes balance to ±1, ids are exactly 0..N-1 striped
    round-robin (shard == id % n), order within a shard follows the
    order column, and a re-run reproduces identical shards."""
    import os

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.sources.sinks import sink_training_shards

    df = spark.range(0, 1001).select(
        (F.col("id") * 37 % 10007).alias("k"), F.col("id").alias("payload")
    )
    out = str(tmp_path / "shards")
    sink_training_shards(df, out, n_shards=7, order_col="k")

    back = spark.read.parquet(out)
    rows = back.collect()
    assert sorted(r["example_id"] for r in rows) == list(range(1001))
    sizes = {}
    for r in rows:
        assert r["shard"] == r["example_id"] % 7
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # global order: example_id ascending == k ascending
    by_k = sorted(rows, key=lambda r: r["k"])
    assert [r["example_id"] for r in by_k] == list(range(1001))
    # one data file per shard dir
    for d in os.listdir(out):
        if d.startswith("shard="):
            files = [f for f in os.listdir(os.path.join(out, d))
                     if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)
    # deterministic re-run
    sink_training_shards(df, str(tmp_path / "shards2"), n_shards=7, order_col="k")
    again = spark.read.parquet(str(tmp_path / "shards2")).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_parquet_manifest_rides_the_write_pass(spark, tmp_path):
    """The manifest's stats must match the written data exactly, and
    the JSON file must land beside the parquet files (Spark ignores
    underscore-prefixed files on read)."""
    import json
    import os

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.sources.sinks import sink_parquet_with_manifest

    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") * 2).alias("v"),
    )
    out = str(tmp_path / "t")
    manifest = sink_parquet_with_manifest(df, out, stat_cols=["v"])
    assert manifest["rows"] == 100
    assert manifest["columns"]["v"]["nulls"] == 10
    assert manifest["columns"]["v"]["min"] == 2
    assert manifest["columns"]["v"]["max"] == 198
    on_disk = json.load(open(os.path.join(out, "_manifest.json")))
    assert on_disk["rows"] == 100
    back = spark.read.parquet(out)
    assert back.count() == 100  # underscore file invisible to the reader


def test_bucketed_fingerprint_index_probe_no_index_exchange(spark, tmp_path):
    """dedup_incremental's docstring claim, proven: with the
    accumulated fingerprint index stored bucketed by fp, the
    anti-join probe reads the index WITHOUT an exchange on the index
    side (only the new batch shuffles to the bucket layout)."""
    import re

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.dedup import dedup_incremental
    from idr_data_pipelines_spark.llmdata.text import fingerprint
    from idr_data_pipelines_spark.sources.sinks import sink_table_bucketed

    import shutil

    spark.sql("DROP TABLE IF EXISTS fp_index")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/fp_index", ignore_errors=True)

    corpus = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc body "), (F.col("id") % 300).cast("string")).alias(
            "text"
        ),
    )
    idx = corpus.select(F.expr(fingerprint("text")).alias("fp")).distinct()
    sink_table_bucketed(idx, "fp_index", ["fp"], n_buckets=8)
    seen = spark.table("fp_index")

    batch = spark.range(400, 700).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc body "), (F.col("id") % 300).cast("string")).alias(
            "text"
        ),
    )
    out = dedup_incremental(batch, seen)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the bucketed index scan feeds the anti join with no exchange
    # between them: every exchange in the plan keys on the batch side
    idx_scans = re.findall(r"FileScan parquet [^\n]*fp_index[^\n]*Bucketed: true",
                           plan)
    assert idx_scans, plan
    # count exchanges: batch fingerprint shuffle (anti join) + window
    # shuffle; a third would mean the index re-shuffled
    n_ex = len(re.findall(
        r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))
    assert n_ex <= 2, plan
    # semantics: index texts 0-199; batch texts are 100-299 then 0-99,
    # so only texts 200-299 (ids 500-599) are genuinely new
    got = {r["doc_id"] for r in out.collect()}
    assert got == set(range(500, 600))
    spark.sql("DROP TABLE IF EXISTS fp_index")


def test_write_zordered_gives_multi_dim_file_locality(spark, sf_dir, tmp_path):
    """Each z-ordered output file must cover a narrow hyper-rectangle:
    the mean per-file span of BOTH interleaved dimensions stays well
    under the global span (random layout would give ~full span per
    file on at least one dimension)."""
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.operators.layout import (
        minmax_scale_bits,
        write_zordered,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("d"),
    )
    lo_hi = orders.agg(
        F.min("ck"), F.max("ck"), F.min("d"), F.max("d")
    ).collect()[0]
    out = str(tmp_path / "zord")
    # dimensions scaled to the same bit width before interleaving —
    # unscaled, the wider dimension owns every high Morton bit and
    # the narrow one gets no locality (see minmax_scale_bits)
    write_zordered(
        orders,
        out,
        [
            minmax_scale_bits(F.col("ck"), lo_hi[0], lo_hi[1], bits=12),
            minmax_scale_bits(F.col("d"), lo_hi[2], lo_hi[3], bits=12),
        ],
        n_files=16,  # 4 high Morton bits -> 2 per dimension -> each
        # dim splits ~4 ways (expected ~25-30% span per file)
    )
    per_file = (
        spark.read.parquet(out)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            (F.max("ck") - F.min("ck")).alias("ck_span"),
            (F.max("d") - F.min("d")).alias("d_span"),
        )
        .agg(F.avg("ck_span").alias("ck"), F.avg("d_span").alias("d"))
        .collect()[0]
    )
    g = orders.agg(
        (F.max("ck") - F.min("ck")).alias("ck"),
        (F.max("d") - F.min("d")).alias("d"),
    ).collect()[0]
    # both dimensions localize: mean per-file span < 45% of global
    assert per_file["ck"] < 0.45 * g["ck"], (per_file, g)
    assert per_file["d"] < 0.45 * g["d"], (per_file, g)

"""SparkSession factory with scale-oriented defaults.

The reference delegates all physical execution to BigQuery; here the
equivalent knobs are Spark confs. Defaults are tuned so the same code
runs on ``local[N]`` for tests and on a large cluster unchanged:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the health-facility data the reference handles is skewed by site, and
  TPC-H-ish keys are skewed at high SF, so AQE is load-bearing, not
  cosmetic.
- Arrow enabled for the few Pandas-UDF paths (llmdata.multimodal).
- ``spark.sql.shuffle.partitions`` defaults to a small number locally;
  on a real cluster pass e.g. ``shuffle_partitions=2 * total_cores``.
  Do not rely on AQE coalescing from a higher initial value: it does
  not reach ``persist()``ed frames, which keep the conf-wide width
  (Spark ships ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
  as ``false``), and the dedup operators persist their intermediates.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Full-refresh pipelines overwrite whole tables; when a sink is
    # partitioned, only rewrite the partitions present in the new data
    # (the 100 TB-friendly analogue of the reference's WRITE_TRUNCATE).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Read side: keep scan tasks well-sized (default 128m is fine at
    # scale; explicit so it is visible/tunable).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Write side: zstd ≈ snappy decode speed at ~30% better ratio —
    # at 100 TB of parquet that is tens of TB of storage and scan IO.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "idr_data_pipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured — on a real cluster, leave it to
    spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


"""Parquet directory sources.

Reference parity (cites relative to /root/reference/):

- ``read_parquet_dir`` ≙ the ``GCSToBigQueryOperator`` load with
  ``source_objects=['*']`` + parquet autodetect
  (idr_pipeline_from_server/dags/idr_load.py:83-114): read every parquet
  file under a prefix as one table, schema merged by name.
- ``read_parquet_all_string`` ≙ the pandas ingest path
  (idr_pipeline_from_server/dags/dependencies/parquet_solution.py:13-84):
  read all blobs, cast every column to string, drop exact duplicates,
  normalize the literal string "None" to null.

Spark-first notes: the pandas path in the reference pulls every blob to
driver memory; here both paths are a single distributed
``spark.read.parquet`` scan — multi-file concat is native, the
all-string cast is a projection inside the scan's codegen stage, and
dedup is a hash aggregate. Nothing touches the driver.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idr_data_pipelines_spark.plans.lint import estimate_size_bytes


def read_parquet_dir(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Load all parquet under ``path`` as one DataFrame.

    ``columns`` prunes the scan (pushed into the parquet reader —
    verify with ``df.explain()`` → ``ReadSchema``). ``merge_schema``
    reconciles drifting file schemas by name, the analogue of BigQuery
    autodetect over heterogeneous blobs.
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    # path passed to the reader verbatim — a directory, glob, or
    # single file all work natively, and rewriting a directory to
    # dir/*.parquet would break Hive-partitioned layouts whose
    # files live in k=v subdirectories
    df = reader.parquet(path)
    if columns:
        df = df.select(*columns)
    return df


def read_parquet_all_string(
    spark: SparkSession,
    path: str,
    deduplicate: bool = True,
    none_sentinels: tuple[str, ...] = ("None",),
) -> DataFrame:
    """All-string staging ingest (parquet_solution.py semantics).

    Every column is cast to string (``astype(str)`` analogue,
    parquet_solution.py:75), the literal string sentinels (``"None"``,
    parquet_solution.py:81-82) are normalized to real nulls, and exact
    duplicate rows are dropped (``drop_duplicates()``,
    parquet_solution.py:78).
    """
    df = read_parquet_dir(spark, path)
    df = df.select([F.col(c).cast("string").alias(c) for c in df.columns])
    df = df.na.replace(list(none_sentinels), None)
    if deduplicate:
        df = df.distinct()
    return df


def read_parquet_evolved(spark, path: str):
    """Read a parquet directory whose files were written under
    EVOLVING schemas (columns added over time) with ``mergeSchema``:
    the result schema is the union of all file schemas, and files
    missing a column yield nulls for it.

    The standard lake situation — an ingest adds a column in epoch 2
    and the table must stay readable across epochs without a rewrite.
    ``mergeSchema`` costs a footer read per file at planning time
    (not a data scan); for very large tables turn it off after
    compaction or pin the schema explicitly.
    """
    # one reader implementation (r10 review: an inline duplicate of
    # read_parquet_dir(merge_schema=True) drifted from its sibling)
    return read_parquet_dir(spark, path, merge_schema=True)


# Logical nodes that plan a shuffle exchange (or force a singleton
# stage). Probing the `.rdd` of a frame containing any of these under
# AQE finalizes the adaptive plan, EXECUTING every upstream stage at
# what callers believe is plan-construction time, so such a frame's
# width is read from plan statistics instead (``planned_partitions``).
# Map-only nodes (Project, Filter, Generate/explode, MapInPandas) are
# deliberately absent: they create no query stages, so probing them is
# plan-only.
_EXCHANGE_NODES = frozenset(
    {
        # "Repartition" is handled specially below: the node prints
        # for BOTH repartition(n) ("Repartition n, true" — a shuffle)
        # and coalesce(n) ("Repartition n, false" — a NARROW node
        # that creates no query stage and can leave the frame badly
        # under-partitioned; r09 review: treating it as an exchange
        # made spread_small_scan skip exactly the coalesced-to-1
        # frames the guard exists to rescue)
        "RepartitionByExpression",
        "Join",
        "Aggregate",
        "Window",
        "Sort",
        "Deduplicate",
        # SQL-authored `SELECT DISTINCT` / `UNION` print as a
        # `Distinct` node in the ANALYZED plan (ReplaceDistinctWith-
        # Aggregate runs later, in the optimizer) — r10 review,
        # execution-confirmed: without this entry the guard
        # misclassified SQL frames as exchange-free and the .rdd
        # probe executed the full distinct shuffle at construction
        "Distinct",
        "Intersect",
        "Except",
        "GlobalLimit",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInPandasWithState",
        "FlatMapCoGroupsInPandas",
        "CoGroup",
    }
)

_NODE_RE = re.compile(r"^[\s:+*-]*'?([A-Za-z]+)")


def _plan_text(df: DataFrame) -> str | None:
    """Plan text WITHOUT an RDD/JVM surface requirement: the analyzed
    plan via ``_jdf`` on classic PySpark, else the captured output of
    ``df.explain(extended=True)`` — which Spark Connect serves from
    the server (plan-only, never executes a stage). None when neither
    surface yields text. The extended-explain fallback contains the
    analyzed-plan section, so ``_plan_text_has_exchange``'s node-name
    matching works identically; it additionally contains the physical
    section, where any ``Exchange`` line is likewise (correctly)
    exchange-bearing."""
    try:
        return df._jdf.queryExecution().analyzed().toString()
    except Exception:
        pass
    try:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(extended=True)
        return buf.getvalue() or None
    except Exception:
        return None


def _plan_text_has_exchange(plan: str) -> bool:
    """True iff the plan TEXT (``_plan_text`` — never executed)
    contains an exchange-inducing node. Node names are matched as the
    leading identifier token of each tree line (after the ``+-``/``:-``
    scaffolding), NOT by raw substring: a column aliased ``SortKey``
    prints inside a Project line and must not match."""
    for line in plan.splitlines():
        m = _NODE_RE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node == "Repartition":
            # shuffle flag is the last argument: true = repartition()
            # (an exchange), false = coalesce() (narrow — fall through)
            if "true" in line.rsplit(",", 1)[-1]:
                return True
            continue
        if node in _EXCHANGE_NODES or node == "Exchange":
            return True
    return False


# the root line of an explicit repartition(n) / repartition(n, cols):
# a width the user set, which AQE keeps
_REPARTITION_ROOT = re.compile(
    r"(?:Repartition (\d+), true|RepartitionByExpression \[.*\], (\d+))$"
)


def _byte_string(text: str) -> int:
    """Bytes of a Spark byte-size conf value (``67108864b``, ``64MB``,
    ``64m``): binary multiples, as Spark reads them."""
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)i?b?", text.strip().lower())
    if not m:
        raise ValueError(f"not a byte size: {text!r}")
    return int(m.group(1)) * 1024 ** " kmgtp".index(m.group(2) or " ")


def planned_partitions(df: DataFrame) -> int | None:
    """Tasks a stage over ``df`` is expected to run, read from the plan
    without running a job; None when there is no plan or RDD surface to
    read it from.

    - An exchange-free plan (scan, filter, project, coalesce): its
      input-split count, ``.rdd.getNumPartitions()``, plan-only there.
    - An explicit ``repartition(n)`` at the root: n.
    - Any other exchange-bearing plan: its planning-time size estimate
      (``plans.lint.estimate_size_bytes``) over AQE's advisory partition
      size, capped at ``spark.sql.shuffle.partitions``. AQE coalesces a
      small shuffle to about that many partitions, so a union or a
      broadcast join over a small corpus arrives 1–2 partitions wide,
      not conf-wide. Without AQE coalescing, or without an estimate, it
      is the conf width. The frame's ``.rdd`` is never touched."""
    text = _plan_text(df)
    if text is None:
        return None
    if not _plan_text_has_exchange(text):
        try:
            return df.rdd.getNumPartitions()
        except Exception:  # Spark Connect: no RDD surface
            return None
    root = next(
        line for line in text.splitlines() if line and not line.startswith("==")
    )
    m = _REPARTITION_ROOT.match(root)
    if m:
        return int(m.group(1) or m.group(2))
    conf = df.sparkSession.conf
    width = int(conf.get("spark.sql.shuffle.partitions"))
    aqe = ("spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled")
    if any(conf.get(k).lower() != "true" for k in aqe):
        return width
    try:
        size = estimate_size_bytes(df)
    except Exception:
        return width
    advisory = _byte_string(
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return max(1, min(width, -(-size // advisory)))


def spread_small_scan(
    df: DataFrame,
    min_partitions: int | None = None,
    pin: bool = False,
) -> DataFrame:
    """Layout guard for compute-heavy map stages: when ``df`` is planned
    narrower than the executor slots (``planned_partitions``: a single
    test file, a few giant single-row-group files in production, a
    small shuffle AQE coalesced to 1–2 partitions), every per-document
    regex / HOF / Arrow stage downstream serializes onto those few
    tasks. This round-robins the rows across ``min_partitions``
    (default: the cluster's ``defaultParallelism``; on Spark Connect,
    which has no ``sparkContext``, ``spark.sql.shuffle.partitions``),
    and is a NO-OP whenever the frame is already planned that wide, so
    on a real multi-file corpus it never fires and never costs a
    shuffle. Apply it to the raw rows BEFORE the expensive projections,
    so the shuffle moves input bytes, not computed features. Where no
    width can be read (Spark Connect: no RDD surface) it repartitions:
    an always-no-op guard would silently lose the protection.

    ``pin=True`` additionally ``persist()``-marks the spread frame
    (lazy — materialized inside the first consuming action), for
    callers whose downstream heavy work is a FILTER rather than a
    projection. Catalyst pushes deterministic filters straight
    through a Repartition onto the scan (r14: flagship_data_recipe's
    repetition-metric filter ran as a 1-task Filter-over-Scan, 1.1 s
    serial, with the spread exchange optimized away beneath it — the
    plan-visible failure of the bare guard), and a cached relation is
    the one plan boundary predicate pushdown does not cross, so the
    filter runs over the spread partitions instead. The persist only
    ever holds RAW INPUT rows of an under-partitioned scan, and only
    in the regime where the guard fires at all (never on a real
    multi-file corpus); release it with
    ``llmdata.dedup.unpersist_materialized`` when the caller attaches
    the handle, or session cache cleanup otherwise."""
    try:
        target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext
        target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    current = planned_partitions(df)
    if current is not None and current >= target:
        return df
    out = df.repartition(target)
    return out.persist() if pin else out

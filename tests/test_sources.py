"""Source-layer tests: multi-file directory reads (the reference's
``source_objects=['*']``), all-string staging, null normalization, and
the CSV/JSON surfaces (BQ load-option parity, dags/idr_load.py:90-91)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idr_data_pipelines_spark.sources import (
    read_csv_all_string,
    read_csv_dir,
    read_json_dir,
    read_parquet_all_string,
    read_parquet_dir,
)


def test_read_parquet_dir_unions_all_files(spark, sf_dir, tmp_path):
    """A directory of parquet files reads as one table (implicit
    UNION ALL, schema from footers) — dags/idr_load.py:83-114."""
    lake = str(tmp_path / "lake")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = orders.count()
    # three "daily drops" into the same prefix
    for i in range(3):
        orders.limit(0).union(orders).coalesce(1).write.mode("append").parquet(lake)
    df = read_parquet_dir(spark, lake)
    assert df.count() == 3 * n
    assert df.schema == orders.schema


def test_read_parquet_dir_handles_partitioned_layout(spark, tmp_path):
    """Hive-partitioned datasets (files in k=v subdirectories) must
    read with partition discovery — a dir/*.parquet glob would miss
    them entirely."""
    lake = str(tmp_path / "plake")
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], ["k", "v", "dt"]
    )
    df.write.partitionBy("dt").parquet(lake)
    back = read_parquet_dir(spark, lake)
    assert back.count() == 2
    assert "dt" in back.columns  # partition column discovered


def test_all_string_staging_and_null_normalize(spark, tmp_path):
    """The pandas-loader parity path: every column stringified, exact
    dups dropped, literal 'None' → real NULL
    (deps/parquet_solution.py:75-84)."""
    src = str(tmp_path / "staging")
    rows = [(1, "a", None), (1, "a", None), (2, "None", 3.5)]
    spark.createDataFrame(rows, ["k", "s", "v"]).write.parquet(src)
    df = read_parquet_all_string(spark, src)
    assert dict(df.dtypes) == {"k": "string", "s": "string", "v": "string"}
    got = sorted([tuple(r) for r in df.collect()])
    # dedup dropped the duplicate; "None" (from the source string and
    # from stringified NULL) normalized back to NULL
    assert got == [("1", "a", None), ("2", None, "3.5")]


# ------------------------------------------------------------ CSV/JSON

def _write_csv(spark, df, path):
    # the CSV *writer* trims field whitespace by default
    # (ignoreLeading/TrailingWhiteSpace=true on write) — disable for a
    # byte-faithful roundtrip
    (
        df.coalesce(1)
        .write.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .mode("overwrite")
        .csv(path)
    )


def test_csv_quoted_newlines_roundtrip(spark, tmp_path):
    """allow_quoted_newlines (BQ) ≙ multiLine (Spark): fields with
    embedded record delimiters, quotes and commas survive the
    write→parse roundtrip (dags/idr_load.py:91)."""
    rows = [
        (1, "plain"),
        (2, "two\nlines"),
        (3, 'has "quotes" and, commas'),
        (4, "trailing\n"),
    ]
    df = spark.createDataFrame(rows, ["k", "s"])
    path = str(tmp_path / "csv_nl")
    _write_csv(spark, df, path)
    back = read_csv_dir(spark, path, schema="k int, s string")
    assert sorted(tuple(r) for r in back.collect()) == sorted(rows)


def test_csv_skip_leading_rows_zero_reads_header_as_data(spark, tmp_path):
    """skip_leading_rows=0 ≙ no header: the first line is data
    (BQ semantics; header row surfaces as a record)."""
    path = tmp_path / "raw"
    path.mkdir()
    (path / "part.csv").write_text("a,b\n1,2\n")
    with_header = read_csv_dir(spark, str(path), skip_leading_rows=1)
    no_header = read_csv_dir(spark, str(path), skip_leading_rows=0)
    assert with_header.count() == 1 and with_header.columns == ["a", "b"]
    assert no_header.count() == 2
    with pytest.raises(ValueError):
        read_csv_dir(spark, str(path), skip_leading_rows=3)


def test_csv_all_string_staging(spark, tmp_path):
    """CSV variant of the all-string staging path: strings off the
    reader, 'None' sentinel → NULL, exact dups dropped."""
    path = tmp_path / "stage"
    path.mkdir()
    (path / "part.csv").write_text("k,s\n1,None\n1,None\n2,x\n")
    df = read_csv_all_string(spark, str(path))
    assert dict(df.dtypes) == {"k": "string", "s": "string"}
    assert sorted(tuple(r) for r in df.collect()) == [("1", None), ("2", "x")]


def test_json_lines_roundtrip_with_schema(spark, sf_dir, tmp_path):
    """JSON-lines write→read with an explicit schema reproduces the
    source table exactly (no inference pass, no type drift)."""
    region = read_parquet_dir(spark, f"{sf_dir}/region.parquet")
    path = str(tmp_path / "jsonl")
    region.write.mode("overwrite").json(path)
    back = read_json_dir(spark, path, schema=region.schema)
    assert back.schema == region.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, region.collect()))


def test_partition_pruned_scan_reads_only_matching_dirs(spark, sf_dir, tmp_path):
    """A date filter on a hive-partitioned layout must prune at the
    directory level: inputFiles() of the filtered frame may only name
    the 7 matching event_date=... directories (partition pruning, not
    row filtering — the other 23 days' files are never opened)."""
    from idr_data_pipelines_spark.queries import _events
    from idr_data_pipelines_spark.sources.sinks import sink_parquet_overwrite

    lake = str(tmp_path / "events_by_day")
    ev = _events(spark, sf_dir).withColumn("event_date", F.col("ts").cast("date"))
    sink_parquet_overwrite(
        ev.select("event_id", "event_type", "event_date"),
        lake,
        partition_by=["event_date"],
    )
    lo, hi = "2024-01-08", "2024-01-14"
    filtered = spark.read.parquet(lake).filter(
        F.col("event_date").between(
            F.lit(lo).cast("date"), F.lit(hi).cast("date")
        )
    )
    # the scan must carry both date bounds as PartitionFilters —
    # resolved against the directory listing, before any file opens
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    pf = next(
        (ln for ln in plan.splitlines() if "PartitionFilters" in ln), ""
    )
    assert "event_date" in pf and ">=" in pf and "<=" in pf, plan
    # listing-time proof: force the scan's partition selection and read
    # its own metric — 7 of the 30 day-directories selected (pruned at
    # the file-index level, not filtered row-wise after reading)
    scan = filtered._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    scan.selectedPartitions()
    assert scan.metrics().apply("numPartitions").value() == 7
    assert filtered.count() > 0


def test_compact_parquet_dir_merges_small_files(spark, tmp_path):
    """64 tiny files compact to the computed target count; rows and
    values survive the swap byte-for-byte."""
    from idr_data_pipelines_spark.sources.sinks import compact_parquet_dir

    path = str(tmp_path / "frag")
    df = spark.range(10_000).withColumnRenamed("id", "k")
    df.repartition(64).write.mode("overwrite").parquet(path)
    before = sorted(r["k"] for r in spark.read.parquet(path).collect())
    import glob
    assert len(glob.glob(path + "/*.parquet")) == 64

    n = compact_parquet_dir(spark, path, target_file_bytes=1 << 40)
    assert n == 1
    assert len(glob.glob(path + "/*.parquet")) == 1
    after = sorted(r["k"] for r in spark.read.parquet(path).collect())
    assert after == before


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir, tmp_path):
    """Joining a date-partitioned fact to a dimension filtered on a
    NON-partition column must inject a runtime dynamicpruning
    subquery into the fact scan (DPP): the partition list is decided
    by the dim filter's result at execution time, not statically — at
    100 TB this prunes the fact read without the user repeating the
    date predicate on the fact side.

    Two conditions are load-bearing (both found by measurement):
    the dim filter must be a *likely-selective* predicate (an
    equality — a bare boolean column does NOT qualify for Spark's
    isLikelySelective), and the dim must be a sized relation that
    plans broadcast (DPP defaults to reuseBroadcastOnly)."""
    from idr_data_pipelines_spark.queries import _events
    from idr_data_pipelines_spark.sources.sinks import sink_parquet_overwrite

    ev = _events(spark, str(sf_dir)).withColumn(
        "event_date", F.col("ts").cast("date")
    )
    lake = str(tmp_path / "events_by_day")
    sink_parquet_overwrite(
        ev.select("event_id", "user_id", "event_type", "event_date"),
        lake,
        partition_by=["event_date"],
    )
    fact = spark.read.parquet(lake)

    all_days = [r["event_date"] for r in fact.select("event_date").distinct().collect()]
    holidays = {d for d in all_days if d.toordinal() % 5 == 0}
    dim_path = str(tmp_path / "date_dim")
    spark.createDataFrame(
        [(d, "holiday" if d in holidays else "workday") for d in all_days],
        "event_date date, kind string",
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)

    j = fact.join(dim.filter(F.col("kind") == "holiday"), "event_date")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan

    got = {r["event_date"]: r["count"] for r in j.groupBy("event_date").count().collect()}
    want = {
        r["event_date"]: r["count"]
        for r in ev.groupBy("event_date").count().collect()
        if r["event_date"] in holidays
    }
    assert got == want


def test_python_datasource_partitions_and_determinism(spark):
    """The custom DataSource must honor its partition plan (ranges
    cover 0..n exactly once) and generate identically whatever the
    partition count."""
    from idr_data_pipelines_spark.sources.pydatasource import (
        SyntheticCorpusDataSource,
        synth_text,
    )

    spark.dataSource.register(SyntheticCorpusDataSource)

    def load(n_parts):
        return (
            spark.read.format("synthetic_corpus")
            .option("n_rows", 100)
            .option("numPartitions", n_parts)
            .load()
        )

    rows3 = load(3).collect()
    assert len(rows3) == 100  # ranges cover 0..n EXACTLY once (no overlap)
    a = {r["doc_id"]: r["text"] for r in rows3}
    b = {r["doc_id"]: r["text"] for r in load(11).collect()}
    assert a == b and len(a) == 100
    assert a[42] == synth_text(42)


def test_plan_exchange_probe_sees_sql_distinct(spark):
    """r10 review (execution-confirmed): SQL DISTINCT/UNION print as a
    `Distinct` node in the ANALYZED plan (the optimizer rewrites it to
    Aggregate later), so the exchange probe must classify such frames
    as exchange-bearing — probing their .rdd under AQE executes the
    full distinct shuffle at plan-construction time."""
    from idr_data_pipelines_spark.sources.parquet import (
        _plan_text,
        _plan_text_has_exchange,
    )

    def _plan_has_exchange(df):
        return _plan_text_has_exchange(_plan_text(df))

    spark.range(10).createOrReplaceTempView("__probe_t")
    assert _plan_has_exchange(spark.sql("SELECT DISTINCT id FROM __probe_t"))
    assert _plan_has_exchange(
        spark.sql("SELECT id FROM __probe_t UNION SELECT id FROM __probe_t")
    )
    # narrow frames stay probe-safe
    assert not _plan_has_exchange(spark.sql("SELECT id + 1 FROM __probe_t"))


def test_pydatasource_zero_rows_yields_empty_frame(spark):
    """r10 review (execution-confirmed): n_rows=0 returned an EMPTY
    partition list, which Spark reads as 'no partitioning' and calls
    read(None) — AttributeError in the worker; one empty range yields
    a clean empty frame."""
    from idr_data_pipelines_spark.sources.pydatasource import (
        SyntheticCorpusDataSource,
    )

    spark.dataSource.register(SyntheticCorpusDataSource)
    out = (
        spark.read.format("synthetic_corpus")
        .option("n_rows", 0)
        .load()
    )
    assert out.count() == 0


def test_catalog_probe_uses_hadoop_filesystem(spark, sf_dir, tmp_path):
    """r11 review: Catalog.table's existence probe must go through the
    Hadoop FileSystem abstraction, not os.path — with a DFS root the
    local probe is false for every table and the parquet branch
    silently never fires. The file: scheme exercises the JVM path
    (os.path.exists("file:/...") is FALSE, so resolving through a
    file:-prefixed root passes only via the Hadoop probe)."""
    import os

    from idr_data_pipelines_spark.sources import Catalog

    root = f"file:{sf_dir}"
    assert not os.path.exists(os.path.join(root, "orders.parquet"))
    cat = Catalog(spark, root=root)
    assert cat.table("orders").count() > 0
    # a missing name still falls through to the Spark catalog error
    import pytest as _pytest

    with _pytest.raises(Exception):
        cat.table("no_such_table_xyz").collect()


def test_catalog_is_one_runs_snapshot(spark, tmp_path):
    """A Catalog resolves each parquet table once and hands back the
    same frame; a file rewritten in place is seen by the next run's
    new Catalog; a registered frame wins over a resolved table."""
    from idr_data_pipelines_spark.sources import Catalog

    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    cat = Catalog(spark, root=str(tmp_path))
    assert cat.table("t") is cat.table("t")
    assert cat.table("t").count() == 3

    spark.range(7).write.mode("overwrite").parquet(path)
    assert Catalog(spark, root=str(tmp_path)).table("t").count() == 7

    override = spark.range(1)
    cat.register("t", override)
    assert cat.table("t") is override


def test_catalog_resolves_each_name_once_under_threads(spark, tmp_path, monkeypatch):
    """Concurrent ``table`` calls for one name (more threads than
    cores, short switch interval) resolve it exactly once and all
    receive the same frame."""
    import sys
    import threading

    from idr_data_pipelines_spark.sources import Catalog
    from idr_data_pipelines_spark.sources import catalog as catalog_mod

    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    reads = []
    read = catalog_mod.read_parquet_dir
    monkeypatch.setattr(
        catalog_mod, "read_parquet_dir",
        lambda *a, **kw: (reads.append(1), read(*a, **kw))[1],
    )
    cat = Catalog(spark, root=str(tmp_path))
    got = []
    threads = [
        threading.Thread(target=lambda: got.append(cat.table("t"))) for _ in range(16)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(reads) == 1
    assert len(got) == 16 and all(df is got[0] for df in got)


def test_fsio_local_fallback_without_gateway(tmp_path):
    """Spark Connect has no JVM gateway: every fsio op must fall back
    to the local filesystem API (and ONLY then — with a live gateway,
    FS errors propagate; see Catalog._path_exists). Simulated with a
    stub whose sparkContext raises, the shape Connect presents."""
    from idr_data_pipelines_spark import fsio

    class _NoGateway:
        @property
        def sparkContext(self):
            raise AttributeError("sparkContext is not supported on Connect")

    s = _NoGateway()
    d = tmp_path / "state"
    assert fsio.exists(s, str(d)) is False
    fsio.mkdirs(s, str(d))
    assert fsio.exists(s, str(d)) is True
    assert fsio.read_text(s, str(d / "CURRENT")) is None
    fsio.write_text_atomic(s, str(d / "CURRENT"), "v0")
    assert fsio.read_text(s, str(d / "CURRENT")) == "v0"
    fsio.write_text_atomic(s, str(d / "CURRENT"), "v1")  # overwrite
    assert fsio.read_text(s, str(d / "CURRENT")) == "v1"
    (d / "v0").mkdir()
    (d / "v1").mkdir()
    assert sorted(fsio.list_names(s, str(d))) == ["CURRENT", "v0", "v1"]
    fsio.delete(s, str(d / "v0"))
    assert sorted(fsio.list_names(s, str(d))) == ["CURRENT", "v1"]
    assert fsio.list_names(s, str(tmp_path / "absent")) == []
    fsio.delete(s, str(tmp_path / "absent"))  # no-op, no raise
    # r12 ADVICE: delete must remove regular FILES too, like the
    # gateway path's fs.delete (rmtree alone silently no-ops on one)
    fsio.delete(s, str(d / "CURRENT"))
    assert sorted(fsio.list_names(s, str(d))) == ["v1"]
    # r12 ADVICE: write into a not-yet-created directory creates the
    # parent, matching the gateway path's fs.mkdirs(parent)
    deep = d / "nested" / "dir" / "CURRENT"
    fsio.write_text_atomic(s, str(deep), "v2")
    assert fsio.read_text(s, str(deep)) == "v2"

"""Pipeline/PipelineRunner behaviors: dependency order, retries,
failure hooks, per-stage materialization parity mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idr_data_pipelines_spark.plans import Pipeline, PipelineRunner


def _src(n=5):
    return lambda spark: spark.range(n).withColumn("v", F.col("id") * 2)


def test_stages_compose_lazily(spark):
    p = Pipeline("t", source=_src())
    p.stage("double", lambda df: df.withColumn("v", F.col("v") * 2))
    p.stage("filter", lambda df: df.filter(F.col("v") >= 8))
    p.stage("noop_marker")
    out = p.build(spark)
    assert [r["v"] for r in out.orderBy("id").collect()] == [8, 12, 16]


def test_runner_dependency_order(spark):
    order = []

    def mk(name, deps=()):
        p = Pipeline(name, source=_src(), depends_on=list(deps))
        p.stage("mark", lambda df, n=name: (order.append(n), df)[1])
        return p

    runner = PipelineRunner(retries=0)
    # declare out of order on purpose
    runner.run(spark, [mk("c", ["b"]), mk("b", ["a"]), mk("a")])
    assert order.index("a") < order.index("b") < order.index("c")


def test_runner_retries_then_succeeds(spark):
    attempts = {"n": 0}

    def flaky(df):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return df

    p = Pipeline("flaky", source=_src())
    p.stage("flaky_stage", flaky)
    runner = PipelineRunner(retries=2)
    runner.run(spark, [p])
    assert attempts["n"] == 3


def test_runner_failure_hook_fires(spark):
    failures = []

    def always_fails(df):
        raise RuntimeError("boom")

    p = Pipeline("doomed", source=_src())
    p.stage("bad", always_fails)
    runner = PipelineRunner(
        retries=1, on_failure=lambda name, exc: failures.append((name, str(exc)))
    )
    with pytest.raises(RuntimeError):
        runner.run(spark, [p])
    assert failures == [("doomed", "boom")]


def test_runner_detects_cycle(spark):
    a = Pipeline("a", source=_src(), depends_on=["b"])
    b = Pipeline("b", source=_src(), depends_on=["a"])
    with pytest.raises(RuntimeError, match="cycle"):
        PipelineRunner(retries=0).run(spark, [a, b])


def test_materialize_parquet_parity_mode(spark, tmp_path):
    """WRITE_TRUNCATE parity mode: each stage lands on disk and is
    re-read — including the reference's self-overwrite pattern."""
    p = Pipeline("mat", source=_src())
    p.stage("plus_one", lambda df: df.withColumn("v", F.col("v") + 1))
    p.stage("keep_even", lambda df: df.filter(F.col("v") % 2 == 1))
    out = p.build(spark, workdir=str(tmp_path))
    assert out.count() == 5  # v = id*2+1 all odd
    import os

    assert os.path.exists(tmp_path / "mat" / "plus_one")
    assert os.path.exists(tmp_path / "mat" / "keep_even")


def test_pipeline_sink_called(spark):
    captured = {}
    p = Pipeline("s", source=_src(), sink=lambda df: captured.update(n=df.count()))
    p.stage("id")
    p.run(spark)
    assert captured["n"] == 5


def test_pipeline_build_lint_gate(spark):
    """lint=True fails the build when a stage introduces a cartesian
    product, and passes a clean pipeline."""
    import pytest

    from idr_data_pipelines_spark.plans import Pipeline

    other = spark.range(5).withColumnRenamed("id", "j")
    bad = Pipeline("bad", source=lambda s: s.range(5)).stage(
        "explode_pairs", lambda df: df.crossJoin(other)
    )
    with pytest.raises(AssertionError, match="cartesian-product"):
        bad.build(spark, lint=True)

    good = Pipeline("good", source=lambda s: s.range(5)).stage(
        "double", lambda df: df.withColumn("x", df.id * 2)
    )
    assert good.build(spark, lint=True, max_shuffles=0).count() == 5


def test_materialize_lint_gates_before_stage_write(spark, tmp_path):
    """In parity mode (workdir set) the lint must fire BEFORE a scale-killer
    stage's write executes (r10 review: the write-then-swap read-back
    replaced the plan with a bare parquet scan, so the final-frame
    lint both missed every stage's anti-patterns and ran only after
    the cluster had already executed them)."""
    import os

    import pytest

    from idr_data_pipelines_spark.plans import Pipeline

    other = spark.range(5).withColumnRenamed("id", "j")
    bad = Pipeline("matbad", source=lambda s: s.range(5)).stage(
        "explode_pairs", lambda df: df.crossJoin(other)
    )
    with pytest.raises(AssertionError, match="cartesian-product"):
        bad.build(spark, workdir=str(tmp_path), lint=True)
    # pre-flight: the offending stage never landed on disk
    assert not os.path.exists(tmp_path / "matbad" / "explode_pairs")

    good = Pipeline("matgood", source=lambda s: s.range(5)).stage(
        "double", lambda df: df.withColumn("x", F.col("id") * 2)
    )
    out = good.build(spark, workdir=str(tmp_path), lint=True)
    assert out.count() == 5


def test_stage_metrics_via_observe(spark):
    """observe=True yields per-stage row counts from the ONE action
    that executes the plan (CollectMetrics piggyback, no re-runs):
    each stage boundary reports the rows that crossed it."""
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.plans.pipeline import Pipeline

    p = Pipeline("metrics_demo", source=lambda s: s.range(100))
    p.stage("keep_even", lambda df: df.filter(F.col("id") % 2 == 0))
    p.stage("keep_small", lambda df: df.filter(F.col("id") < 50))
    out = p.build(spark, observe=True)
    assert out.count() == 25  # the single action
    assert p.stage_metrics() == {"keep_even": 50, "keep_small": 25}


def test_pipeline_run_lint_preflight(spark):
    """The lint gate is reachable from run() too (library users call
    run, not build): a scale-killer stage fails BEFORE the sink fires,
    and a clean pipeline still sinks normally."""
    import pytest

    from idr_data_pipelines_spark.plans import Pipeline

    sunk = {}
    other = spark.range(5).withColumnRenamed("id", "j")
    bad = Pipeline(
        "bad", source=lambda s: s.range(5),
        sink=lambda df: sunk.__setitem__("bad", df.count()),
    ).stage("explode_pairs", lambda df: df.crossJoin(other))
    with pytest.raises(AssertionError, match="cartesian-product"):
        bad.run(spark, lint=True)
    assert "bad" not in sunk  # pre-flight, not post-mortem

    good = Pipeline(
        "good", source=lambda s: s.range(5),
        sink=lambda df: sunk.__setitem__("good", df.count()),
    ).stage("double", lambda df: df.withColumn("x", df.id * 2))
    good.run(spark, lint=True, max_shuffles=0)
    assert sunk["good"] == 5

"""Pipeline/PipelineRunner behaviors: dependency order, concurrent
independent pipelines, retries, failure hooks and drain, job labels,
per-stage materialization parity mode."""

from __future__ import annotations

import threading
import time

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
    """A diamond a→{b,c}→d declared out of order: each pipeline starts
    only after its upstreams' sinks finished, and b and c — both ready
    once a finishes — run at the same time (they meet at a barrier the
    serial runner would break)."""
    events = []
    meet = threading.Barrier(2, timeout=30)

    def mk(name, deps=()):
        p = Pipeline(
            name, source=lambda spark, n=name: (events.append(("start", n)), _src()(spark))[1],
            depends_on=list(deps), sink=lambda df, n=name: events.append(("end", n)),
        )
        if name in ("b", "c"):
            p.stage("meet", lambda df: (meet.wait(), df)[1])
        return p

    runner = PipelineRunner(retries=0)
    runner.run(spark, [mk("d", ["b", "c"]), mk("c", ["a"]), mk("b", ["a"]), mk("a")])
    at = {e: i for i, e in enumerate(events)}
    assert at["end", "a"] < at["start", "b"] and at["end", "a"] < at["start", "c"]
    assert at["start", "d"] > max(at["end", "b"], at["end", "c"])
    assert list(runner.results) == ["d", "c", "b", "a"]  # submitted order


def test_runner_runs_independent_pipelines_concurrently(spark):
    """Two pipelines with no dependency between them are in flight at
    once: their stage functions meet at a barrier, which a one-at-a-time
    runner breaks after its timeout."""
    meet = threading.Barrier(2, timeout=30)
    pipes = [
        Pipeline(n, source=_src()).stage("meet", lambda df: (meet.wait(), df)[1])
        for n in ("left", "right")
    ]
    out = PipelineRunner(retries=0).run(spark, pipes)
    assert {n: df.count() for n, df in out.items()} == {"left": 5, "right": 5}


def test_runner_failure_drains_siblings_and_skips_dependents(spark):
    """One of two concurrent pipelines fails: the hook fires once, the
    in-flight sibling still reaches its sink before ``run`` returns,
    the failed pipeline's dependent never starts, and the original
    exception is what ``run`` raises."""
    hooked = threading.Event()
    failures, sunk, started = [], [], []
    boom = RuntimeError("boom")

    def fail(df):
        raise boom

    def on_failure(name, exc):
        failures.append((name, exc))
        hooked.set()

    def slow_sink(df):
        assert hooked.wait(timeout=30)
        time.sleep(0.5)  # still writing when the failure is seen
        sunk.append(df.count())

    bad = Pipeline("bad", source=_src()).stage("fail", fail)
    sibling = Pipeline("sibling", source=_src(), sink=slow_sink)
    dependent = Pipeline(
        "dependent", source=lambda s: (started.append(1), s.range(1))[1],
        depends_on=["bad"],
    )
    runner = PipelineRunner(retries=1, on_failure=on_failure)
    with pytest.raises(RuntimeError) as raised:
        runner.run(spark, [bad, sibling, dependent])
    assert raised.value is boom
    assert failures == [("bad", boom)]
    assert sunk == [5]
    assert started == []
    assert list(runner.results) == ["sibling"]


def test_runner_labels_jobs_and_inherits_job_group(spark):
    """Every job a pipeline runs carries the caller's job group and tag
    and the description ``pipeline:<name>``; the caller's own
    description is untouched."""
    sc = spark.sparkContext
    group = "runner-labels"
    pipes = [
        Pipeline(n, source=_src(), sink=lambda df: df.count())
        for n in ("first", "second")
    ]
    sc.setJobGroup(group, "caller description")
    spark.addTag(group)
    try:
        PipelineRunner(retries=0).run(spark, pipes)
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        spark.removeTag(group)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    labels = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            labels.add(job.description().get())
            tags = job.jobTags()
            assert any(tags.apply(k).endswith(f"-{group}") for k in range(tags.size()))
    assert labels == {"pipeline:first", "pipeline:second"}


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

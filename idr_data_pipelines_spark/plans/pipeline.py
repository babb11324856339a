"""Pipeline runner — the Airflow-DAG analogue (SURVEY.md §2.10).

The reference composes ~30 BigQueryOperator tasks into per-extract DAGs
with ``>>`` chaining (dags/mmd_transforms.py:277-278), cross-DAG
``ExternalTaskSensor`` dependencies (dags/covid_transforms.py:33-39),
2 retries + a webhook failure callback (dags/idr_load.py:50-58), and
full materialization of every stage (WRITE_TRUNCATE).

Spark-first redesign: a ``Pipeline`` is an ordered list of named
``DataFrame -> DataFrame`` stages over a lineage-tracked DataFrame.
By default nothing materializes between stages — the whole chain is
ONE Catalyst plan, so predicate pushdown / column pruning / join
reordering work across stage boundaries (impossible in the reference,
where each stage round-trips a table). Passing ``workdir`` is the
opt-in parity/debug mode: each stage then writes parquet and reads it
back, which also reproduces the reference's safe self-overwrite
pattern (SURVEY.md §2.11).

``PipelineRunner`` executes a set of pipelines in dependency order
(the ExternalTaskSensor analogue), with per-pipeline retries and a
pluggable failure hook (the Mattermost-webhook analogue).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

StageFn = Callable[[DataFrame], DataFrame]


@dataclass
class Stage:
    """One named transform. ``noop`` stages are barrier markers
    (DummyOperator analogue, dags/idr_pubsub.py:44-52)."""

    name: str
    fn: StageFn | None = None

    def apply(self, df: DataFrame) -> DataFrame:
        return df if self.fn is None else self.fn(df)


class Pipeline:
    """Ordered named stages over one DataFrame lineage.

    >>> p = Pipeline("covid", source=lambda spark: ...)
    >>> p.stage("deduplicate", dedup_distinct)
    >>> p.stage("org_enrichment", lambda df: join_inner_dim_cast(df, dim, ...))
    >>> result = p.build(spark)          # lazy DataFrame, one plan
    """

    def __init__(
        self,
        name: str,
        source: Callable[..., DataFrame],
        depends_on: list[str] | None = None,
        sink: Callable[[DataFrame], None] | None = None,
    ):
        self.name = name
        self.source = source
        self.depends_on = depends_on or []
        self.sink = sink
        self.stages: list[Stage] = []
        self._observations: dict[str, object] = {}

    def stage(self, name: str, fn: StageFn | None = None) -> "Pipeline":
        if any(st.name == name for st in self.stages):
            # task_id model: names must be unique — duplicate names
            # would also collide as Observation names under
            # build(observe=True) and silently drop one stage's
            # metrics from stage_metrics()
            raise ValueError(f"duplicate stage name: {name!r}")
        self.stages.append(Stage(name, fn))
        return self

    # ``pipeline >> stage_fn`` sugar is intentionally omitted: explicit
    # named stages keep lineage debuggable and match the task_id model.

    def build(
        self,
        spark,
        workdir: str | None = None,
        lint: bool = False,
        max_shuffles: int | None = None,
        observe: bool = False,
    ) -> DataFrame:
        """Compose all stages into one lazy DataFrame.

        With ``workdir`` set, each stage is written to
        ``workdir/<pipeline>/<stage>`` as parquet and read back
        (write-then-swap) — the WRITE_TRUNCATE parity mode; without
        it the plan stays fully lazy.

        ``lint=True`` runs the physical-plan linter on the composed
        plan before returning — a cartesian product or row-at-a-time
        Python UDF introduced by any stage fails the build here, at
        author time, instead of on the cluster at 2am
        (``plans.lint.assert_scalable``; ``max_shuffles`` adds a
        shuffle budget). In parity mode each stage's plan is linted
        BEFORE its write executes (r10 review: the write-then-swap
        read-back replaces the plan with a bare parquet scan, so the
        final-frame lint alone would both miss every stage's
        anti-patterns AND run only after the cluster had already
        executed them); ``max_shuffles`` still applies to the composed
        final frame only, since per-stage plans never see the whole
        budget.

        ``observe=True`` attaches a ``CollectMetrics`` row counter to
        every stage boundary (Spark's Observation API): per-stage row
        counts come FREE with the one action that executes the plan —
        no second pass, unlike a ``.count()`` audit per stage, which
        would re-run the upstream chain N times. Read them with
        ``stage_metrics()`` after an action.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if lint:
            from idr_data_pipelines_spark.plans.lint import assert_scalable

        self._observations = {}
        df = self.source(spark)
        for st in self.stages:
            df = st.apply(df)
            if observe:
                obs = Observation(f"{self.name}.{st.name}")
                df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                self._observations[st.name] = obs
            if workdir is not None:
                if lint:
                    # gate BEFORE the write executes this stage's plan
                    assert_scalable(df)
                path = f"{workdir}/{self.name}/{st.name}"
                df.write.mode("overwrite").parquet(path)
                df = spark.read.parquet(path)
        if lint:
            assert_scalable(df, max_shuffles=max_shuffles)
        return df

    def run(self, spark, **kwargs) -> DataFrame:
        """``build`` + sink. All ``build`` kwargs pass through —
        notably ``lint=True`` as an opt-in pre-flight: the scale-killer
        checks CI runs (cartesian products, row-path Python UDFs,
        shuffle budget) gate the pipeline BEFORE the sink fires."""
        df = self.build(spark, **kwargs)
        if self.sink is not None:
            self.sink(df)
        return df

    def stage_metrics(self) -> dict[str, int]:
        """Per-stage row counts from ``build(observe=True)``. Call
        AFTER an action has executed the built frame — each
        ``Observation.get`` blocks until its metrics arrive (forever
        if no action ever runs the plan)."""
        return {
            name: obs.get["rows"] for name, obs in self._observations.items()
        }


@dataclass
class PipelineRunner:
    """Execute pipelines respecting ``depends_on``, with retries and a
    failure hook. Single-process topological order — the scheduler
    (cron, Databricks jobs, Airflow) stays external, as in the
    reference where cadence lives in the DAG schedule_interval."""

    retries: int = 2
    retry_delay_s: float = 0.0  # reference: 3 min; tests: 0
    on_failure: Callable[[str, Exception], None] | None = None
    # a depends_on name not in the submitted list is treated as an
    # EXTERNAL dependency, already satisfied (the reference's
    # ExternalTaskSensor semantics — the upstream DAG ran in a prior
    # invocation). That default makes a TYPO'd dependency silently
    # satisfied too (r09 review), so every external dep is logged at
    # WARNING, and strict_deps=True turns unknown names into errors
    # for closed pipeline sets.
    strict_deps: bool = False
    results: dict[str, DataFrame] = field(default_factory=dict)

    def run(self, spark, pipelines: list[Pipeline], **kwargs) -> dict[str, DataFrame]:
        self.results = {}  # fresh per run — never return a prior run's frames
        done: set[str] = set()
        remaining = {p.name: p for p in pipelines}
        known = set(remaining)
        external = {
            d for p in remaining.values() for d in p.depends_on if d not in known
        }
        if external:
            if self.strict_deps:
                raise ValueError(
                    f"unknown depends_on names {sorted(external)} with "
                    "strict_deps=True — typo, or submit the upstream "
                    "pipelines in the same run"
                )
            log.warning(
                "treating depends_on %s as satisfied EXTERNAL deps "
                "(not in this run's pipeline set)", sorted(external)
            )
        while remaining:
            ready = [
                p for p in remaining.values()
                if all(d in done or d not in known for d in p.depends_on)
            ]
            if not ready:
                raise RuntimeError(
                    f"dependency cycle or unmet deps among: {sorted(remaining)}"
                )
            for p in ready:
                self.results[p.name] = self._run_one(spark, p, **kwargs)
                done.add(p.name)
                del remaining[p.name]
        return self.results

    def _run_one(self, spark, pipeline: Pipeline, **kwargs) -> DataFrame:
        attempt = 0
        while True:
            try:
                return pipeline.run(spark, **kwargs)
            except Exception as exc:  # noqa: BLE001 — retry any stage failure
                attempt += 1
                if attempt > self.retries:
                    if self.on_failure is not None:
                        self.on_failure(pipeline.name, exc)
                    raise
                log.warning("pipeline %s failed (attempt %d): %s", pipeline.name, attempt, exc)
                if self.retry_delay_s:
                    time.sleep(self.retry_delay_s)

"""Pipeline composition: named stages, dependencies, retries, hooks."""

from idr_data_pipelines_spark.plans.pipeline import Pipeline, PipelineRunner, Stage
from idr_data_pipelines_spark.plans.lineage import column_lineage, lineage_report
from idr_data_pipelines_spark.plans.lint import (
    PlanFinding,
    assert_scalable,
    count_shuffles,
    estimate_size_bytes,
    key_count_profile,
    lint_plan,
    skewed_keys,
)

__all__ = [
    "Pipeline",
    "PipelineRunner",
    "Stage",
    "PlanFinding",
    "assert_scalable",
    "column_lineage",
    "lineage_report",
    "count_shuffles",
    "estimate_size_bytes",
    "key_count_profile",
    "lint_plan",
    "skewed_keys",
]

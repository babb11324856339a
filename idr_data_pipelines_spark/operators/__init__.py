"""Relational operator library — composable DataFrame -> DataFrame."""

from idr_data_pipelines_spark.operators.dedup import (
    dedup_distinct,
    dedup_groupby_max,
    dedup_latest_per_key,
    dedup_join_back_on_max,
)
from idr_data_pipelines_spark.operators.project import (
    project_rename,
    project_star_plus,
)
from idr_data_pipelines_spark.operators.filters import (
    filter_not_null,
    filter_eq,
    filter_derived,
)
from idr_data_pipelines_spark.operators.scd import (
    scd1_upsert,
    scd2_from_events,
    scd2_merge,
    scd3_update,
    scd4_upsert,
    snapshot_diff,
)
from idr_data_pipelines_spark.operators.validate import (
    referential_integrity,
    validate,
)
from idr_data_pipelines_spark.operators.joins import (
    join_fuzzy_blocked,
    join_inner_dim_cast,
    join_left_fact,
    join_anti,
    join_asof,
    join_bloom_prefilter,
    join_range,
    join_salted,
    join_salted_hot_keys,
    join_semi,
)
from idr_data_pipelines_spark.operators.layout import (
    write_zordered,
    zorder_value,
)
from idr_data_pipelines_spark.operators.aggregate import (
    agg_cube,
    agg_groupby_max_all,
    agg_incremental_merge,
    agg_mode,
    agg_rollup,
    agg_max_date,
    agg_pivot_sum_case,
    collect_sorted_array,
)

__all__ = [
    "write_zordered",
    "zorder_value",
    "dedup_distinct",
    "dedup_groupby_max",
    "dedup_latest_per_key",
    "dedup_join_back_on_max",
    "project_rename",
    "project_star_plus",
    "filter_not_null",
    "filter_eq",
    "filter_derived",
    "join_inner_dim_cast",
    "join_left_fact",
    "join_anti",
    "join_bloom_prefilter",
    "join_asof",
    "join_fuzzy_blocked",
    "scd1_upsert",
    "scd2_from_events",
    "scd2_merge",
    "scd3_update",
    "scd4_upsert",
    "snapshot_diff",
    "referential_integrity",
    "validate",
    "join_range",
    "join_salted",
    "join_salted_hot_keys",
    "join_semi",
    "agg_cube",
    "agg_groupby_max_all",
    "agg_incremental_merge",
    "agg_mode",
    "agg_rollup",
    "agg_max_date",
    "agg_pivot_sum_case",
    "collect_sorted_array",
]

"""Scalar expression layer — BigQuery-compatible SQL-text builders.

Every expression helper takes SQL expression text and returns SQL
text over built-in functions (no Python UDFs), so helpers compose —
``bq_date_diff(as_of_date(d), "DateExpected", "DAY")`` — and a stage
parses its projection once instead of building it node by node over
py4j. ``null_normalize`` is the one DataFrame op.
"""

from idr_data_pipelines_spark.functions.casts import bq_cast, safe_cast
from idr_data_pipelines_spark.functions.dates import (
    bq_date_diff,
    extract_part,
    format_date,
    as_of_date,
)
from idr_data_pipelines_spark.functions.cases import (
    case_map,
    case_flag,
    case_bucket,
    null_default,
    str_sentinel_decode,
)
from idr_data_pipelines_spark.functions.normalize import null_normalize
from idr_data_pipelines_spark.functions.sql import sql_literal, sql_name

__all__ = [
    "bq_cast",
    "safe_cast",
    "bq_date_diff",
    "extract_part",
    "format_date",
    "as_of_date",
    "case_map",
    "case_flag",
    "case_bucket",
    "null_default",
    "str_sentinel_decode",
    "null_normalize",
    "sql_literal",
    "sql_name",
]

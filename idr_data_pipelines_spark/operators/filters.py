"""Filter operators.

SURVEY.md §2.3. All are plain Catalyst filters and therefore candidates
for parquet predicate pushdown — ``filter_eq`` on a scan column shows
up in ``PushedFilters`` in the physical plan; the reference instead
materialized a whole intermediate table to apply each (e.g.
``viral_load_only``, dags/vls_transforms.py:70-82).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import sql_name


def filter_not_null(df: DataFrame, columns: list[str]) -> DataFrame:
    """``WHERE a IS NOT NULL AND b IS NOT NULL`` — the reference nests
    this redundantly (``denullification_VLS``,
    dags/vls_transforms.py:54-68); one conjunction is equivalent."""
    if not columns:
        return df
    return df.filter(" AND ".join(f"{sql_name(c)} IS NOT NULL" for c in columns))


def filter_eq(df: DataFrame, column: str, value: object) -> DataFrame:
    """``WHERE col = value`` (dags/vls_transforms.py:70-82)."""
    return df.filter(F.col(column) == value)


def filter_derived(
    df: DataFrame,
    name: str,
    expr: Column,
    predicate: Callable[[Column], Column] = lambda c: c.isNotNull(),
) -> DataFrame:
    """Compute a column then filter on it — the inline-subquery shape
    ``SELECT * FROM (SELECT *, CASE...END AS x FROM t) WHERE x IS NOT
    NULL`` (``HTS_summary``, dags/hts_transforms.py:186-212). Catalyst
    collapses the two projections; no intermediate materialization."""
    return df.withColumn(name, expr).filter(predicate(F.col(name)))

"""Aggregation operators.

SURVEY.md §2.5. Spark gives partial (map-side) + final hash aggregation
for free on every ``groupBy`` — the shuffle carries pre-aggregated
partials, so these hold up when the group count is large and the input
is 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import sql_name


def agg_groupby_max_all(df: DataFrame, keys: list[str]) -> DataFrame:
    """``GROUP BY keys`` with MAX over every other column (mixed types —
    strings/dates/numerics all orderable), dags/mmd_transforms.py:77-88."""
    other = [sql_name(c) for c in df.columns if c not in keys]
    return df.groupBy(*keys).agg(*[F.expr(f"max({c}) AS {c}") for c in other])


def agg_max_date(
    df: DataFrame,
    keys: list[str],
    date_col: str,
    alias: str = "latest_date",
) -> DataFrame:
    """``SELECT keys, MAX(CAST(d AS DATE)) GROUP BY keys``
    (``latest_vl_result``, dags/vls_transforms.py:84-97)."""
    return df.groupBy(*keys).agg(
        F.max(F.col(date_col).cast("date")).alias(alias)
    )


def agg_pivot_sum_case(
    df: DataFrame,
    cases: dict[str, Column],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Conditional-count pivot: ``SUM(CASE WHEN cond THEN 1 ELSE 0 END)
    AS name`` per entry (``HTS_warehouse_summary``,
    dags/hts_transforms.py:214-232 — global, no GROUP BY).

    A global aggregate still runs distributed: partials per partition,
    one tiny final reduce. The conditions are projected as named flags
    and summed by SQL text: the CASE/SUM tree is parsed once instead of
    built node by node per entry.
    """
    flags = df.select(*(group_by or []), *[c.alias(n) for n, c in cases.items()])
    sums = [f"sum(CASE WHEN {sql_name(n)} THEN 1 ELSE 0 END) AS {sql_name(n)}" for n in cases]
    if group_by:
        return flags.groupBy(*group_by).agg(*[F.expr(s) for s in sums])
    return flags.selectExpr(*sums)


def agg_rollup(
    df: DataFrame,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """``GROUP BY ROLLUP(keys)`` — subtotals at every key prefix plus a
    grand total (NULL marks the rolled-up levels, as in SQL). One
    shuffle; Spark expands the grouping sets map-side."""
    return df.rollup(*keys).agg(*aggs)


def agg_cube(
    df: DataFrame,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """``GROUP BY CUBE(keys)`` — aggregates for every key subset."""
    return df.cube(*keys).agg(*aggs)


def collect_sorted_array(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    alias: str = "values",
) -> DataFrame:
    """Per-group sorted array of ``value_col`` plus its cardinality.

    ``collect_list`` is order-nondeterministic under parallelism;
    ``array_sort`` canonicalizes the result so it is reproducible on
    any cluster / partition count. One shuffle with map-side partial
    collection. Returns the typed ``array`` column — callers feeding a
    hash-based comparator should project it to a scalar (e.g.
    ``concat_ws`` / ``to_json``) themselves.
    """
    return df.groupBy(*keys).agg(
        F.array_sort(F.collect_list(value_col)).alias(alias),
        F.count(F.lit(1)).alias("n_" + alias),
    )


def agg_mode(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    mode_col: str = "mode_value",
    count_col: str = "mode_count",
) -> DataFrame:
    """Deterministic per-group mode: the most frequent ``value_col``
    per group, ties broken by smallest value — unlike the built-in
    ``F.mode`` whose tie winner is arbitrary (and therefore neither
    reproducible nor oracle-able).

    Null contract (r10 review, previously unstated): null values are
    excluded from the frequency count, so a group whose EVERY value is
    null emits NO output row — callers joining modes back onto a
    per-group frame should left-join and expect the gap.

    Two-level aggregation: count per (group, value) — the heavy
    shuffle, with map-side combine, cardinality |groups × values| —
    then a row_number window per group over those counts (second
    shuffle over the already-collapsed frame). Skew-safe: a hot group
    spreads across partitions in the first agg and only its distinct
    values meet in the window.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("__cnt"), F.asc(value_col)
    )
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *group_cols,
            F.col(value_col).alias(mode_col),
            F.col("__cnt").alias(count_col),
        )
    )


def agg_incremental_merge(
    existing: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
    merge_spec: dict[str, str],
) -> DataFrame:
    """Incremental aggregate refresh: merge a new batch's partial
    aggregate into the existing aggregate table so the result equals a
    full re-aggregation of all raw data — without re-reading it.

    ``merge_spec`` maps each value column to its merge function:
    ``sum`` (for SUM and COUNT partials), ``min``, or ``max`` — the
    decomposable aggregates. Non-decomposable measures (exact
    distinct, median) need a mergeable sketch instead (see
    ``llmdata.sketches``: HLL for distinct, KLL-style quantiles).

    100 TB shape: the raw-data pass touches only the new batch; the
    merge shuffles |agg table| + |batch aggregate| rows on the group
    key — vs the reference's WRITE_TRUNCATE full refresh, which
    re-reads the entire history every run. The equality
    "incremental == full refresh" is exactly what the catalog query's
    oracle proves.
    """
    allowed = {"sum", "min", "max"}
    bad = {h for h in merge_spec.values()} - allowed
    if bad:
        raise ValueError(f"non-mergeable merge functions: {sorted(bad)}")
    cols = [*keys, *merge_spec]
    merged = existing.select(*cols).unionByName(delta_agg.select(*cols))
    return merged.groupBy(*keys).agg(
        *[getattr(F, how)(c).alias(c) for c, how in merge_spec.items()]
    )

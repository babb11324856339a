"""CASE-expression builders.

The reference's transforms are dominated by four CASE shapes
(SURVEY.md §2.7): value-recode maps (dags/hts_transforms.py:104-117,
131-144), boolean flags (dags/mmd_transforms.py:172-180,
dags/covid_transforms.py:79-82), numeric range buckets
(dags/hts_transforms.py:189-202, dags/vls_transforms.py:180-191) and
null-defaulting (dags/covid_transforms.py:93-118). Each builder takes
SQL expression text (conditions, the value to recode) and Python
values (the THEN/ELSE results, rendered by ``sql_literal``) and
returns one CASE as SQL text — one Catalyst expression, fully
codegen'd.
"""

from __future__ import annotations

from collections.abc import Sequence

from idr_data_pipelines_spark.functions.sql import sql_literal


def case_map(
    expr: str,
    mapping: dict[str, object],
    default: object = None,
    default_to_input: bool = False,
) -> str:
    """Value recode: ``CASE expr WHEN k THEN v ... END``.

    ``default_to_input=True`` passes unknown values through (the
    reference's entrypoint recode keeps unmatched raw strings,
    dags/hts_transforms.py:104-117). With neither default, unmatched
    rows are NULL — matching SQL CASE without ELSE.

    For very large recode tables prefer a broadcast mapping join; a
    CASE of thousands of branches stresses codegen.
    """
    if not mapping:
        raise ValueError("empty mapping")
    whens = " ".join(
        f"WHEN {sql_literal(k)} THEN {sql_literal(v)}" for k, v in mapping.items()
    )
    if default_to_input:
        return f"CASE {expr} {whens} ELSE {expr} END"
    if default is not None:
        return f"CASE {expr} {whens} ELSE {sql_literal(default)} END"
    return f"CASE {expr} {whens} END"


def case_flag(cond: str, if_true: object = 1, if_false: object = 0) -> str:
    """Boolean flag: ``CASE WHEN cond THEN a ELSE b END``."""
    return f"CASE WHEN {cond} THEN {sql_literal(if_true)} ELSE {sql_literal(if_false)} END"


def case_bucket(
    buckets: Sequence[tuple[str, object]],
    default: object = None,
) -> str:
    """Ordered condition buckets: first match wins.

    ``buckets`` are (condition, label) pairs evaluated top-down.
    With ``default=None`` uncovered rows yield NULL — this matters:
    the reference's ``vl_suppression`` CASE intentionally leaves
    combinations uncovered (dags/vls_transforms.py:181-185,
    SURVEY.md §2.11), and we preserve that.
    """
    if not buckets:
        raise ValueError("empty buckets")
    whens = " ".join(f"WHEN {cond} THEN {sql_literal(label)}" for cond, label in buckets)
    if default is None:
        return f"CASE {whens} END"
    return f"CASE {whens} ELSE {sql_literal(default)} END"


def null_default(expr: str, default: object = "Unknown") -> str:
    """``CASE WHEN expr IS NULL THEN default ELSE expr END`` ≡ COALESCE
    (dags/covid_transforms.py:93-118)."""
    return f"coalesce({expr}, {sql_literal(default)})"


def str_sentinel_decode(
    expr: str,
    sentinels: dict[str, object],
    cast_to: str = "decimal(38,9)",
    strict: bool = False,
) -> str:
    """Special-value decode then numeric cast: ``CASE WHEN col = 'LDL'
    THEN 0 ELSE CAST(col AS DECIMAL) END`` (dags/vls_transforms.py:
    187-190).

    ``strict=True`` mirrors BigQuery ``CAST`` — a non-sentinel,
    non-null, unparseable string fails the job loudly (the reference's
    behavior: a bad ``vl_test_result`` kills the BQ load rather than
    silently nulling a viral-load reading). ``strict=False`` is
    ``SAFE_CAST`` tolerance: unparseable → NULL (try_cast)."""
    if not sentinels:
        raise ValueError("empty sentinels")
    whens = " ".join(
        f"WHEN {expr} = {sql_literal(k)} THEN CAST({sql_literal(v)} AS {cast_to})"
        for k, v in sentinels.items()
    )
    tried = f"try_cast({expr} AS {cast_to})"
    if strict:
        msg = sql_literal(f"str_sentinel_decode: cast to {cast_to} failed for value: ")
        whens += (
            f" WHEN isnotnull({expr}) AND isnull({tried})"
            f" THEN CAST(raise_error(concat({msg}, {expr})) AS {cast_to})"
        )
    return f"CASE {whens} ELSE {tried} END"

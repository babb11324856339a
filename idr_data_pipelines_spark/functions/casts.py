"""Casts with BigQuery-compatible semantics.

The reference types its staging tables with explicit ``CAST``s
(idr_pipeline_from_server/dags/mmd_transforms.py:55-63,
dags/vls_transforms.py:189). Semantic gaps handled here (SURVEY.md §2.7
``expr_cast``):

- BigQuery ``CAST`` *errors* on malformed input; Spark's ``cast``
  returns null. ``bq_cast`` mirrors the strict behavior via
  ``try_cast`` + an explicit raise, so bad rows fail loudly like a BQ
  job would; ``safe_cast`` is BigQuery's ``SAFE_CAST`` (null on error),
  which is Spark's native behavior but spelled with ``try_cast`` so the
  intent is explicit and ANSI-mode-proof.
- BigQuery ``INT64``/``NUMERIC`` map to ``bigint`` / ``decimal(38,9)``.
"""

from __future__ import annotations

from idr_data_pipelines_spark.functions.sql import sql_literal

# BigQuery type name → Spark type name.
_BQ_TYPE_MAP = {
    "INT": "bigint",
    "INT64": "bigint",
    "INTEGER": "bigint",
    "FLOAT64": "double",
    "FLOAT": "double",
    "NUMERIC": "decimal(38,9)",
    "DECIMAL": "decimal(38,9)",
    "BIGNUMERIC": "decimal(38,18)",
    "STRING": "string",
    "DATE": "date",
    "DATETIME": "timestamp_ntz",
    "TIMESTAMP": "timestamp",
    "BOOL": "boolean",
    "BOOLEAN": "boolean",
}


def spark_type_for(bq_type: str) -> str:
    return _BQ_TYPE_MAP.get(bq_type.strip().upper(), bq_type)


def safe_cast(expr: str, bq_type: str) -> str:
    """BigQuery ``SAFE_CAST``: null on malformed input."""
    return f"try_cast({expr} AS {spark_type_for(bq_type)})"


def bq_cast(expr: str, bq_type: str) -> str:
    """BigQuery ``CAST``: error on malformed (non-null) input.

    Implemented as: if the input is non-null but ``try_cast`` yields
    null, raise — matching a failed BQ job."""
    tried = safe_cast(expr, bq_type)
    msg = sql_literal(f"bq_cast to {bq_type} failed for value: ")
    return (
        f"CASE WHEN isnotnull({expr}) AND isnull({tried})"
        f" THEN raise_error(concat({msg}, {expr})) ELSE {tried} END"
    )

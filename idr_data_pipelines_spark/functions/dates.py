"""Date/time expressions with BigQuery boundary semantics.

SURVEY.md §2.7: the reference uses ``DATE_DIFF(a, b, unit)``
(dags/hts_transforms.py:84, dags/mmd_transforms.py:102-104,158,
dags/vls_transforms.py:167), ``EXTRACT`` (dags/hts_transforms.py:85-90),
``FORMAT_DATETIME`` (dags/mmd_transforms.py:218-222) and
``CURRENT_DATE`` (dags/mmd_transforms.py:158).

Key semantic gap: BigQuery ``DATE_DIFF`` counts *unit boundaries
crossed*, not elapsed intervals — ``DATE_DIFF('2024-02-01',
'2024-01-31', MONTH) = 1`` even though only one day elapsed. Spark's
``months_between`` returns fractional elapsed months, so MONTH/YEAR/
QUARTER/WEEK are computed from extracted parts instead.

``CURRENT_DATE`` is deliberately *not* wall-clock here: operators take
an injected as-of date (``as_of_date``) so runs are deterministic and
testable (SURVEY.md §5 determinism guard).
"""

from __future__ import annotations

import datetime as _dt
import re

from idr_data_pipelines_spark.functions.sql import sql_literal


def bq_date_diff(a: str, b: str, unit: str) -> str:
    """BigQuery ``DATE_DIFF(a, b, unit)`` = boundaries of ``unit``
    between ``b`` (earlier) and ``a`` (later); negative when a < b."""
    unit = unit.strip().upper()
    if unit == "DAY":
        return f"datediff({a}, {b})"
    if unit == "WEEK":
        # BQ weeks start Sunday; count Sunday boundaries crossed.
        # floor(days_from_epoch_sunday/7) difference. 1970-01-04 was a Sunday.
        return (
            f"CAST(floor(datediff({a}, '1970-01-04') / 7)"
            f" - floor(datediff({b}, '1970-01-04') / 7) AS INT)"
        )
    per_year = {"MONTH": ("month", 12), "QUARTER": ("quarter", 4)}
    if unit in per_year:
        part, n = per_year[unit]
        return f"CAST((year({a}) - year({b})) * {n} + ({part}({a}) - {part}({b})) AS INT)"
    if unit == "YEAR":
        return f"CAST(year({a}) - year({b}) AS INT)"
    raise ValueError(f"unsupported DATE_DIFF unit: {unit}")


# BigQuery EXTRACT part → Spark SQL function.
_PART_FN = {
    "YEAR": "year",
    "QUARTER": "quarter",
    "MONTH": "month",
    "DAY": "dayofmonth",
    "HOUR": "hour",
    "MINUTE": "minute",
    "SECOND": "second",
    "DAYOFYEAR": "dayofyear",
}


def extract_part(expr: str, part: str) -> str:
    """BigQuery ``EXTRACT(part FROM d)`` → INT64."""
    part = part.strip().upper()
    if part == "WEEK":
        # BQ WEEK is Sunday-based with week 0 before the year's first
        # Sunday — NOT Spark's ISO weekofyear, which disagrees wildly
        # (EXTRACT(WEEK FROM '2023-01-01') is 1 in BQ, 52 in ISO —
        # r09 review; the old mapping shipped the ISO number under a
        # BQ contract). Same Sunday-anchor arithmetic as bq_date_diff.
        d = f"to_date({expr})"
        jan1 = f"trunc({d}, 'year')"
        first_sunday = f"date_add({jan1}, (8 - dayofweek({jan1})) % 7)"
        return (
            f"CAST(CASE WHEN {d} < {first_sunday} THEN 0"
            f" ELSE floor(datediff({d}, {first_sunday}) / 7) + 1 END AS BIGINT)"
        )
    if part not in _PART_FN:
        raise ValueError(f"unsupported EXTRACT part: {part}")
    return f"CAST({_PART_FN[part]}({expr}) AS BIGINT)"


# BigQuery FORMAT_DATETIME strftime directives → JVM DateTimeFormatter.
_FMT_MAP = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%B": "MMMM",
    "%b": "MMM",
    "%A": "EEEE",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
}


def format_date(expr: str, fmt: str) -> str:
    """BigQuery ``FORMAT_DATETIME(fmt, d)`` for the directives the
    reference uses ("%Y" → "2022", "%B" → "January";
    dags/mmd_transforms.py:218-222) plus the common ones.

    In strftime, non-% characters are literals; in the JVM pattern
    language, bare letters are pattern letters — so literal runs
    containing letters are single-quoted (e.g. ``%H:%M:%ST%d`` keeps
    the ``T`` literal instead of hitting an unsupported pattern).
    """
    parts: list[str] = []
    i = 0
    literal = ""

    def flush() -> None:
        nonlocal literal
        if literal:
            if re.search(r"[A-Za-z']", literal):
                parts.append("'" + literal.replace("'", "''") + "'")
            else:
                parts.append(literal)
            literal = ""

    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            directive = fmt[i : i + 2]
            if directive == "%%":
                literal += "%"
                i += 2
                continue
            if directive not in _FMT_MAP:
                raise ValueError(f"unsupported FORMAT_DATETIME directive: {directive}")
            flush()
            parts.append(_FMT_MAP[directive])
            i += 2
        else:
            literal += fmt[i]
            i += 1
    flush()
    return f"date_format({expr}, {sql_literal(''.join(parts))})"


def as_of_date(value: str | _dt.date | None = None) -> str:
    """Injectable CURRENT_DATE. Pass a fixed date for deterministic
    runs/tests; ``None`` falls back to the session's current_date."""
    if value is None:
        return "current_date()"
    if isinstance(value, _dt.date):
        value = value.isoformat()
    return f"to_date({sql_literal(value)})"

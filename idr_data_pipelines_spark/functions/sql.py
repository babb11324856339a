"""The name quoter and the literal renderer of every SQL-text builder.

Their text parses the same under every parser setting: no backslash,
no doubled quote (``'a''b'`` is two adjacent literals in Spark SQL,
i.e. ``'ab'``), no raw control character to break a plan's lines.
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from decimal import Decimal


def sql_name(name: str) -> str:
    """SQL reference for a column name: each dot-separated part
    backtick-quoted, so ``meta.text`` resolves to the struct field and
    ``a b`` to the column of that name, as ``F.col`` resolves them.

    A ``Column`` is refused, not rendered: its SQL rendering drops the
    backticks of names like ``a b`` and does not parse for a Python
    UDF."""
    if not isinstance(name, str):
        raise TypeError(
            f"expected a column name (str), got {type(name).__name__}"
        )
    if "`" in name:
        raise ValueError(f"column name {name!r} contains a backtick")
    return ".".join(f"`{part}`" for part in name.split("."))


_UNSAFE = re.compile(r"(['\\\x00-\x1f\x7f])")


def _str_literal(s: str) -> str:
    """A quote, a backslash or a control character becomes ``chr(n)``
    between plain quoted runs; the optimizer folds the ``concat``."""
    if not _UNSAFE.search(s):
        return f"'{s}'"
    parts = [
        f"chr({ord(p)})" if _UNSAFE.fullmatch(p) else f"'{p}'"
        for p in _UNSAFE.split(s) if p
    ]
    return f"concat({', '.join(parts)})"


def sql_literal(value: object) -> str:
    """SQL text of a Python value, typed as ``F.lit(value)`` types it:
    ``str`` → STRING, ``int`` → INT (BIGINT past 32 bits), ``float`` →
    DOUBLE, ``bool`` → BOOLEAN, ``None`` → NULL, ``date`` → DATE,
    ``Decimal`` → DECIMAL of the value's own precision and scale."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isfinite(value):
            return f"{value!r}D"
        special = "NaN" if math.isnan(value) else f"{'-' if value < 0 else ''}Infinity"
        return f"CAST('{special}' AS DOUBLE)"
    if isinstance(value, Decimal):
        _, digits, exp = value.as_tuple()
        scale = max(-exp, 0)
        precision = max(len(digits) + max(exp, 0), scale)
        return f"CAST({value:f} AS DECIMAL({precision},{scale}))"
    if isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, str):
        return _str_literal(value)
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")

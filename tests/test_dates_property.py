"""Property tests (hypothesis) for the BigQuery-compat date layer:
bq_date_diff boundary-counting semantics vs a pure-Python reference
model, over generated date pairs."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import bq_date_diff, extract_part

DATES = st.dates(min_value=dt.date(1950, 1, 3), max_value=dt.date(2099, 12, 28))


def _py_date_diff(a: dt.date, b: dt.date, unit: str) -> int:
    """Reference model: BigQuery DATE_DIFF counts unit *boundaries*
    crossed between b and a (negative when a < b)."""
    if unit == "DAY":
        return (a - b).days
    if unit == "WEEK":  # weeks start Sunday; 1970-01-04 was a Sunday
        anchor = dt.date(1970, 1, 4)
        return (a - anchor).days // 7 - (b - anchor).days // 7
    if unit == "MONTH":
        return (a.year - b.year) * 12 + (a.month - b.month)
    if unit == "QUARTER":
        qa, qb = (a.month - 1) // 3, (b.month - 1) // 3
        return (a.year - b.year) * 4 + (qa - qb)
    if unit == "YEAR":
        return a.year - b.year
    raise ValueError(unit)


@settings(max_examples=30, deadline=None)
@given(pairs=st.lists(st.tuples(DATES, DATES), min_size=1, max_size=40))
def test_bq_date_diff_matches_model(spark, pairs):
    df = spark.createDataFrame(pairs, ["a", "b"]).select(
        F.col("a").cast("date").alias("a"), F.col("b").cast("date").alias("b")
    )
    out = df.select(
        "a",
        "b",
        *[
            F.expr(bq_date_diff("a", "b", u)).alias(u)
            for u in ["DAY", "WEEK", "MONTH", "QUARTER", "YEAR"]
        ],
    ).collect()
    for r in out:
        for u in ["DAY", "WEEK", "MONTH", "QUARTER", "YEAR"]:
            assert r[u] == _py_date_diff(r["a"], r["b"], u), (r["a"], r["b"], u)


@settings(max_examples=20, deadline=None)
@given(dates=st.lists(DATES, min_size=1, max_size=40))
def test_extract_parts_consistent(spark, dates):
    df = spark.createDataFrame([(d,) for d in dates], ["d"]).select(
        F.col("d").cast("date").alias("d")
    )
    out = df.select(
        "d",
        F.expr(extract_part("d", "YEAR")).alias("y"),
        F.expr(extract_part("d", "QUARTER")).alias("q"),
        F.expr(extract_part("d", "MONTH")).alias("m"),
        F.expr(extract_part("d", "DAY")).alias("day"),
        F.expr(extract_part("d", "DAYOFYEAR")).alias("doy"),
    ).collect()
    for r in out:
        d = r["d"]
        assert r["y"] == d.year and r["m"] == d.month and r["day"] == d.day
        assert r["q"] == (d.month - 1) // 3 + 1
        assert r["doy"] == d.timetuple().tm_yday


def test_known_bq_boundary_cases(spark):
    """The cases that distinguish boundary counting from elapsed time."""
    cases = [
        ("2024-02-01", "2024-01-31", "MONTH", 1),   # one day, one boundary
        ("2024-01-01", "2023-12-31", "YEAR", 1),
        ("2024-01-01", "2023-12-31", "QUARTER", 1),
        ("2024-12-31", "2024-01-01", "MONTH", 11),  # almost a year, 11 boundaries
        ("2023-01-31", "2024-02-01", "MONTH", -13),
        ("2024-01-07", "2024-01-06", "WEEK", 1),    # Sat→Sun crosses a week
        ("2024-01-06", "2024-01-01", "WEEK", 0),    # Mon→Sat same week
    ]
    df = spark.createDataFrame(cases, ["a", "b", "unit", "want"])
    rows = df.collect()
    for r in rows:
        got = (
            spark.range(1)
            .select(
                F.expr(
                    bq_date_diff(
                        f"to_date('{r['a']}')", f"to_date('{r['b']}')", r["unit"]
                    )
                ).alias("v")
            )
            .first()["v"]
        )
        assert got == r["want"], (r["a"], r["b"], r["unit"], got, r["want"])

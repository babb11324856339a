"""Unit tests for the scalar expression layer: BigQuery-compat casts
(strict vs SAFE), CASE builders (incl. the no-ELSE NULL contract),
sentinel decodes, format_date directives, null normalization."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from idr_data_pipelines_spark.functions import (
    bq_cast,
    case_bucket,
    case_flag,
    case_map,
    format_date,
    null_default,
    null_normalize,
    safe_cast,
    sql_literal,
    str_sentinel_decode,
)


def test_safe_cast_null_on_error_and_type_map(spark):
    df = spark.createDataFrame([("12", "x")], ["good", "bad"])
    row = df.select(
        F.expr(safe_cast("good", "INT")).alias("g"),
        F.expr(safe_cast("bad", "INT64")).alias("b"),
        F.expr(safe_cast("'3.25'", "NUMERIC")).alias("n"),
    ).first()
    assert row["g"] == 12 and row["b"] is None
    assert str(row["n"]) == "3.250000000"
    assert dict(
        df.select(F.expr(safe_cast("good", "INT")).alias("g")).dtypes
    )["g"] == "bigint"  # BQ INT is INT64


def test_bq_cast_strict_raises_on_malformed(spark):
    df = spark.createDataFrame([("notanumber",)], ["v"])
    with pytest.raises(Exception) as exc:
        df.select(F.expr(bq_cast("v", "INT"))).collect()
    assert "bq_cast to INT failed" in str(exc.value)
    # nulls pass through without raising (BQ CAST(NULL) is NULL)
    df2 = spark.createDataFrame([(None,)], "v string")
    assert df2.select(F.expr(bq_cast("v", "INT")).alias("o")).first()["o"] is None


def test_case_builders_contracts(spark):
    df = spark.createDataFrame(
        [("a", 5), ("b", 50), ("zz", 500)], ["k", "n"]
    )
    out = df.select(
        "k",
        F.expr(case_map("k", {"a": "A", "b": "B"})).alias("no_else"),
        F.expr(case_map("k", {"a": "A"}, default="other")).alias("with_default"),
        F.expr(case_map("k", {"a": "A"}, default_to_input=True)).alias("passthrough"),
        F.expr(case_flag("n > 10", "Yes", "NO")).alias("flag"),
        F.expr(case_bucket([("n < 10", "small"), ("n < 100", "mid")])).alias(
            "bucket_no_else"
        ),
    ).collect()
    rows = {r["k"]: r for r in out}
    assert rows["zz"]["no_else"] is None          # CASE without ELSE → NULL
    assert rows["zz"]["with_default"] == "other"
    assert rows["zz"]["passthrough"] == "zz"
    assert rows["a"]["flag"] == "NO" and rows["b"]["flag"] == "Yes"
    assert rows["zz"]["bucket_no_else"] is None   # uncovered combo stays NULL


def test_sentinel_decode_and_null_default(spark):
    df = spark.createDataFrame([("LDL",), ("850",), ("junk",), (None,)], "v string")
    out = [
        (r["d"], r["nd"])
        for r in df.select(
            F.expr(str_sentinel_decode("v", {"LDL": 0}, cast_to="decimal(18,2)")).alias("d"),
            F.expr(null_default("v", "Unknown")).alias("nd"),
        ).collect()
    ]
    vals = [float(d) if d is not None else None for d, _ in out]
    assert vals == [0.0, 850.0, None, None]
    assert [nd for _, nd in out] == ["LDL", "850", "junk", "Unknown"]


def test_sentinel_decode_strict_raises_like_bq_cast(spark):
    """strict=True mirrors BigQuery CAST: malformed non-sentinel,
    non-null input fails the job loudly (dags/vls_transforms.py:189);
    sentinel, parseable and NULL rows still succeed."""
    import pytest

    ok = spark.createDataFrame([("LDL",), ("850",), (None,)], "v string")
    got = [
        r["d"]
        for r in ok.select(
            F.expr(str_sentinel_decode("v", {"LDL": 0}, "decimal(18,2)", strict=True)).alias("d")
        ).collect()
    ]
    assert [float(d) if d is not None else None for d in got] == [0.0, 850.0, None]

    bad = spark.createDataFrame([("junk",)], "v string")
    with pytest.raises(Exception, match="str_sentinel_decode"):
        bad.select(
            F.expr(str_sentinel_decode("v", {"LDL": 0}, "decimal(18,2)", strict=True)).alias("d")
        ).collect()


def test_format_date_directives(spark):
    df = spark.range(1).select(F.to_date(F.lit("2022-01-05")).alias("d"))
    row = df.select(
        F.expr(format_date("d", "%Y")).alias("y"),
        F.expr(format_date("d", "%B")).alias("bm"),
        F.expr(format_date("d", "%Y-%m-%d")).alias("iso"),
        F.expr(format_date("d", "%A")).alias("dow"),
    ).first()
    assert row["y"] == "2022"
    assert row["bm"] == "January"
    assert row["iso"] == "2022-01-05"
    assert row["dow"] == "Wednesday"


def test_format_date_quotes_literal_letters(spark):
    """strftime non-% chars are literals; JVM bare letters are pattern
    letters — literal runs must be quoted."""
    df = spark.range(1).select(
        F.to_timestamp(F.lit("2022-01-05 07:09:11")).alias("d")
    )
    row = df.select(
        F.expr(format_date("d", "%Y-%m-%dT%H:%M:%S")).alias("iso_t"),
        F.expr(format_date("d", "Week %d")).alias("wk"),
        F.expr(format_date("d", "100%% %Y")).alias("pct"),
        F.expr(format_date("d", "%Y'%m")).alias("quote"),
    ).first()
    assert row["iso_t"] == "2022-01-05T07:09:11"
    assert row["wk"] == "Week 05"
    assert row["pct"] == "100% 2022"
    assert row["quote"] == "2022'01"
    with pytest.raises(ValueError):
        format_date("d", "%Q")


_LITERALS = [
    "plain", "it's", "a''b", "back\\slash", "tab\tvt\x0bff\x0c", "lf\ncr\r",
    "ünï©ødé ✓", "yyyy-MM-dd'T'HH", "",
    0, -(2**31), 2**40, 1.5, 1e-05, float("inf"), float("nan"), True, None,
    dt.date(2024, 2, 29), Decimal("1.50"), Decimal("1E+2"), Decimal("0.001"),
]


@pytest.mark.parametrize("value", _LITERALS, ids=repr)
def test_sql_literal_matches_lit(spark, value):
    """``sql_literal`` parses to the value and type ``F.lit`` gives,
    under both ``escapedStringLiterals`` values: its text holds no
    backslash, and a quote is ``chr(39)``, never doubled (``'a''b'``
    is two adjacent literals, ``'ab'``)."""
    key = "spark.sql.parser.escapedStringLiterals"
    text = sql_literal(value)
    assert "\\" not in text
    try:
        for setting in ("false", "true"):
            spark.conf.set(key, setting)
            df = spark.range(1).select(F.expr(text).alias("t"), F.lit(value).alias("l"))
            assert df.schema["t"].dataType == df.schema["l"].dataType, setting
            got, want = df.first()
            assert got == want or (got != got and want != want), (setting, got, want)
    finally:
        spark.conf.set(key, "false")


def test_join_salted_rejects_outer(spark):
    from idr_data_pipelines_spark.operators import join_salted

    df = spark.range(3).withColumnRenamed("id", "k")
    other = spark.range(3).withColumnRenamed("id", "j")
    with pytest.raises(ValueError):
        join_salted(df, other, "k", "j", how="full")
    # left join: unmatched left rows appear exactly once
    left = spark.createDataFrame([(1,), (99,)], ["k"])
    out = join_salted(left, other, "k", "j", n_salts=4, how="left").collect()
    assert sorted((r["k"], r["j"]) for r in out) == [(1, 1), (99, None)]


def test_join_salted_tolerates_non_orderable_columns(spark):
    """r10 review: the retry-determinism sort must skip non-orderable
    columns (maps fail sortWithinPartitions at analysis time) instead
    of crashing a join that previously worked — a skewed side carrying
    a map payload still joins correctly."""
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.operators import join_salted

    skewed = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["k", "v"]).select(
        "k", F.create_map(F.lit("key"), F.col("v")).alias("payload")
    )
    other = spark.createDataFrame([(1, "x"), (2, "y")], ["j", "name"])
    out = join_salted(skewed, other, "k", "j", n_salts=4).collect()
    assert sorted((r["k"], r["payload"]["key"], r["name"]) for r in out) == [
        (1, "a", "x"),
        (1, "b", "x"),
        (2, "c", "y"),
    ]
    # all-map frame: no orderable columns at all — sort skipped entirely
    only_map = skewed.select("payload", F.col("k").alias("kk")).select(
        F.create_map(F.lit("k"), F.col("kk")).alias("m")
    )
    assert only_map.count() == 3  # construction sanity
    from pyspark.sql import types as T

    from idr_data_pipelines_spark.operators.joins import _orderable

    assert not _orderable(only_map.schema["m"].dataType)
    # allow-list semantics (r10 review, second pass): anything the JVM
    # refuses to sort must be excluded by CONSTRUCTION, not by naming
    # each bad type — calendar intervals and variants never made any
    # deny-list yet both fail sortWithinPartitions
    assert not _orderable(T.CalendarIntervalType())
    if hasattr(T, "VariantType"):
        assert not _orderable(T.VariantType())
    assert _orderable(T.DayTimeIntervalType())  # ANSI intervals sort fine
    assert _orderable(
        T.ArrayType(T.StructType([T.StructField("x", T.LongType())]))
    )


def test_null_normalize_only_touches_string_columns(spark):
    df = spark.createDataFrame(
        [("None", 1), ("ok", 2), ("", 3)], ["s", "n"]
    )
    out = null_normalize(df).collect()
    assert [r["s"] for r in out] == [None, "ok", None]
    assert [r["n"] for r in out] == [1, 2, 3]  # non-string untouched


def test_join_asof_backward_forward_and_unmatched(spark):
    from datetime import datetime

    from idr_data_pipelines_spark.operators import join_asof

    ts = datetime
    left = spark.createDataFrame(
        [
            (1, ts(2020, 1, 10), "a"),   # matches k1@Jan5 backward, k1@Jan20 forward
            (1, ts(2020, 1, 5), "b"),    # exact-match boundary: inclusive
            (2, ts(2020, 1, 1), "c"),    # key 2 has no right rows at all
            (3, ts(2020, 1, 1), "d"),    # key 3 exists right but only later rows
        ],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [
            (1, ts(2020, 1, 5), 50.0),
            (1, ts(2020, 1, 20), 200.0),
            (3, ts(2020, 2, 1), 99.0),
        ],
        ["rk", "rts", "price"],
    )
    back = {
        r["tag"]: r["price"]
        for r in join_asof(left, right, "k", "rk", "ts", "rts", ["price"]).collect()
    }
    assert back == {"a": 50.0, "b": 50.0, "c": None, "d": None}
    fwd = {
        r["tag"]: r["price"]
        for r in join_asof(
            left, right, "k", "rk", "ts", "rts", ["price"], direction="forward"
        ).collect()
    }
    assert fwd == {"a": 200.0, "b": 50.0, "c": None, "d": 99.0}
    # tolerance: a 2-day window rejects the 5-day-old Jan5 match for
    # row "a" but keeps the exact-boundary match for "b"
    tol = {
        r["tag"]: r["price"]
        for r in join_asof(
            left, right, "k", "rk", "ts", "rts", ["price"],
            tolerance_seconds=2 * 86400.0,
        ).collect()
    }
    assert tol == {"a": None, "b": 50.0, "c": None, "d": None}


def test_join_asof_right_ts_projection(spark):
    """right_ts itself can be requested as a value column."""
    from datetime import datetime

    from idr_data_pipelines_spark.operators import join_asof

    left = spark.createDataFrame([(1, datetime(2021, 6, 1))], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, datetime(2021, 5, 1)), (1, datetime(2021, 7, 1))], ["rk", "rts"]
    )
    out = join_asof(left, right, "k", "rk", "ts", "rts", ["rts"]).collect()
    assert len(out) == 1 and out[0]["rts"] == datetime(2021, 5, 1)


def test_join_range_matches_naive_and_hash_joins(spark):
    from idr_data_pipelines_spark.operators import join_range

    fact = spark.range(1000).select((F.col("id") * 7 % 530).cast("double").alias("v"))
    # bands of uneven width, one spanning many buckets, deliberately
    # mismatched with bucket_size=50
    bands = spark.createDataFrame(
        [("a", 0.0, 30.0), ("b", 30.0, 260.0), ("c", 400.0, 520.0)],
        ["label", "lo", "hi"],
    )
    got = join_range(fact, bands, "v", "lo", "hi", bucket_size=50.0)
    naive = fact.join(
        bands, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
    )
    assert sorted((r["v"], r["label"]) for r in got.collect()) == sorted(
        (r["v"], r["label"]) for r in naive.collect()
    )
    # the point of bucketing: a hash join, not broadcast-nested-loop
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan, plan


def test_sketch_queries_accuracy_bounds(spark, sf_dir):
    """The sketch queries have no SQL oracle; pin their accuracy
    against exact computations instead."""
    # the registry slots now hold the invariant-summary forms (r11);
    # the accuracy pins below consume the original full-row outputs
    from idr_data_pipelines_spark.queries import (
        _events,
        _t,
        q_sketch_approx_distinct,
        q_sketch_quantiles,
    )

    approx = {
        r["event_type"]: r["approx_users"]
        for r in q_sketch_approx_distinct(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(2, 0.05 * n), (et, approx[et], n)

    qs = {
        r["o_orderpriority"]: (r["p50"], r["p95"], r["p99"])
        for r in q_sketch_quantiles(spark, sf_dir).collect()
    }
    orders = _t(spark, sf_dir, "orders")
    for prio, (p50, p95, p99) in qs.items():
        vals = sorted(
            r["o_totalprice"]
            for r in orders.filter(F.col("o_orderpriority") == prio).collect()
        )
        n = len(vals)
        for q, got in ((0.5, p50), (0.95, p95), (0.99, p99)):
            # rank-error bound: the approx quantile's true rank must be
            # within 1% of the requested rank (accuracy=10000 → ~1e-4,
            # use a loose bound to stay deterministic across versions)
            import bisect

            rank = bisect.bisect_right(vals, got)
            assert abs(rank - q * n) <= max(2, 0.01 * n), (prio, q, got, rank, n)


def test_scd2_from_events_runs_and_validity(spark):
    """SCD2 from an event log: consecutive same-state rows collapse
    into one run; NULL→value transitions count as changes (eqNullSafe);
    validity intervals chain and exactly one current row per key."""
    from idr_data_pipelines_spark.operators.scd import scd2_from_events

    rows = [
        ("k1", "A", "2024-01-01"),
        ("k1", "A", "2024-02-01"),   # same state → same run
        ("k1", "B", "2024-03-01"),   # change
        ("k1", "A", "2024-04-01"),   # back to A → NEW run (not merged)
        ("k2", None, "2024-01-15"),  # null initial state opens a run
        ("k2", "X", "2024-02-15"),   # null→value is a change
    ]
    df = spark.createDataFrame(rows, ["k", "state", "d"]).withColumn(
        "d", F.to_date("d")
    )
    out = scd2_from_events(df, ["k"], ["state"], "d").collect()
    hist = {}
    for r in sorted(out, key=lambda r: (r["k"], r["valid_from"])):
        hist.setdefault(r["k"], []).append(
            (r["state"], str(r["valid_from"]), r["valid_to"] and str(r["valid_to"]), r["is_current"])
        )
    assert hist["k1"] == [
        ("A", "2024-01-01", "2024-03-01", False),
        ("B", "2024-03-01", "2024-04-01", False),
        ("A", "2024-04-01", None, True),
    ]
    assert hist["k2"] == [
        (None, "2024-01-15", "2024-02-15", False),
        ("X", "2024-02-15", None, True),
    ]
    for runs in hist.values():
        assert sum(1 for *_, cur in runs if cur) == 1


def test_scd2_merge_keep_close_open_semantics(spark):
    """One merge batch exercises all four row classes: close+open on
    change (incl. NULL→value), pass-through on no-op update or absent
    update, open for a brand-new key; history rows untouched."""
    import datetime as dt

    from idr_data_pipelines_spark.operators.scd import scd2_merge

    hist = spark.createDataFrame(
        [("k1", "A", dt.date(2024, 1, 1), dt.date(2024, 3, 1), False),
         ("k1", "B", dt.date(2024, 3, 1), None, True),
         ("k2", "X", dt.date(2024, 1, 1), None, True),
         ("k3", None, dt.date(2024, 1, 1), None, True)],
        "k string, state string, valid_from date, valid_to date, is_current boolean",
    )
    upd = spark.createDataFrame(
        [("k1", "C", dt.date(2024, 5, 1)),   # change → close B, open C
         ("k2", "X", dt.date(2024, 5, 1)),   # unchanged → pass through
         ("k3", "Y", dt.date(2024, 5, 1)),   # NULL→Y is a change
         ("k4", "Z", dt.date(2024, 5, 1))],  # new key
        "k string, state string, eff date",
    )
    got = sorted(
        (tuple(r) for r in scd2_merge(hist, upd, ["k"], ["state"], "eff").collect()),
        key=lambda t: (t[0], str(t[2])),
    )
    d = dt.date
    assert got == [
        ("k1", "A", d(2024, 1, 1), d(2024, 3, 1), False),
        ("k1", "B", d(2024, 3, 1), d(2024, 5, 1), False),
        ("k1", "C", d(2024, 5, 1), None, True),
        ("k2", "X", d(2024, 1, 1), None, True),
        ("k3", None, d(2024, 1, 1), d(2024, 5, 1), False),
        ("k3", "Y", d(2024, 5, 1), None, True),
        ("k4", "Z", d(2024, 5, 1), None, True),
    ]


def test_validate_rules_and_single_pass(spark):
    """Known-answer expectations on crafted bad data, and the scale
    property: all per-table rules compile into ONE aggregate (exactly
    one scan of the input in the plan)."""
    from idr_data_pipelines_spark.operators.validate import (
        col_max,
        custom,
        in_set,
        not_null,
        referential_integrity,
        row_count_min,
        unique,
        validate,
    )

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 50.0), (2, None, -1.0), (4, "z", 3.0)],
        "id long, cat string, val double",
    )
    rows = validate(df, [
        not_null("cat"),                      # 1/4 null → fail at 0.0
        not_null("cat", max_null_frac=0.5),   # pass
        unique("id"),                         # dup id=2 → fail
        in_set("cat", ["a", "b"]),            # 'z' + NULL → 2/4 fail
        col_max("val", 10.0),                 # 50 → fail
        row_count_min(3),                     # 4 rows → pass
        custom("val_positive", F.col("val") > 0),  # -1 → fail
    ], table="t").collect()
    rep = {(r["rule"], r["threshold"]): r for r in rows}
    assert rep[("not_null(cat)", 0.0)]["metric"] == 0.25
    assert not rep[("not_null(cat)", 0.0)]["passed"]
    assert rep[("not_null(cat)", 0.5)]["passed"]
    rep = {r["rule"]: r for r in rows if r["threshold"] != 0.5}
    assert rep["unique(id)"]["metric"] == 1.0 and not rep["unique(id)"]["passed"]
    assert rep["in_set(cat)"]["metric"] == 0.5
    assert not rep["max(val)"]["passed"]
    assert rep["row_count_min(*)"]["passed"]
    assert not rep["val_positive"]["passed"]

    plan = validate(df, [not_null("cat"), unique("id"), col_max("val", 1.0)])._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") + plan.count("LocalTableScan") == 1, plan

    dim = spark.createDataFrame([(1,), (2,)], "k long")
    ref = referential_integrity(df, dim, "id", "k", table="t").collect()[0]
    assert ref["metric"] == 0.25 and not ref["passed"]  # id=4 orphan


def test_join_fuzzy_blocked_semantics(spark):
    """Within-block pairs match up to the bound; near pairs in
    different blocks are (by design) not candidates; distances are
    exact for kept pairs despite the early-exit bound."""
    from idr_data_pipelines_spark.operators.joins import join_fuzzy_blocked

    rows = [("red widget",), ("red widgets",), ("red wagon",),
            ("blue widget",), ("blue widgem",)]
    a = spark.createDataFrame(rows, ["name_a"])
    b = spark.createDataFrame(rows, ["name_b"])
    first = lambda c: F.split(c, " ").getItem(0)  # noqa: E731
    out = join_fuzzy_blocked(a, b, "name_a", "name_b", first, 2)
    pairs = {(r["name_a"], r["name_b"]): r["dist"]
             for r in out.filter(F.col("name_a") < F.col("name_b")).collect()}
    assert pairs == {
        ("red widget", "red widgets"): 1,
        ("blue widgem", "blue widget"): 1,
    }
    # "red widget" vs "blue widget" is distance 3 but cross-block:
    # absent even with a larger bound
    out4 = join_fuzzy_blocked(a, b, "name_a", "name_b", first, 4)
    keys = {(r["name_a"], r["name_b"])
            for r in out4.filter(F.col("name_a") < F.col("name_b")).collect()}
    assert ("blue widget", "red widget") not in keys
    assert ("red wagon", "red widget") in keys  # dist 4, same block


def test_scd1_upsert_replaces_and_passes_through(spark):
    from idr_data_pipelines_spark.operators.scd import scd1_upsert

    base = spark.createDataFrame(
        [("k1", "old", 1), ("k2", "keep", 2)], ["k", "v", "n"]
    )
    upd = spark.createDataFrame(
        [("k1", "new", 10), ("k3", "ins", 30)], ["k", "v", "n"]
    )
    got = sorted(tuple(r) for r in scd1_upsert(base, upd, ["k"]).collect())
    assert got == [("k1", "new", 10), ("k2", "keep", 2), ("k3", "ins", 30)]


def test_scd4_upsert_moves_displaced_rows_to_history(spark):
    from idr_data_pipelines_spark.operators.scd import scd4_upsert

    base = spark.createDataFrame(
        [("k1", "old", 1), ("k2", "keep", 2)], ["k", "v", "n"]
    )
    upd = spark.createDataFrame(
        [("k1", "new", 10), ("k3", "ins", 30)], ["k", "v", "n"]
    )
    current, history = scd4_upsert(base, upd, ["k"])
    got_cur = sorted(tuple(r) for r in current.collect())
    got_hist = sorted(tuple(r) for r in history.collect())
    # current == the type-1 upsert; history == exactly the displaced rows
    assert got_cur == [("k1", "new", 10), ("k2", "keep", 2), ("k3", "ins", 30)]
    assert got_hist == [("k1", "old", 1)]


def test_snapshot_diff_classifies_all_four_changes(spark):
    from idr_data_pipelines_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [("k1", "a", 1), ("k2", "b", 2), ("k3", "c", None), ("k4", "gone", 4)],
        ["k", "v", "n"],
    )
    new = spark.createDataFrame(
        [("k1", "a", 1), ("k2", "B", 2), ("k3", "c", None), ("k5", "ins", 5)],
        ["k", "v", "n"],
    )
    got = {r["k"]: tuple(r) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got["k1"] == ("k1", "a", 1, "unchanged")
    assert got["k2"] == ("k2", "B", 2, "updated")
    # null-safe equality: matching nulls are unchanged, not updated
    assert got["k3"] == ("k3", "c", None, "unchanged")
    assert got["k4"] == ("k4", "gone", 4, "deleted")
    assert got["k5"] == ("k5", "ins", 5, "inserted")


def test_snapshot_diff_null_keys_and_collisions(spark):
    import pytest

    from idr_data_pipelines_spark.operators.scd import snapshot_diff

    # a NULL key present in both snapshots matches itself (null-safe
    # key join) — not a spurious deleted+inserted pair
    old = spark.createDataFrame([(None, "a")], "k string, v string")
    new = spark.createDataFrame([(None, "a")], "k string, v string")
    rows = snapshot_diff(old, new, ["k"]).collect()
    assert [tuple(r) for r in rows] == [(None, "a", "unchanged")]

    # change_col colliding with a data column fails loudly
    with pytest.raises(ValueError, match="collides"):
        snapshot_diff(
            spark.createDataFrame([("k", "x")], ["k", "change"]),
            spark.createDataFrame([("k", "x")], ["k", "change"]),
            ["k"],
        )
    # schema drift between snapshots fails loudly
    with pytest.raises(ValueError, match="share a schema"):
        snapshot_diff(
            spark.createDataFrame([("k", 1)], ["k", "a"]),
            spark.createDataFrame([("k", 1)], ["k", "b"]),
            ["k"],
        )


def test_agg_incremental_merge_equals_full_and_rejects_nonmergeable(spark):
    from pyspark.sql import functions as F
    import pytest

    from idr_data_pipelines_spark.operators.aggregate import agg_incremental_merge

    raw = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )

    def agg(df):
        return df.groupBy("k").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
        )

    spec = {"s": "sum", "n": "sum", "lo": "min", "hi": "max"}
    merged = agg_incremental_merge(
        agg(raw.filter("id < 600")), agg(raw.filter("id >= 600")), ["k"], spec
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, agg(raw).collect())
    )
    with pytest.raises(ValueError, match="non-mergeable"):
        agg_incremental_merge(agg(raw), agg(raw), ["k"], {"s": "avg"})


def test_collect_sorted_array_typed_surface(spark):
    from idr_data_pipelines_spark.operators.aggregate import collect_sorted_array

    df = spark.createDataFrame(
        [("g1", "b"), ("g1", "a"), ("g2", "z")], ["g", "v"]
    ).repartition(4)
    got = {
        r["g"]: (r["vals"], r["n_vals"])
        for r in collect_sorted_array(df, ["g"], "v", alias="vals").collect()
    }
    assert got == {"g1": (["a", "b"], 2), "g2": (["z"], 1)}


def test_pipeline_rejects_duplicate_stage_names(spark):
    from idr_data_pipelines_spark.plans.pipeline import Pipeline

    p = Pipeline("dup_demo", source=lambda s: s.range(1))
    p.stage("x", lambda df: df)
    with pytest.raises(ValueError, match="duplicate stage"):
        p.stage("x", lambda df: df)


def test_scd3_update_semantics(spark):
    """Changed value -> remembered prior; restated value -> prior kept;
    null incoming value is a real update (explicit match marker); new
    key -> null prev; untouched key passes through."""
    from idr_data_pipelines_spark.operators.scd import scd3_update

    base = spark.createDataFrame(
        [(1, "a", "z"), (2, "b", None), (3, "c", None), (4, None, "y")],
        ["k", "v", "prev_v"],
    )
    upd = spark.createDataFrame(
        [(1, "a2"), (2, "b"), (4, None), (9, "new")], ["k", "v"]
    )
    got = {r["k"]: (r["v"], r["prev_v"]) for r in
           scd3_update(base, upd, ["k"], ["v"]).collect()}
    assert got[1] == ("a2", "a")       # changed: remember prior
    assert got[2] == ("b", None)       # restated: prev NOT clobbered
    assert got[3] == ("c", None)       # untouched passthrough
    assert got[4] == (None, "y")       # null restates null: prior kept
    assert got[9] == ("new", None)     # new key, null prev
    with pytest.raises(ValueError, match="prev_v"):
        scd3_update(base.drop("prev_v"), upd, ["k"], ["v"])


def test_join_salted_hot_keys_equals_plain_join(spark):
    """Partial salting must reproduce the plain equi-join exactly —
    hot path + cold path + union lose and duplicate nothing — for
    inner and left joins, on data with one mega-key."""
    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.operators.joins import join_salted_hot_keys

    left = spark.range(2000).select(
        F.when(F.col("id") < 1000, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(0, 3000, 3).select(
        F.col("id").alias("rk"), (F.col("id") * 10).alias("rv")
    )
    for how in ("inner", "left"):
        want = sorted(
            map(tuple, left.join(right, left["k"] == right["rk"], how).collect())
        )
        got = sorted(
            map(
                tuple,
                join_salted_hot_keys(
                    left, right, "k", "rk", hot_frac=0.1, n_salts=8, how=how
                ).collect(),
            )
        )
        assert got == want, how


from hypothesis import given, settings, strategies as st


@settings(max_examples=6, deadline=None)
@given(
    base_rows=st.lists(
        st.tuples(st.integers(0, 9), st.one_of(st.none(), st.text("ab", max_size=2)),
                  st.one_of(st.none(), st.text("xy", max_size=2))),
        max_size=10, unique_by=lambda t: t[0],
    ),
    upd_rows=st.lists(
        st.tuples(st.integers(0, 12), st.one_of(st.none(), st.text("ab", max_size=2))),
        max_size=10, unique_by=lambda t: t[0],
    ),
)
def test_scd3_property_vs_model(spark, base_rows, upd_rows):
    """scd3_update vs a direct Python model over random bases/updates
    (unique keys per side, nulls everywhere): value and prev columns
    must match exactly."""
    from idr_data_pipelines_spark.operators.scd import scd3_update

    base = spark.createDataFrame(base_rows, "k int, v string, prev_v string") \
        if base_rows else spark.createDataFrame([], "k int, v string, prev_v string")
    upd = spark.createDataFrame(upd_rows, "k int, v string") \
        if upd_rows else spark.createDataFrame([], "k int, v string")

    model = {k: (v, p) for k, v, p in base_rows}
    for k, uv in upd_rows:
        if k in model:
            v, p = model[k]
            model[k] = (uv, v) if uv != v else (v, p)
        else:
            model[k] = (uv, None)

    got = {r["k"]: (r["v"], r["prev_v"]) for r in
           scd3_update(base, upd, ["k"], ["v"]).collect()}
    assert got == model


def test_join_salted_hot_keys_same_key_name_rejected(spark):
    """Equal key names would make the cold branch emit two
    identically-named columns and break the final unionByName — the
    operator must refuse loudly (r5 ADVICE)."""
    import pytest as _pytest

    from idr_data_pipelines_spark.operators.joins import join_salted_hot_keys

    df = spark.range(10).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError, match="distinct names"):
        join_salted_hot_keys(df, df, "k", "k")


def test_join_guards_refuse_silent_corruption(spark):
    """r10 review hardening: every salted/range/fuzzy entry point must
    refuse — loudly, at the API boundary — the parameter and column
    classes that previously corrupted silently or died mid-job:
    n_salts<1 (empty/unmatched output), reserved internal column
    names (caller's column replaced then dropped), hot_frac<=0 (every
    key 'hot' → unbounded broadcast), shared column names into the
    final unionByName, and compare/dist columns that exist on both
    fuzzy-join sides (ambiguous or self-comparing)."""
    from idr_data_pipelines_spark.operators.joins import (
        join_fuzzy_blocked,
        join_range,
        join_salted,
        join_salted_hot_keys,
    )

    l = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("a"))
    r = spark.range(5).select(F.col("id").alias("rk"), F.lit("y").alias("b"))
    with pytest.raises(ValueError, match="n_salts"):
        join_salted(l, r, "k", "rk", n_salts=0)
    with pytest.raises(ValueError, match="__salt"):
        join_salted(l.withColumn("__salt", F.lit(1)), r, "k", "rk")
    # hot_keys rejects bad salted params BEFORE its counting job
    with pytest.raises(ValueError, match="n_salts"):
        join_salted_hot_keys(l, r, "k", "rk", n_salts=0)
    with pytest.raises(ValueError, match="hot_frac"):
        join_salted_hot_keys(l, r, "k", "rk", hot_frac=0.0)
    with pytest.raises(ValueError, match="disjoint"):
        join_salted_hot_keys(
            l, r.withColumnRenamed("b", "a"), "k", "rk"
        )
    bands = spark.createDataFrame([("x", 0.0, 5.0)], ["lbl", "lo", "hi"])
    with pytest.raises(ValueError, match="__bucket"):
        join_range(
            l.withColumn("__bucket", F.lit(1)).withColumn(
                "v", F.col("k").cast("double")
            ),
            bands, "v", "lo", "hi", bucket_size=1.0,
        )
    first = lambda c: F.split(c, " ")[0]  # noqa: E731
    la = l.withColumn("na", F.lit("ann"))
    rb = r.withColumn("nb", F.lit("anne"))
    with pytest.raises(ValueError, match="exactly one side"):
        join_fuzzy_blocked(la, rb.withColumn("na", F.lit("z")), "na", "nb", first, 2)
    with pytest.raises(ValueError, match="dist_col"):
        join_fuzzy_blocked(la, rb, "na", "nb", first, 2, dist_col="a")


def test_join_range_residual_is_frame_qualified(spark):
    """r10 review: the residual's bound columns collide by NAME with
    fact-side columns here ('lo'/'hi' exist on BOTH frames, and the
    fact-side copies carry garbage values) — a bare F.col() residual
    either raises AMBIGUOUS_REFERENCE or resolves against the wrong
    side; frame qualification must give the exact banding. (An
    earlier form of this test named the band bounds uniquely, which
    the pre-fix code also passed — the collision is the point.)"""
    from idr_data_pipelines_spark.operators.joins import join_range

    fact = spark.range(10).select(
        (F.col("id").cast("double") * 10).alias("v"),
        F.lit(-1e9).alias("lo"),  # garbage same-name columns: a bare
        F.lit(1e9).alias("hi"),   # residual matching these keeps ALL
    )
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("high", 50.0, 100.0)], ["lbl", "lo", "hi"]
    )
    out = join_range(fact, bands, "v", "lo", "hi", bucket_size=50.0)
    got = {(r["v"], r["lbl"]) for r in out.collect()}
    assert got == {
        (float(i * 10), "low" if i * 10 < 50 else "high") for i in range(10)
    }


def test_join_asof_null_timestamps_and_shared_ts_name(spark):
    """r09 review: merge_asof rejects null merge keys — a null left ts
    must yield an unmatched row (not a job crash), a null right ts is
    unmatchable, and left_ts == right_ts must not KeyError."""
    from idr_data_pipelines_spark.operators import join_asof

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, None), (2, "2024-01-01 09:00:00")],
        ["k", "ts_s"],
    ).select("k", F.to_timestamp("ts_s").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 5.0), (1, None, -1.0),
         (2, "2024-01-01 10:00:00", 7.0)],
        ["rk", "ts_s", "price"],
    ).select("rk", F.to_timestamp("ts_s").alias("ts"), "price")

    rows = {
        (r["k"], str(r["ts"])): r["price"]
        for r in join_asof(left, right, "k", "rk", "ts", "ts", ["price"]).collect()
    }
    assert rows[(1, "2024-01-01 10:00:00")] == 5.0   # matched
    assert rows[(1, "None")] is None                  # null left ts: unmatched
    assert rows[(2, "2024-01-01 09:00:00")] is None   # backward: nothing before

    # colliding right_cols refuse loudly instead of emitting left data
    # under the right column's name
    import pytest as _pytest
    with _pytest.raises(ValueError, match="collide"):
        join_asof(left, right.withColumnRenamed("price", "k"),
                  "k", "rk", "ts", "ts", ["k"])


def test_join_asof_null_keys_join_nothing(spark):
    """r10 bucket rewrite: null KEYS follow SQL equality semantics —
    a null-key left row is emitted unmatched and a null-key right row
    matches nothing (the pre-r10 per-key cogroup quietly matched null
    to null, which no SQL replay agrees with). Also pins that keys of
    different Spark integer widths still join (the right key is cast
    to the left key's type so xxhash64 buckets align)."""
    from datetime import datetime

    from idr_data_pipelines_spark.operators import join_asof

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 2), "a"), (None, datetime(2024, 1, 2), "b")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 5.0), (None, datetime(2024, 1, 1), -1.0)],
        ["rk", "rts", "price"],
    ).withColumn("rk", F.col("rk").cast("int"))  # narrower than left's bigint
    rows = {
        r["tag"]: r["price"]
        for r in join_asof(left, right, "k", "rk", "ts", "rts", ["price"]).collect()
    }
    assert rows == {"a": 5.0, "b": None}


def test_extract_week_is_bq_sunday_based(spark):
    """r09 review: BQ EXTRACT(WEEK) is Sunday-based with week 0 before
    the year's first Sunday; the old ISO weekofyear mapping returned
    52 for 2023-01-01 where BigQuery returns 1."""
    from idr_data_pipelines_spark.functions import extract_part

    df = spark.createDataFrame(
        [("2023-01-01",), ("2022-12-31",), ("2024-01-03",),
         ("2024-01-07",), ("2024-12-31",)],
        ["d"],
    )
    got = {
        r["d"]: r["w"]
        for r in df.select("d", F.expr(extract_part("d", "WEEK")).alias("w")).collect()
    }
    # BigQuery values: SELECT EXTRACT(WEEK FROM DATE '...')
    assert got == {
        "2023-01-01": 1,   # a Sunday: first Sunday of the year
        "2022-12-31": 52,  # Saturday, 52 Sundays passed
        "2024-01-03": 0,   # before 2024's first Sunday (Jan 7)
        "2024-01-07": 1,   # 2024's first Sunday
        "2024-12-31": 52,
    }


def test_validate_min_max_fail_on_empty_table(spark):
    """r09 review: min/max over an empty table is a NULL metric; the
    report must say passed=False, not NULL (which a ~passed gate
    reads as not-failed — a silent pass from the DQ checker)."""
    from idr_data_pipelines_spark.operators.validate import (
        col_max,
        col_min,
        validate,
    )

    empty = spark.createDataFrame([], "v double")
    rep = {r["rule"]: r for r in validate(
        empty, [col_min("v", 0.0), col_max("v", 10.0)], table="t"
    ).collect()}
    for r in rep.values():
        assert r["passed"] is False
        assert r["metric"] is None


def test_scd2_merge_null_is_current_routes_to_history(spark):
    """r10 review: filter(col) and filter(~col) both exclude NULL, so
    a nullable is_current written as NULL for 'closed' silently
    vanished from the merge — NULL must route to the pass-through
    history side, losing no rows."""
    from datetime import date

    from idr_data_pipelines_spark.operators.scd import scd2_merge

    hist = spark.createDataFrame(
        [
            (1, "A", date(2020, 1, 1), date(2021, 1, 1), None),  # closed, NULL flag
            (1, "B", date(2021, 1, 1), None, True),              # open
        ],
        "k int, v string, valid_from date, valid_to date, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(1, "C", date(2022, 1, 1))], "k int, v string, ts date"
    )
    out = scd2_merge(hist, upd, ["k"], ["v"], "ts").collect()
    vals = sorted((r["v"], bool(r["is_current"])) for r in out)
    # NULL-flag history row survives as non-current, B closes, C opens
    assert vals == [("A", False), ("B", False), ("C", True)]


def test_validate_empty_rules_and_zorder_bits_passthrough(spark, tmp_path):
    """r10 review: validate([]) raised a bare AssertionError from
    inside df.agg(); write_zordered had no bits parameter so 4+
    z-columns always overflowed the signed-long interleave."""
    from idr_data_pipelines_spark.operators.layout import write_zordered
    from idr_data_pipelines_spark.operators.validate import validate

    with pytest.raises(ValueError, match="non-empty"):
        validate(spark.range(3), [])

    df = spark.range(32).select(
        *[(F.col("id") * (i + 1) % 16).alias(f"c{i}") for i in range(4)]
    )
    write_zordered(
        df, str(tmp_path / "z4"), [F.col(f"c{i}") for i in range(4)],
        n_files=2, bits=15,
    )
    assert spark.read.parquet(str(tmp_path / "z4")).count() == 32


def test_reserved_working_columns_refused(spark, tmp_path):
    """r12 API-boundary sweep, extending the joins._reserve precedent
    to the remaining user-frame operators: an input already carrying
    an operator's internal working column must be refused — the
    operator would silently overwrite it and then drop it on the way
    out (the written/returned frame loses the caller's column with no
    error)."""
    from idr_data_pipelines_spark.operators.dedup import dedup_latest_per_key
    from idr_data_pipelines_spark.operators.layout import write_zordered
    from idr_data_pipelines_spark.operators.scd import scd2_from_events, scd2_merge
    from idr_data_pipelines_spark.streaming.events import cdc_upsert_drain

    with pytest.raises(ValueError, match="__rn"):
        dedup_latest_per_key(
            spark.createDataFrame([(1, 2, "x")], "k int, __rn int, v string"),
            ["k"],
            [F.col("v").desc()],
        )

    with pytest.raises(ValueError, match="__z"):
        write_zordered(
            spark.createDataFrame([(1, 2)], "a int, __z int"),
            str(tmp_path / "never_written"),
            [F.col("a")],
            n_files=1,
        )

    ev = spark.createDataFrame(
        [(1, "2024-01-01", "a", 9)], "k int, ts string, attr string, __run_id int"
    )
    with pytest.raises(ValueError, match="__run_id"):
        scd2_from_events(ev, ["k"], "ts", ["attr"])

    hist = spark.createDataFrame(
        [(1, "a", True, False)], "k int, attr string, is_current boolean, __in_cur boolean"
    )
    upd = spark.createDataFrame([(1, "b", "2024-01-02")], "k int, attr string, ts string")
    with pytest.raises(ValueError, match="__in_cur"):
        scd2_merge(hist, upd, ["k"], ["attr"], "ts")

    from pyspark.sql.types import IntegerType, StructField, StructType

    bad_schema = StructType(
        [StructField("k", IntegerType()), StructField("__rn", IntegerType())]
    )
    with pytest.raises(ValueError, match="__rn"):
        cdc_upsert_drain(
            spark,
            str(tmp_path / "inbox"),
            bad_schema,
            str(tmp_path / "ckpt"),
            str(tmp_path / "dim"),
            key_cols=["k"],
            order_cols=["k"],
        )

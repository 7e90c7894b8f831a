"""As-of and binned range join edge semantics: exact-tie matching,
no-match nulls, per-key isolation, and bin-boundary coverage."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from building_permissions_etl_spark.operators.asof import (
    asof_join_backward,
    asof_join_forward,
    range_join_binned,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_backward_semantics(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts("2024-01-01 10:00:00")),
         (2, "a", _ts("2024-01-01 10:05:00")),
         (3, "a", _ts("2024-01-01 09:00:00")),   # before any right row
         (4, "b", _ts("2024-01-01 10:00:00"))],  # other key, exact tie
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("a", _ts("2024-01-01 09:30:00"), 1.0),
         ("a", _ts("2024-01-01 10:02:00"), 2.0),
         ("b", _ts("2024-01-01 10:00:00"), 9.0)],
        "k string, ts timestamp, v double",
    )
    got = {
        r["id"]: (r["v"], r["__matched_ts"])
        for r in asof_join_backward(
            left, right, key="k", left_ts="ts", right_ts="ts", value_cols=["v"]
        ).collect()
    }
    assert got[1] == (1.0, _ts("2024-01-01 09:30:00"))   # most recent before
    assert got[2] == (2.0, _ts("2024-01-01 10:02:00"))   # newer row wins
    assert got[3] == (None, None)                        # nothing at-or-before
    assert got[4] == (9.0, _ts("2024-01-01 10:00:00"))   # exact tie matches


def test_asof_forward_semantics(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts("2024-01-01 10:00:00")),   # next right at 10:02
         (2, "a", _ts("2024-01-01 10:05:00")),   # nothing at-or-after
         (3, "a", _ts("2024-01-01 09:00:00")),   # earliest right wins
         (4, "b", _ts("2024-01-01 10:00:00"))],  # exact tie matches
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("a", _ts("2024-01-01 09:30:00"), 1.0),
         ("a", _ts("2024-01-01 10:02:00"), 2.0),
         ("b", _ts("2024-01-01 10:00:00"), 9.0)],
        "k string, ts timestamp, v double",
    )
    got = {
        r["id"]: (r["v"], r["__matched_ts"])
        for r in asof_join_forward(
            left, right, key="k", left_ts="ts", right_ts="ts", value_cols=["v"]
        ).collect()
    }
    assert got[1] == (2.0, _ts("2024-01-01 10:02:00"))
    assert got[2] == (None, None)
    assert got[3] == (1.0, _ts("2024-01-01 09:30:00"))
    assert got[4] == (9.0, _ts("2024-01-01 10:00:00"))


def test_range_join_binned_covers_boundaries(spark):
    base = _ts("2024-01-01 00:00:00")
    left = spark.createDataFrame(
        [("u", base + dt.timedelta(seconds=s)) for s in (0, 100, 1000, 2000)],
        "k string, lts timestamp",
    )
    right = spark.createDataFrame(
        [("u", base + dt.timedelta(seconds=s))
         for s in (-120, -121, 99, 220, 1121, 1880.5, 2120.5)],
        "k string, rts timestamp",
    )
    got = sorted(
        (r["lts"].second + r["lts"].minute * 60 + (r["lts"].hour * 3600),
         int((r["rts"] - base).total_seconds()))
        for r in range_join_binned(
            left, right, key="k", left_ts="lts", right_ts="rts",
            tolerance_seconds=120,
        ).collect()
    )
    # 0s: matches -120 (boundary inclusive) and 99; NOT -121
    # 100s: matches 99 and 220 (120 apart); 1000s: matches 1121? no — 121 > 120
    # 2000s: matches 1880.5 (119.5 apart) but NOT 2120.5 — 120.5 > 120,
    # however the timestamps' whole seconds compare
    assert got == [(0, -120), (0, 99), (100, 99), (100, 220), (2000, 1880)]


def test_range_join_matches_naive(spark):
    from building_permissions_etl_spark.catalog import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts")
    )
    got = range_join_binned(
        clicks, errors, "user_id", "ts", "err_ts", tolerance_seconds=300
    )
    naive = (
        clicks.alias("c").join(
            errors.alias("e"), F.col("c.user_id") == F.col("e.user_id")
        )
        .filter(F.abs(F.col("c.ts").cast("long") - F.col("err_ts").cast("long")) <= 300)
        .select(F.col("c.user_id").alias("user_id"), F.col("c.ts").alias("ts"), "err_ts")
        .distinct()
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_asof_rejects_unknown_direction(spark):
    """ADVICE r03: a typo like 'backwards' must raise, not silently
    select the forward ordering and return plausible-but-wrong rows."""
    df = spark.range(1).selectExpr("1 AS k", "timestamp'2023-01-01' AS ts",
                                   "1.0 AS v")
    with pytest.raises(ValueError, match="direction"):
        asof_join_backward(df, df, "k", "ts", "ts", ["v"],
                           direction="backwards")

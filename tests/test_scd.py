"""SCD1/SCD2 merge semantics beyond oracle parity: idempotency,
null-safe change detection, and NULL-update overwrite."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

from building_permissions_etl_spark.operators import scd as SCD

_DIM = StructType([
    StructField("k", LongType()),
    StructField("name", StringType()),
    StructField("bal", DoubleType()),
    StructField("seg", StringType()),
    StructField("valid_from", TimestampType()),
    StructField("valid_to", TimestampType()),
])
_UPD = StructType([
    StructField("k", LongType()),
    StructField("bal", DoubleType()),
    StructField("seg", StringType()),
])

import datetime

_T0 = datetime.datetime(2000, 1, 1)


def _dim(spark, rows):
    return spark.createDataFrame(rows, _DIM)


def _upd(spark, rows):
    return spark.createDataFrame(rows, _UPD)


def test_scd2_legs(spark):
    cur = _dim(spark, [
        (1, "a", 10.0, "X", _T0, None),       # changed by batch
        (2, "b", 20.0, "Y", _T0, None),       # untouched
        (3, "c", 5.0, "Z", _T0, _T0),         # already closed
    ])
    upd = _upd(spark, [(1, 11.0, "X"), (9, 1.0, "NEW")])
    out = SCD.scd2_upsert(cur, upd, "k", ["bal", "seg"], "2001-06-01")
    rows = {(r["k"], r["bal"], r["valid_to"] is None)
            for r in out.collect()}
    assert (1, 10.0, False) in rows       # closed old version
    assert (1, 11.0, True) in rows        # opened new version
    assert (2, 20.0, True) in rows        # pass-through open
    assert (3, 5.0, False) in rows        # pass-through closed
    assert (9, 1.0, True) in rows         # brand-new insert
    assert out.count() == 5


def test_scd2_idempotent_reapply(spark):
    cur = _dim(spark, [(1, "a", 10.0, "X", _T0, None),
                       (2, "b", 20.0, "Y", _T0, None)])
    upd = _upd(spark, [(1, 11.0, "X")])
    once = SCD.scd2_upsert(cur, upd, "k", ["bal", "seg"], "2001-06-01")
    twice = SCD.scd2_upsert(once, upd, "k", ["bal", "seg"], "2002-01-01")
    # the open row now matches the batch — nothing changes on re-apply
    assert sorted(map(tuple, once.collect())) == \
        sorted(map(tuple, twice.collect()))


def test_scd2_chained_applications_keep_partition_count(spark):
    """Applying the merge to its own output must not multiply
    partitions: the count after three chained batches is no larger
    than after one."""
    cur = _dim(spark, [(k, "n", float(k), "X", _T0, None) for k in range(8)])
    out, counts = cur, []
    for i in range(3):
        upd = _upd(spark, [(k, float(k + i + 1), "Y") for k in range(0, 10, 2)])
        out = SCD.scd2_upsert(out, upd, "k", ["bal", "seg"], f"200{i + 1}-01-01")
        counts.append(out.rdd.getNumPartitions())
    assert counts[2] <= counts[0], counts
    # 8 versions; four changed keys and one new key, then five changed
    # keys twice: each change adds one row (old closed, new opened)
    assert out.count() == 8 + 5 + 5 + 5


def test_scd2_null_to_null_is_not_a_change(spark):
    cur = _dim(spark, [(1, "a", None, "X", _T0, None)])
    upd = _upd(spark, [(1, None, "X")])
    out = SCD.scd2_upsert(cur, upd, "k", ["bal", "seg"], "2001-06-01")
    assert out.count() == 1
    assert out.collect()[0]["valid_to"] is None


def test_scd2_value_to_null_is_a_change(spark):
    cur = _dim(spark, [(1, "a", 10.0, "X", _T0, None)])
    upd = _upd(spark, [(1, None, "X")])
    out = SCD.scd2_upsert(cur, upd, "k", ["bal", "seg"], "2001-06-01")
    assert out.count() == 2
    opened = [r for r in out.collect() if r["valid_to"] is None]
    assert len(opened) == 1 and opened[0]["bal"] is None


def test_scd1_null_update_wins(spark):
    cur = _dim(spark, [(1, "a", 10.0, "X", _T0, None)]).drop(
        "valid_from", "valid_to")
    upd = _upd(spark, [(1, None, "Q")])
    out = SCD.scd1_upsert(cur, upd, "k", ["bal", "seg"])
    row = out.collect()[0]
    assert row["bal"] is None and row["seg"] == "Q"
    assert row["name"] == "a"  # non-tracked attribute untouched


def test_scd1_insert_and_passthrough(spark):
    cur = _dim(spark, [(1, "a", 10.0, "X", _T0, None),
                       (2, "b", 20.0, "Y", _T0, None)]).drop(
        "valid_from", "valid_to")
    upd = _upd(spark, [(9, 1.0, "NEW")])
    out = SCD.scd1_upsert(cur, upd, "k", ["bal", "seg"])
    rows = {r["k"]: (r["bal"], r["seg"], r["name"]) for r in out.collect()}
    assert rows[1] == (10.0, "X", "a")
    assert rows[2] == (20.0, "Y", "b")
    assert rows[9] == (1.0, "NEW", None)


def test_scd2_reactivates_closed_only_key(spark):
    cur = _dim(spark, [(1, "a", 10.0, "X", _T0, _T0)])  # all versions closed
    upd = _upd(spark, [(1, 99.0, "Z")])
    out = SCD.scd2_upsert(cur, upd, "k", ["bal", "seg"], "2001-06-01")
    rows = out.collect()
    assert len(rows) == 2
    opened = [r for r in rows if r["valid_to"] is None]
    assert len(opened) == 1
    assert opened[0]["bal"] == 99.0 and opened[0]["seg"] == "Z"


def test_scd_rejects_duplicate_batch_keys(spark):
    import pytest as _pytest
    cur = _dim(spark, [(1, "a", 10.0, "X", _T0, None)])
    upd = _upd(spark, [(1, 11.0, "X"), (1, 12.0, "Y")])
    with _pytest.raises(ValueError, match="duplicate"):
        SCD.scd2_upsert(cur, upd, "k", ["bal", "seg"], "2001-06-01")
    with _pytest.raises(ValueError, match="duplicate"):
        SCD.scd1_upsert(cur.drop("valid_from", "valid_to"), upd,
                        "k", ["bal", "seg"])


def test_scd2_rejects_malformed_effective_ts(spark):
    """A non-ANSI session silently casts an unparseable timestamp string
    to NULL, which would close versions with valid_to = NULL and leave a
    key with two open versions — the merge must fail loudly driver-side
    instead, regardless of session ANSI mode."""
    import pytest

    cur = _dim(spark, [(1, "a", 1.0, "x", _T0, None)])
    upd = _upd(spark, [(1, 2.0, "y")])
    with pytest.raises(ValueError, match="effective_ts"):
        SCD.scd2_upsert(cur, upd, "k", ["bal", "seg"],
                        "not-a-timestamp")
    with pytest.raises(ValueError, match="effective_ts"):
        SCD.scd2_upsert(cur, upd, "k", ["bal", "seg"], None)


def test_compact_changelog_last_writer_wins_and_tombstones(spark):
    _T = datetime.datetime
    rows = [
        # key 1: I then U → latest U wins
        (1, _T(2020, 1, 1), 1, "I", "a"),
        (1, _T(2020, 1, 2), 2, "U", "b"),
        # key 2: latest op is a delete → tombstoned out
        (2, _T(2020, 1, 1), 3, "I", "x"),
        (2, _T(2020, 1, 5), 4, "D", None),
        # key 3: same-ts ops → seq tiebreak picks the higher
        (3, _T(2020, 1, 1), 5, "I", "p"),
        (3, _T(2020, 1, 1), 6, "U", "q"),
        # key 4: deleted then re-inserted later → alive
        (4, _T(2020, 1, 1), 7, "D", None),
        (4, _T(2020, 1, 2), 8, "I", "z"),
    ]
    log = spark.createDataFrame(
        rows, "k long, ts timestamp, seq long, op string, payload string"
    )
    got = {r["k"]: (r["seq"], r["payload"])
           for r in SCD.compact_changelog(log, "k", "ts", "op",
                                          tiebreak=["seq"]).collect()}
    assert got == {1: (2, "b"), 3: (6, "q"), 4: (8, "z")}


def test_validate_scd2_history_kinds(spark):
    _T = datetime.datetime
    hist = _dim(spark, [
        # key 1: valid tiled history — no violations
        (1, "a", 1.0, "x", _T(1999, 1, 1), _T(2000, 1, 1)),
        (1, "a", 2.0, "x", _T(2000, 1, 1), None),
        # key 2: overlap — v2 starts before v1 ends
        (2, "b", 1.0, "y", _T(1999, 1, 1), _T(2000, 6, 1)),
        (2, "b", 2.0, "y", _T(2000, 1, 1), None),
        # key 3: two open versions → the earlier one is open_not_last
        (3, "c", 1.0, "z", _T(1999, 1, 1), None),
        (3, "c", 2.0, "z", _T(2000, 1, 1), None),
        # key 4: zero-length version
        (4, "d", 1.0, "w", _T(2000, 1, 1), _T(2000, 1, 1)),
        # key 5: gap (legal by default, flagged only with check_gaps)
        (5, "e", 1.0, "v", _T(1999, 1, 1), _T(2000, 1, 1)),
        (5, "e", 2.0, "v", _T(2001, 1, 1), None),
        # key 6: NULL valid_from
        (6, "f", 1.0, "u", None, _T(2000, 1, 1)),
    ])
    got = {(r["k"], r["violation"])
           for r in SCD.validate_scd2_history(hist, "k").collect()}
    assert got == {(2, "overlap"), (3, "open_not_last"),
                   (4, "non_positive_interval"), (6, "null_valid_from")}
    with_gaps = {(r["k"], r["violation"])
                 for r in SCD.validate_scd2_history(
                     hist, "k", check_gaps=True).collect()}
    assert with_gaps == got | {(5, "gap")}


def test_assert_valid_scd2_history(spark):
    import pytest
    _T = datetime.datetime
    good = _dim(spark, [(1, "a", 1.0, "x", _T(1999, 1, 1), None)])
    SCD.assert_valid_scd2_history(good, "k")   # no raise
    bad = _dim(spark, [
        (1, "a", 1.0, "x", _T(1999, 1, 1), None),
        (1, "a", 2.0, "x", _T(2000, 1, 1), None),
    ])
    with pytest.raises(ValueError, match="open_not_last"):
        SCD.assert_valid_scd2_history(bad, "k")


def test_scd2_upsert_output_is_valid_history(spark):
    """The merge's own output must pass the structural validator —
    including the re-activation leg, whose gap is legal by contract."""
    cur = _dim(spark, [
        (1, "a", 10.0, "X", _T0, None),                    # changed
        (2, "b", 20.0, "Y", _T0, None),                    # untouched
        (3, "c", 5.0, "Z", datetime.datetime(1999, 1, 1), _T0),  # closed-only
    ])
    upd = _upd(spark, [(1, 11.0, "X2"), (3, 9.0, "R"), (9, 1.0, "NEW")])
    out = SCD.scd2_upsert(cur, upd, "k", ["bal", "seg"], "2001-06-01")
    SCD.assert_valid_scd2_history(out, "k")    # no raise


def test_pit_join_rejects_column_collision(spark):
    import pytest
    _T = datetime.datetime
    dim = _dim(spark, [(1, "a", 1.0, "x", _T(1999, 1, 1), None)])
    facts = spark.createDataFrame(
        [(1, _T(2000, 1, 1), "mine")], "k long, ts timestamp, seg string"
    )
    with pytest.raises(ValueError, match="collide"):
        SCD.point_in_time_join(facts, dim, key="k", ts_col="ts")
    out = SCD.point_in_time_join(facts, dim, key="k", ts_col="ts",
                                 dim_prefix="dim_")
    row = out.collect()[0]
    assert row["seg"] == "mine" and row["dim_seg"] == "x"
    assert "dim_valid_from" in out.columns


def test_compact_changelog_null_op_raises(spark):
    """A NULL op must raise at execution time, never silently tombstone
    the key the way a bare `op != 'D'` filter would."""
    import pytest
    _T = datetime.datetime
    log = spark.createDataFrame(
        [(1, _T(2020, 1, 1), 1, None, "a")],
        "k long, ts timestamp, seq long, op string, payload string",
    )
    snap = SCD.compact_changelog(log, "k", "ts", "op", tiebreak=["seq"])
    with pytest.raises(Exception, match="NULL 'op'"):
        snap.collect()


def test_scd2_upsert_temporal_literal_nontemporal_column_probed(spark):
    """A date/datetime literal against a NON-temporal valid_from (bigint
    epoch-day column) must not skip the cast probe: cast(date as bigint)
    yields NULL in a non-ANSI session, which would close versions with
    valid_to = NULL and corrupt the history. The probe raises instead."""
    import datetime as dt

    import pytest

    cur = spark.createDataFrame(
        [(1, 10.0, 100, None)],
        "k int, bal double, valid_from bigint, valid_to bigint",
    )
    upd = spark.createDataFrame([(1, 11.0)], "k int, bal double")
    with pytest.raises(ValueError, match="does not cast"):
        SCD.scd2_upsert(cur, upd, "k", ["bal"],
                        dt.date(2001, 6, 1), "valid_from", "valid_to")


def test_scd2_upsert_epoch_seconds_column_works(spark):
    """timestamp literal → bigint valid_from is a LEGAL cast (epoch
    seconds) and must keep working through the probe path."""
    import datetime as dt

    cur = spark.createDataFrame(
        [(1, 10.0, 978307200, None)],
        "k int, bal double, valid_from bigint, valid_to bigint",
    )
    upd = spark.createDataFrame([(1, 11.0)], "k int, bal double")
    eff = dt.datetime(2001, 6, 1, tzinfo=dt.timezone.utc)
    out = SCD.scd2_upsert(cur, upd, "k", ["bal"],
                          eff, "valid_from", "valid_to").collect()
    closed = [r for r in out if r["valid_to"] is not None]
    assert len(closed) == 1 and closed[0]["valid_to"] == 991353600

"""As-of and range joins — operators Spark has no native form for,
composed from primitives it executes well.

``asof_join_backward`` (left row ← most recent right row at or before
its timestamp, per key) avoids the naive inequality join entirely: an
inequality condition forces broadcast-nested-loop or a range explosion,
O(n·m) per key. Instead both sides are UNIONed with a side tag and
sorted once per key; ``last(right_value, ignorenulls)`` over the ordered
window carries the latest right row forward onto each left row. Cost:
ONE shuffle on the key (both inputs together), one sort inside each
partition — the same plan shape Spark uses for any window, at any scale.
Ties (equal timestamps) resolve right-row-first, matching the "at or
before" contract (DuckDB ASOF JOIN semantics, the oracle).

``range_join_binned`` (pairs within ±tolerance) replaces the quadratic
theta join with bucketing: timestamps land in tolerance-width bins, each
left row equi-joins right rows in its own and adjacent bins (bin ∈
{b-1, b, b+1} covers every within-tolerance pair exactly once), then the
exact predicate filters. Shuffle keys are (key, bin) — fixed width; the
candidate set per row is bounded by bucket occupancy, not table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """For each left row: the values of the most recent right row with
    ``right_ts <= left_ts`` and the same key (nulls if none). Output =
    every left column + ``value_cols`` (+ ``__matched_ts`` timestamp).

    ``direction="forward"`` flips the contract to the EARLIEST right row
    with ``right_ts >= left_ts`` — same union-sort-carry plan, with the
    per-key window ordered descending so ``last(..., ignorenulls)``
    carries the nearest FUTURE right row backward onto each left row."""
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward', got {direction!r}"
        )
    lcols = left.columns
    tagged_left = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__v_{c}") for c in value_cols],
        F.lit(None).cast(dict(right.dtypes)[right_ts]).alias("__rts"),
    )
    tagged_right = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols],
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
        F.col(right_ts).alias("__rts"),
    )
    both = tagged_left.unionByName(tagged_right)
    # right rows sort before left rows at the same timestamp (__side 0<1):
    # an exact-tie right row is visible to the left row ("at or before" /
    # "at or after"). Forward = the same carry over a DESCENDING ts order.
    order = (
        [F.col("__ts").asc(), F.col("__side").asc()]
        if direction == "backward"
        else [F.col("__ts").desc(), F.col("__side").asc()]
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = both.select(
        "*",
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"__last_{c}")
            for c in value_cols
        ],
        F.last("__rts", ignorenulls=True).over(w).alias("__matched_ts"),
    )
    return carried.filter(F.col("__side") == 1).select(
        *lcols,
        *[F.col(f"__last_{c}").alias(c) for c in value_cols],
        "__matched_ts",
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """For each left row: the EARLIEST right row with ``right_ts >=
    left_ts`` and the same key (nulls if none) — e.g. "the next error
    after this click". Same one-shuffle union-sort-carry plan as the
    backward join."""
    return asof_join_backward(
        left, right, key, left_ts, right_ts, value_cols,
        direction="forward",
    )


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    tolerance_seconds: int,
) -> DataFrame:
    """All (left, right) pairs with the same key whose timestamps differ
    by at most ``tolerance_seconds``. Equi-join on (key, bin±1) bounds
    candidates; the exact |Δt| predicate filters after, in microseconds
    so a sub-second difference counts (DuckDB's ``epoch`` keeps it)."""
    tol = tolerance_seconds * 1_000_000

    # cast("timestamp") first: no-op for ltz, the only legal epoch route
    # for NTZ input (long-typed inputs also survive the double cast).
    def _micros(c):
        return F.unix_micros(F.col(c).cast("timestamp"))

    lus, rus = _micros(left_ts), _micros(right_ts)
    lb = (lus / tol).cast("long")
    l = left.select(
        F.col(key).alias("__lk"), F.col(left_ts).alias("__lts"),
        lus.alias("__lus"),
        F.explode(F.array(lb - 1, lb, lb + 1)).alias("__bin"),
    )
    r = right.select(
        F.col(key).alias("__rk"), F.col(right_ts).alias("__rts"),
        rus.alias("__rus"), (rus / tol).cast("long").alias("__bin"),
    )
    return (
        l.join(r, (l["__lk"] == r["__rk"]) & (l["__bin"] == r["__bin"]))
        .filter(F.abs(F.col("__lus") - F.col("__rus")) <= tol)
        .select(
            F.col("__lk").alias(key),
            F.col("__lts").alias(left_ts),
            F.col("__rts").alias(right_ts),
        )
        .dropDuplicates([key, left_ts, right_ts])
    )

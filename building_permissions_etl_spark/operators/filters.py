"""Filter/window operators (SURVEY.md §2.2 F1, F2, F4, F6, F7).

All are plain ``df.filter`` on native expressions so Catalyst pushes them
into the parquet scan (``PushedFilters``) and prunes month partitions —
the Spark analog of the reference shipping its 3-month predicate inside
the SQL it sends to BigQuery (helpers:335-339).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def half_open_range(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """F1: strictly-greater AND strictly-less date range — i.e. a fully
    OPEN interval (lo, hi), despite the name. Both strict bounds are the
    reference's exact semantics (helpers:186-191) and the name tracks
    SURVEY.md's F1 label for auditability; callers wanting the
    conventional [lo, hi) must add the boundary row themselves."""
    return df.filter((F.col(col) > F.lit(lo)) & (F.col(col) < F.lit(hi)))


def upper_bound_only(df: DataFrame, col: str, hi) -> DataFrame:
    """F2: full-mode load — everything strictly before ``hi`` (helpers:193-195)."""
    return df.filter(F.col(col) < F.lit(hi))


def not_in_set(df: DataFrame, col: str, values: list[str]) -> DataFrame:
    """F4: remove sentinel-class rows (helpers:221-223)."""
    return df.filter(~F.col(col).isin(values))


def days_lookback_expr(col: str, max_col: str, days: int) -> Column:
    """F6 predicate: ``col >= max(col)-days`` with the max supplied as a
    column (scalar-subquery style). nb:21/nb:25 semantics."""
    return F.col(col) >= F.col(max_col) - F.expr(f"INTERVAL {days} DAYS")


def days_lookback(df: DataFrame, col: str, days: int) -> DataFrame:
    """F6: 90/60/30-day windows anchored at the **max date in the data**.

    The scalar max is computed as a 1-row aggregate cross-joined in (a
    broadcast — no shuffle of the fact side), keeping the whole thing one
    lazy plan instead of a driver-side ``collect`` round-trip.
    """
    mx = df.agg(F.max(col).alias("__max_d"))
    return (
        df.crossJoin(F.broadcast(mx))
        .filter(days_lookback_expr(col, "__max_d", days))
        .drop("__max_d")
    )


def prefix_filter(df: DataFrame, col: str, prefix: str) -> DataFrame:
    """F7: drill-down by code prefix (nb:23 — terc startswith '14')."""
    return df.filter(F.col(col).startswith(prefix))

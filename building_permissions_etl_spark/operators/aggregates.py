"""Aggregation operators (SURVEY.md §2.4 A1-A9).

The flagship is the pivot count (A1, helpers:429-481): count rows per unit
× (type × category), zero-filled, with per-type marginal counts (A2).
Always called with an **explicit pivot-value list** — at 100 TB an
unbounded ``pivot()`` needs an extra distinct-scan job and can explode
columns; the reference's domain is bounded (5 types × 30 categories) and
the explicit list also reproduces its "absent value ⇒ zero column"
behavior (helpers:470-472) exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from building_permissions_etl_spark.functions.expr import sql_ident, sql_str


def pivot_counts(
    df: DataFrame,
    key: str,
    cell_col: str,
    cell_values: list[str],
    suffix: str = "",
) -> DataFrame:
    """A1: one row per ``key``, one count column per ``cell_values`` entry.

    ``cell_col`` is typically a pre-concatenated ``type_category`` column;
    pivoting the type column alone gives the per-type marginals (A2,
    helpers:445-472), where an absent type still yields a zero column —
    the reference's forced-0 branch (helpers:470-472).
    One shuffle (the groupBy); map-side partial aggregation is automatic.
    """
    out = df.groupBy(key).pivot(cell_col, cell_values).count().na.fill(0)
    for v in cell_values:
        out = out.withColumnRenamed(v, f"{v}{suffix}")
    return out


def windowed_count_exprs(
    cell_col: str,
    cell_values: list[str],
    windows: dict[str, str],
    alias_fmt=lambda v, w: f"{v}_{w}",
) -> list:
    """Single-pass form of (3 × filter → pivot → full-outer-join): one
    ``count(CASE WHEN <window> AND cell = v THEN 1 END)`` per (window,
    value).

    The reference aggregates three filtered copies of one frame and outer-
    joins them (helpers:351-362,535-553); passing these expressions to ONE
    ``groupBy(key).agg`` does it in one shuffle. ``windows`` maps suffix →
    boolean predicate as SQL text (e.g. ``d >= max_d - INTERVAL 60 DAYS``).
    Each column is one ``F.expr`` string — a couple of py4j round trips
    instead of one per ``F.*`` node, which dominated plan construction at
    ~180 columns. A composite aggregate (the registry flagship's cells +
    return-flag marginals) concatenates several lists into that one
    groupBy. The list must be known when the plan is built, so it suits
    fixed cells; the monthly ETL's cells depend on the data, and it
    pivots a collected long-form aggregate on the driver instead."""
    col = sql_ident(cell_col)
    return [
        F.expr(f"count(CASE WHEN ({wpred}) AND {col} = {sql_str(v)} THEN 1 END)"
               f" AS {sql_ident(alias_fmt(v, wname))}")
        for wname, wpred in windows.items()
        for v in cell_values
    ]


def value_counts(df: DataFrame, key: str) -> DataFrame:
    """A3: occurrences per value, sorted desc (nb:9, nb:11 …).

    Ties are broken by key asc — the reference's ``value_counts`` tie order
    is memory-layout-dependent; we pin a deterministic total order
    (SURVEY.md §7 risk 2).
    """
    return (
        df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.col(key))
    )


def monthly_series(df: DataFrame, time_col: str) -> DataFrame:
    """A4: count per calendar month, sorted by month (nb:13)."""
    return (
        df.groupBy(F.date_trunc("month", F.col(time_col)).alias("month"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("month")
    )


def count_distinct(df: DataFrame, col: str, approx: bool = False) -> DataFrame:
    """A5: distinct count (helpers:151-152). ``approx=True`` switches to
    HyperLogLog++ — the variant to use at 100 TB (one pass, no exact
    distinct shuffle)."""
    fn = F.approx_count_distinct if approx else F.countDistinct
    return df.agg(fn(F.col(col)).alias("distinct_cnt"))


def scalar_max(df: DataFrame, col: str) -> DataFrame:
    """A6: watermark max (nb:21)."""
    return df.agg(F.max(col).alias("max_val"))


def top_k(df: DataFrame, key: str, k: int) -> DataFrame:
    """A9+O2/O3: top-k groups by count desc, key asc tie-break (nb:21)."""
    return value_counts(df, key).limit(k)


def equi_depth_buckets(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    k: int,
    num_ranges: int = 32,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """Exact equal-depth bucketing: adds a ``bucket`` column identical to
    ``ntile(k) OVER (ORDER BY value_col, tiebreak_col)`` — WITHOUT a
    single-partition window over the data. The naive formulation
    collapses the whole table onto one task; this is the same two-pass
    range-partitioned prefix-sum ``pack_sequences_global`` uses:

    Pass 1: rows are bucketed into contiguous value ranges by
    DETERMINISTIC literal boundaries (one bounded ``approxQuantile``
    driver action — boundary QUALITY only affects balance, never
    correctness) and a per-range window computes LOCAL row numbers in
    ``num_ranges``-way parallel. The range test is a chained
    ``when`` (codegen), not an interpreted HOF. Pass 2: per-range
    counts — ONE ROW per range — get an exclusive prefix sum plus the
    grand total on a single partition (the only SinglePartition
    exchange, over ~num_ranges rows), then broadcast back; each row's
    global rank is local_rn + range offset, and the NTILE bucket is
    closed-form integer arithmetic on (rank, n, k) matching ANSI NTILE
    exactly (first n%k buckets take one extra row).

    ``value_col`` must be numeric and non-null (NULL ordering differs
    across engines and a NULL would land in the last range); ties get a
    total order via ``tiebreak_col``, and rows equal on ``value_col``
    always share a range, so cross-range order is exact.

    ``boundaries`` lets a caller that buckets SEVERAL columns of the
    same frame (e.g. the RFM quintiles) precompute all boundary sets in
    ONE multi-column ``approxQuantile`` pass instead of one scan per
    call; values are range split points, quality-only as above.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if boundaries is None:
        probs = [i / num_ranges for i in range(1, num_ranges)]
        boundaries = df.stat.approxQuantile(value_col, probs, 0.001)
    bnds = sorted(set(boundaries))
    v = F.col(value_col)
    rid = F.lit(len(bnds)).cast("int")
    for i, b in reversed(list(enumerate(bnds))):
        rid = F.when(v < F.lit(b), F.lit(i).cast("int")).otherwise(rid)
    staged = df.withColumn("__rid", rid)
    w_local = Window.partitionBy("__rid").orderBy(
        v.asc(), F.col(tiebreak_col).asc()
    )
    ranked = staged.withColumn("__lrn", F.row_number().over(w_local).cast("bigint"))
    w_pre = Window.orderBy("__rid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("__rid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        staged.groupBy("__rid").agg(F.count(F.lit(1)).alias("__cnt"))
        .select(
            "__rid",
            F.coalesce(F.sum("__cnt").over(w_pre), F.lit(0)).alias("__off"),
            F.sum("__cnt").over(w_all).alias("__n"),
        )
    )
    out = (
        ranked.join(F.broadcast(offsets), "__rid")
        .withColumn("__r", F.col("__lrn") + F.col("__off"))
        .withColumn("__base", F.expr(f"__n div {k}"))
        .withColumn("__rem", F.expr(f"__n % {k}"))
        .withColumn(
            "bucket",
            F.when(
                F.col("__r") <= F.col("__rem") * (F.col("__base") + 1),
                F.expr("(__r + __base) div (__base + 1)"),
            ).otherwise(
                F.col("__rem")
                + F.expr("(__r - __rem * (__base + 1) + __base - 1) div __base")
            ),
        )
    )
    return out.drop("__rid", "__lrn", "__off", "__n", "__r", "__base", "__rem")

"""The flagship aggregate pipeline (SURVEY.md §3.3, helpers:323-426),
re-expressed over the driver fixture tables (FIXTURES.md §B mapping):

  reference                      fixture analog
  ---------                      --------------
  permissions fact               lineitem (dated fact)
  terc → county unit             supplier.s_nationkey via l_suppkey
  rodzaj × kategoria pivot       l_returnflag × l_linestatus (6 cells)
  per-rodzaj marginals           l_returnflag (3 values)
  3m/2m/1m logical windows       90/60/30 days back from max(l_shipdate)
  powiaty dim (380 rows)         nation (25 rows, broadcast)
  drop unknown counties (J2)     left-semi vs nation
  zero rows for permit-less
  counties (J3+U1)               nations with no in-window lineitems

Two implementations behind one output contract:

  * ``flagship_merge_shape`` — the reference-parity shape: three window
    aggregates full-outer-joined then zero-filled (helpers:351-362,535-553).
  * ``flagship_single_pass`` — the idiomatic Spark shape: ONE shuffle,
    conditional aggregation (SURVEY.md §2.4 note). At 100 TB this reads the
    fact once and shuffles one pre-aggregated stream instead of three. Its
    wide projections are SQL text (one ``F.expr`` per count, one
    ``selectExpr`` for the completion), so construction costs a few py4j
    round trips per column instead of one per ``F.*`` node, and no job:
    its cells are fixed. The monthly ETL
    (``pipeline/permissions.py::superior_aggregates``) does not share
    this shape: its cells depend on the data, so it must collect before
    it knows its columns, and it collects a narrow long-form aggregate
    that it pivots on the driver instead of planning ~180 columns.

A parity test pins both to identical results; ``flagship_oracle_sql``
returns the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from building_permissions_etl_spark.catalog import load_table
from building_permissions_etl_spark.functions.expr import sql_str
from building_permissions_etl_spark.operators.aggregates import (
    pivot_counts,
    windowed_count_exprs,
)
from building_permissions_etl_spark.operators.joins import (
    complete_dim_keys,
    complete_via_left_join,
    keep_known_keys,
    outer_merge_zero_fill,
)

RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUSES = ["F", "O"]
CELLS = [f"{rf}_{ls}" for rf in RETURN_FLAGS for ls in LINE_STATUSES]
WINDOWS = [("w90", 90), ("w60", 60), ("w30", 30)]
DEFAULT_INJECTION_DATE = "2026-08-13 00:00:00.000 UTC"


def count_columns() -> list[str]:
    """Stable output column order: pivot cells then marginals, per window."""
    cols = []
    for wname, _ in WINDOWS:
        cols.extend(f"{cell.lower()}_{wname}" for cell in CELLS)
        cols.extend(f"rf_{rf.lower()}_{wname}" for rf in RETURN_FLAGS)
    return cols


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact scan: 90-day window anchored at max(l_shipdate), unit key via a
    broadcast join to supplier. Only 4 fact columns are read (column
    pruning reaches the parquet scan)."""
    # NOTE: no fan_out here — measured at sf0.1, the whole-stage-codegen
    # join+filter+partial-agg is cheap enough per row that an extra
    # repartition shuffle costs more than the single-core map side saves
    # (1.3s → 2.5s). fan_out pays only for interpreted-HOF / Python-UDF
    # stages (see operators/scale.py).
    lineitem = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey", "l_returnflag", "l_linestatus", "l_shipdate"
    )
    supplier = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    mx = lineitem.agg(F.max("l_shipdate").alias("max_d"))
    return (
        lineitem.join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("l_shipdate") >= F.col("max_d") - F.expr("INTERVAL 90 DAYS"))
        .select(
            F.col("s_nationkey").cast("bigint").alias("unit_id"),
            F.concat_ws("_", "l_returnflag", "l_linestatus").alias("cell"),
            F.col("l_returnflag").alias("rf"),
            F.col("l_shipdate").alias("d"),
            F.col("max_d"),
        )
    )


def _finalize(agg: DataFrame, spark: SparkSession, sf_dir: str,
              injection_date: str, one_pass: bool = False) -> DataFrame:
    """Shared tail: J2 semi-join vs the dim, J3+U1 dim completion,
    injection_date literal (C19), column order (F9), global sort (O1).

    ``one_pass`` selects the fused dim-LEFT-JOIN completion: the
    semi+anti+union parity shape references the aggregate subtree twice
    and Spark computes it twice (visible as a duplicated branch under the
    final Union in .explain). The fused form scans/aggregates once.
    """
    nation = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").cast("bigint").alias("n_key")
    )
    if one_pass:
        agg = agg.withColumn("injection_date", F.lit(injection_date))
        agg = complete_via_left_join(
            agg, nation, "unit_id", "n_key",
            fill_values={"injection_date": sql_str(injection_date)},
        )
    else:
        agg = keep_known_keys(agg, nation, "unit_id", "n_key")
        agg = agg.withColumn("injection_date", F.lit(injection_date))
        agg = complete_dim_keys(
            agg, nation, "unit_id", "n_key",
            fill_values={"injection_date": F.lit(injection_date)},
        )
    ordered = ["unit_id", "injection_date"] + count_columns()
    return agg.select(*ordered).orderBy("unit_id")


def flagship_merge_shape(spark: SparkSession, sf_dir: str,
                         injection_date: str = DEFAULT_INJECTION_DATE) -> DataFrame:
    """Reference-parity shape: per-window filter → pivot → full-outer merge."""
    base = _base(spark, sf_dir).cache()
    window_aggs = []
    for wname, days in WINDOWS:
        windowed = base.filter(
            F.col("d") >= F.col("max_d") - F.expr(f"INTERVAL {days} DAYS")
        )
        cells = pivot_counts(windowed, "unit_id", "cell", CELLS, suffix=f"__{wname}")
        for cell in CELLS:
            cells = cells.withColumnRenamed(
                f"{cell}__{wname}", f"{cell.lower()}_{wname}"
            )
        margins = pivot_counts(windowed, "unit_id", "rf", RETURN_FLAGS, suffix=f"__{wname}")
        for rf in RETURN_FLAGS:
            margins = margins.withColumnRenamed(
                f"{rf}__{wname}", f"rf_{rf.lower()}_{wname}"
            )
        window_aggs.append(cells.join(margins, on="unit_id", how="full_outer"))
    # Round 14 (guide §5 caching): the parity tail references the merged
    # aggregate TWICE (directly and under the completion's anti-join), so
    # without a cache the whole 6-pivot pipeline executes twice per run.
    # The reference materialized the aggregate frame eagerly before its
    # null-probes; caching the ≤|dim|-row merge is the lazy analog — the
    # second branch reads the ~25 cached rows instead of re-aggregating.
    merged = outer_merge_zero_fill(window_aggs, "unit_id").cache()
    return _finalize(merged, spark, sf_dir, injection_date)


def flagship_single_pass(spark: SparkSession, sf_dir: str,
                         injection_date: str = DEFAULT_INJECTION_DATE) -> DataFrame:
    """Idiomatic shape: one shuffle, conditional aggregation."""
    base = _base(spark, sf_dir)
    windows = {wname: f"d >= max_d - INTERVAL {days} DAYS" for wname, days in WINDOWS}
    # per window: cell counts then return-flag marginals, both built by
    # the shared conditional-count expression builder (one groupBy total)
    aggs = []
    for wname, wpred in windows.items():
        aggs += windowed_count_exprs(
            "cell", CELLS, {wname: wpred},
            alias_fmt=lambda v, w: f"{v.lower()}_{w}")
        aggs += windowed_count_exprs(
            "rf", RETURN_FLAGS, {wname: wpred},
            alias_fmt=lambda v, w: f"rf_{v.lower()}_{w}")
    agg = base.groupBy("unit_id").agg(*aggs)
    return _finalize(agg, spark, sf_dir, injection_date, one_pass=True)


def flagship_oracle_sql(injection_date: str = DEFAULT_INJECTION_DATE) -> str:
    """DuckDB oracle: conditional-aggregation form + dim-completion via
    LEFT JOIN/COALESCE (same result as both Spark shapes)."""
    cell_exprs, coalesces = [], []
    for wname, days in WINDOWS:
        for cell in CELLS:
            rf, ls = cell.split("_")
            name = f"{cell.lower()}_{wname}"
            cell_exprs.append(
                f"CAST(count(CASE WHEN rf='{rf}' AND ls='{ls}' AND "
                f"d >= m - INTERVAL {days} DAY THEN 1 END) AS BIGINT) AS {name}"
            )
            coalesces.append(f"COALESCE({name}, 0) AS {name}")
        for rf in RETURN_FLAGS:
            name = f"rf_{rf.lower()}_{wname}"
            cell_exprs.append(
                f"CAST(count(CASE WHEN rf='{rf}' AND "
                f"d >= m - INTERVAL {days} DAY THEN 1 END) AS BIGINT) AS {name}"
            )
            coalesces.append(f"COALESCE({name}, 0) AS {name}")
    return f"""
WITH mx AS (SELECT max(l_shipdate) AS m FROM lineitem),
base AS (
  SELECT CAST(s.s_nationkey AS BIGINT) AS unit_id,
         l.l_returnflag AS rf, l.l_linestatus AS ls,
         l.l_shipdate AS d, mx.m AS m
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  CROSS JOIN mx
  WHERE l.l_shipdate >= mx.m - INTERVAL 90 DAY
),
agg AS (
  SELECT unit_id, {", ".join(cell_exprs)}
  FROM base GROUP BY unit_id
)
SELECT CAST(n.n_nationkey AS BIGINT) AS unit_id,
       '{injection_date}' AS injection_date,
       {", ".join(coalesces)}
FROM nation n LEFT JOIN agg ON n.n_nationkey = agg.unit_id
ORDER BY unit_id
"""

"""The permissions ETL, end to end (SURVEY.md §3.2-§3.3) — the Spark
re-architecture of the reference DAG's ingest + aggregate tasks
(dags/aggregates_python.py:49-85), parameterized by logical date (never
wall-clock, helpers:101-102).

Ingest (one CSV scan, one write job — the fuzzy join is broadcast):
    read CSV (S2) → parse event time w/ coerce-to-null (C5) → mode-
    dependent range filter (F1/F2) → [cached] → terc correction (§2.10),
    its distinct-city lookup built from the cached rows → audit (A7)
    observed on the write → drop Unknown* (F4) → drop null event time
    (F3) → partitioned clustered write (S4).

Aggregate (the flagship, §3.3): 3-month scan with pushed-down predicate
(S7) → county prefix (C1) → one small aggregate finding each window's
observed (rodzaj, kategoria) cells → ONE groupBy of conditional counts
for all three windows: pivot cells (A1) + per-type marginals (A2), named
deromanized/sanitized (C4/C21) — the same single-pass shape as
``plans/flagship.py::flagship_single_pass`` → injection date/reorder/
rename (C19/F9/F10) → dim completion as one left join (J2+J3+U1) →
single-file sorted write (O1), its rows observed → schema-evolving
append (S13), a growing schema committed by renaming a staging copy in.
The wide projections are SQL text, so building the ~180-column plan
costs a few py4j round trips per column, not one per ``F.*`` node.

No step runs a job only to read metadata: the sink probes and the
fact's and sink's schemas come from parquet footers read on the driver
(``sources/sinks.py``).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from building_permissions_etl_spark.functions.expr import sql_ident, sql_str
from building_permissions_etl_spark.functions.roman import INT_OF_ROMAN
from building_permissions_etl_spark.functions.text import sanitize_column_names
from building_permissions_etl_spark.operators.aggregates import windowed_count_exprs
from building_permissions_etl_spark.operators.joins import complete_via_left_join
from building_permissions_etl_spark.operators.terc import (
    correct_terc,
    correction_audit_exprs,
    correction_audit_metrics,  # noqa: F401  (bound here for perfbench's terc span)
    drop_invalid_terc,
)
from building_permissions_etl_spark.schemas import (
    EVENT_TIME_COL,
    EXPECTED_RODZAJ_TYPES,
)
from building_permissions_etl_spark.sources.csv_source import (
    parse_event_time,
    read_permissions_csv,
)
from building_permissions_etl_spark.sources.sinks import (
    MONTH_COL,
    append_with_schema_evolution,
    read_parquet_table,
    table_exists_nonempty,
    write_fact_partitioned,
)


def first_day_of_previous_month(d: dt.datetime) -> dt.datetime:
    """C8 (helpers:115-127)."""
    first_this = d.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    return (first_this - dt.timedelta(days=1)).replace(day=1)


def ingest_permissions(
    spark: SparkSession,
    csv_path: str,
    fact_path: str,
    powiaty: DataFrame,
    execution_date: dt.datetime,
) -> dict:
    """Tasks 2+3 of the DAG: validate/parse, mode-select, correct, load.

    Mode (helpers:89-111): 'update' (sink non-empty) loads only rows in
    (first_day_of_prev_month, execution_date) — both bounds STRICT
    (helpers:186-191); 'full' loads everything < execution_date.
    Returns the A7 audit metrics (driver-side dict, logged by the
    scheduler), observed on the fact write.
    """
    mode = "update" if table_exists_nonempty(spark, fact_path) else "full"
    df = parse_event_time(read_permissions_csv(spark, csv_path))

    t = F.col(EVENT_TIME_COL)
    if mode == "update":
        lo = first_day_of_previous_month(execution_date)
        df = df.filter((t > F.lit(lo)) & (t < F.lit(execution_date)))
    else:
        df = df.filter(t < F.lit(execution_date))

    # one CSV scan: the terc lookup's distinct cities and the write both
    # read these cached rows, and the audit is observed on the write
    # instead of being a separate action
    rows = df.cache()
    try:
        audit = Observation()
        corrected = correct_terc(rows, powiaty).observe(audit, *correction_audit_exprs())
        clean = drop_invalid_terc(corrected).na.drop(subset=[EVENT_TIME_COL])

        write_fact_partitioned(
            clean, fact_path, EVENT_TIME_COL, "terc",
            overwrite_partitions=(mode == "update"),
        )
    finally:
        rows.unpersist()
    return {"mode": mode, **audit.get}


# --- aggregate task -----------------------------------------------------

def _short_rodzaj(r: str) -> str:
    """Reference shortens pivot prefixes to the rodzaj's first word
    (helpers:485-515)."""
    return r.split(" ")[0].split("/")[0]


def _cell_column(cell: str, suffix: str) -> str:
    """Sink column name of one ``rodzaj|kategoria`` pivot cell in one
    window: short rodzaj + deromanized kategoria (C4, helpers:517-533),
    sanitized (C21). A cell outside the known domain keeps its raw text."""
    r, _, k = cell.partition("|")
    if r in EXPECTED_RODZAJ_TYPES and k in INT_OF_ROMAN:
        cell = f"{_short_rodzaj(r)}_kat_{INT_OF_ROMAN[k]}"
    return sanitize_column_names([f"{cell}_{suffix}"])[0]


def superior_aggregates(
    spark: SparkSession,
    fact_path: str,
    agg_path: str,
    powiaty: DataFrame,
    execution_date: dt.datetime,
) -> DataFrame:
    """Task 4 (helpers:323-426): the flagship monthly aggregate.

    Returns the aggregate frame; its ``written`` attribute is the
    ``Observation`` of the rows the sink wrote (``rows``), taken during
    the write instead of by a second count."""
    fact = read_parquet_table(spark, fact_path)
    # S7: the 3-month window is bounded on BOTH sides and duplicated on
    # the month PARTITION column. The upper bound makes backfills
    # re-run-safe — without `t < execution_date` a re-run for an old
    # logical date would count months ingested by later runs (the
    # reference only survived because Airflow catchup replayed serially
    # over an append-only table). The month predicates are what Spark
    # can actually PRUNE partitions with: a filter on the event-time
    # data column alone still lists and footer-reads every month
    # directory (yyyy-MM strings compare chronologically).
    # INTERVAL arithmetic preserves the logical date's time-of-day
    # (add_months coerces to DATE and would snap a midday logical date
    # to midnight, mirroring nothing in the reference's relativedelta).
    # Every bound is SQL text over ONE timestamp literal, read in the
    # session time zone like the fact's event times and month column, so
    # the pruning filter, the observed-cell flags and the counts cannot
    # disagree on where a window starts.
    t, month = sql_ident(EVENT_TIME_COL), sql_ident(MONTH_COL)
    end = f"TIMESTAMP {sql_str(execution_date.isoformat(' '))}"
    bounds = {f"{n}m": f"{end} - INTERVAL {n} MONTHS" for n in (3, 2, 1)}
    windows = {s: f"{t} >= {lo}" for s, lo in bounds.items()}
    base = fact.filter(
        f"{windows['3m']} AND {t} < {end}"
        f" AND {month} >= date_format({bounds['3m']}, 'yyyy-MM')"
        f" AND {month} <= date_format({end}, 'yyyy-MM')"
    ).select(
        F.substring("terc", 1, 4).alias("unit_id"),
        "rodzaj_zam_budowlanego",
        F.concat_ws("|", "rodzaj_zam_budowlanego", "kategoria").alias("cell"),
        EVENT_TIME_COL,
    )

    # Observed cells only — reference parity: pandas pivot_table mints
    # columns per observed (rodzaj, kategoria) pair (helpers:431), which
    # is exactly what feeds the sink's schema evolution (S13). One small
    # aggregate flags which windows saw each cell; the domain is bounded
    # (≤ 5×30 rows, SURVEY.md §7 risk 4). Cells keep pivot()'s ascending
    # order, then come the five marginals.
    seen = base.groupBy("cell").agg(
        *[F.expr(f"max({pred}) AS {sql_ident(s)}") for s, pred in windows.items()]
    ).collect()
    counts = []
    for suffix, pred in windows.items():
        cells = sorted(r["cell"] for r in seen if r[suffix])
        counts += windowed_count_exprs(
            "cell", cells, {suffix: pred}, alias_fmt=_cell_column)
        counts += windowed_count_exprs(
            "rodzaj_zam_budowlanego", EXPECTED_RODZAJ_TYPES, {suffix: pred},
            alias_fmt=lambda r, s: sanitize_column_names([f"{_short_rodzaj(r)}_{s}"])[0])

    inj = execution_date.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3] + " UTC"
    agg = base.groupBy("unit_id").agg(F.lit(inj).alias("injection_date"), *counts)

    # fused J2+J3+U1: dim LEFT JOIN evaluates the aggregate once, where
    # the semi+anti+union shape would evaluate it twice. The result has
    # at most |dim| rows, so one sorted partition replaces a global
    # orderBy and its range-sampling job (and writes one file).
    out = complete_via_left_join(
        agg, powiaty.select("JPT_KOD_JE"), "unit_id", "JPT_KOD_JE",
        fill_values={"injection_date": sql_str(inj)},
    ).coalesce(1).sortWithinPartitions("unit_id")

    written = Observation()
    append_with_schema_evolution(
        spark, out.observe(written, F.count(F.lit(1)).alias("rows")), agg_path,
        key_cols=("unit_id", "injection_date"))
    out.written = written
    return out

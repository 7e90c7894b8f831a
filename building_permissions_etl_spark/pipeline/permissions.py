"""The permissions ETL, end to end (SURVEY.md §3.2-§3.3) — the Spark
re-architecture of the reference DAG's ingest + aggregate tasks
(dags/aggregates_python.py:49-85), parameterized by logical date (never
wall-clock, helpers:101-102).

Ingest (one job: the CSV scan and the write):
    read CSV (S2) → in update mode, a range over the raw event-time text
    that the CSV reader evaluates before converting the other columns →
    parse event time w/ coerce-to-null (C5) → mode-dependent range
    filter (F1/F2) → terc correction (§2.10), its fuzzy city branch a
    scan of the county dim's rows inside the projection → audit (A7)
    observed on the write → drop Unknown* (F4) → drop null event time
    (F3) → partitioned clustered write (S4).

Aggregate (the flagship, §3.3): 3-month scan with pushed-down predicate
(S7) → county prefix (C1) → ONE narrow aggregate, collected: per (unit,
rodzaj, cell), the conditional counts of all three windows. This long
form has at most |units| × |observed cells| rows — bounded by the unit
codes and the rodzaj×kategoria domain (SURVEY.md §7 risk 4), not by the
input — so it is pivoted on the driver, as the reference's pandas
``pivot_table`` did (helpers:431): observed pivot cells (A1) + per-type
marginals (A2), named deromanized/sanitized (C4/C21) → injection date/
reorder/rename (C19/F9/F10) → dim completion from the county dim's rows
(J2+J3+U1) → sorted rows as one Arrow ``LocalRelation`` partition,
written as one file (O1), its rows observed → schema-evolving append
(S13), a growing schema committed by renaming a staging copy in. The
pivot as a ~180-column Spark plan costs more planning and codegen than
its data; ``plans/flagship.py`` can use that shape because its cells are
fixed and need no collect, while these depend on the data.

The county dim is collected once per run (``county_dim``) and feeds
both tasks. No step runs a job only to read metadata: the sink probes
and the fact's and sink's schemas come from parquet footers read on the
driver (``sources/sinks.py``).
"""

from __future__ import annotations

import datetime as dt
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from building_permissions_etl_spark.functions.expr import sql_ident, sql_str
from building_permissions_etl_spark.functions.roman import INT_OF_ROMAN
from building_permissions_etl_spark.functions.text import sanitize_column_names
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


class CountyDim(NamedTuple):
    """The county dim on the driver: its (JPT_KOD_JE, JPT_NAZWA_) rows,
    and the key's field, whose type and nullability the aggregate's
    ``unit_id`` keeps."""
    key: StructField
    rows: list[tuple]


def county_dim(powiaty: DataFrame) -> CountyDim:
    """The dim's codes and names in one collect (~380 rows)."""
    key = powiaty.schema["JPT_KOD_JE"]
    return CountyDim(key, [tuple(r) for r in powiaty.select(key.name, "JPT_NAZWA_").collect()])


def _timestamp_sql(d: dt.datetime) -> str:
    """``d`` as a SQL timestamp literal, read in the session time zone
    like the parsed event times."""
    return f"TIMESTAMP {sql_str(d.isoformat(' '))}"


def event_text_prefilter(lo: dt.datetime, hi: dt.datetime) -> str:
    """SQL text over the RAW event-time column that keeps every row whose
    parsed time lies strictly between ``lo`` and ``hi``: the parse
    accepts only canonical ``yyyy-MM-dd HH:mm:ss`` text (or a negative
    year, which is before any ``lo``), and canonical text orders as its
    time, so the row's text starts with a date from ``lo``'s to ``hi``'s.
    Plain comparisons with string literals, so the CSV reader evaluates
    them before it converts the row's other columns."""
    t = sql_ident(EVENT_TIME_COL)
    return (f"{t} >= {sql_str(lo.date().isoformat())}"
            f" AND {t} < {sql_str((hi.date() + dt.timedelta(days=1)).isoformat())}")


def first_day_of_previous_month(d: dt.datetime) -> dt.datetime:
    """C8 (helpers:115-127)."""
    first_this = d.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    return (first_this - dt.timedelta(days=1)).replace(day=1)


def ingest_permissions(
    spark: SparkSession,
    csv_path: str,
    fact_path: str,
    dim: CountyDim,
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
    raw = read_permissions_csv(spark, csv_path)
    t, end = sql_ident(EVENT_TIME_COL), _timestamp_sql(execution_date)
    if mode == "update":
        lo = first_day_of_previous_month(execution_date)
        raw = raw.filter(event_text_prefilter(lo, execution_date))
        window = f"{t} > {_timestamp_sql(lo)} AND {t} < {end}"
    else:
        window = f"{t} < {end}"
    df = parse_event_time(raw).filter(window)

    # one CSV scan, one job: the audit is observed on the write instead
    # of being a separate action
    audit = Observation()
    corrected = correct_terc(df, dim.rows).observe(audit, *correction_audit_exprs())
    clean = drop_invalid_terc(corrected).na.drop(subset=[EVENT_TIME_COL])
    write_fact_partitioned(
        clean, fact_path, EVENT_TIME_COL, "terc",
        overwrite_partitions=(mode == "update"),
    )
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
    dim: CountyDim,
    execution_date: dt.datetime,
) -> DataFrame:
    """Task 4 (helpers:323-426): the flagship monthly aggregate — one
    narrow Spark aggregate, pivoted and dim-completed on the driver.

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
    # the pruning filter and the window counts cannot disagree on where
    # a window starts.
    t, month = sql_ident(EVENT_TIME_COL), sql_ident(MONTH_COL)
    end = _timestamp_sql(execution_date)
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

    # The workers reduce the window to its long form, each (unit, rodzaj,
    # cell)'s count in each window; at most |units| × |observed cells|
    # rows — the 4-digit unit codes times the ≤ 5×30 rodzaj×kategoria
    # domain — however large the input, so the driver can pivot it.
    long_form = base.groupBy("unit_id", "rodzaj_zam_budowlanego", "cell").agg(
        *[F.expr(f"count_if({pred}) AS {sql_ident(s)}") for s, pred in windows.items()]
    ).collect()

    # Observed cells only — reference parity: pivot_table mints columns
    # per observed (rodzaj, kategoria) pair, which is exactly what feeds
    # the sink's schema evolution (S13). Per window: the cells counted in
    # it in ascending order (A1, C4/C21 names), then the five marginals
    # (A2) — the sums over rows of exactly that rodzaj.
    position, names = {}, ["unit_id", "injection_date"]
    for s in windows:
        for cell in sorted({r["cell"] for r in long_form if r[s]}):
            position["cell", cell, s] = len(position)
            names.append(_cell_column(cell, s))
        for rodzaj in EXPECTED_RODZAJ_TYPES:
            position["rodzaj", rodzaj, s] = len(position)
            names.append(sanitize_column_names([f"{_short_rodzaj(rodzaj)}_{s}"])[0])
    counts: dict = {}
    for r in long_form:
        if r["unit_id"] is None:       # a NULL unit never matches the dim
            continue
        row = counts.setdefault(r["unit_id"], [0] * len(position))
        for s in windows:
            # a cell has no column in a window where it counted nothing
            for k in (("cell", r["cell"], s), ("rodzaj", r["rodzaj_zam_budowlanego"], s)):
                if k in position:
                    row[position[k]] += r[s]

    # J2+J3+U1: one row per dim row (duplicates kept), units outside the
    # dim dropped, absent counts 0 (C19/F9/F10: constant injection date),
    # sorted by unit with NULLs first (O1). Built from an Arrow table, so
    # the frame is a LocalRelation: no Python worker, no plan to compile.
    key = dim.key
    units = sorted((r[0] for r in dim.rows), key=lambda u: (u is not None, u))
    rows = [counts.get(u, [0] * len(position)) for u in units]
    inj = execution_date.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3] + " UTC"
    columns = [units, [inj] * len(units)] + [[row[i] for row in rows] for i in range(len(position))]
    table = pa.Table.from_arrays([pa.array(c) for c in columns], names=names)
    schema = StructType(
        [StructField("unit_id", key.dataType, key.nullable),
         StructField("injection_date", StringType(), False)]
        + [StructField(n, LongType(), False) for n in names[2:]])
    # one partition, so the sink writes one file
    out = spark.createDataFrame(table, schema).coalesce(1)

    written = Observation()
    append_with_schema_evolution(
        spark, out.observe(written, F.count(F.lit(1)).alias("rows")), agg_path,
        key_cols=("unit_id", "injection_date"))
    out.written = written
    return out

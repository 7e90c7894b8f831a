"""End-to-end permissions pipeline: ingest modes, flagship aggregate,
schema evolution, idempotence — on a generated reference-shaped CSV
fixture (FIXTURES.md §A; property checks from SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from building_permissions_etl_spark.functions.expr import sql_ident, sql_str
from building_permissions_etl_spark.functions.text import sanitize_column_names
from building_permissions_etl_spark.operators.aggregates import windowed_count_exprs
from building_permissions_etl_spark.operators.joins import complete_via_left_join
from building_permissions_etl_spark.operators.terc import (
    correct_terc,
    correction_audit_metrics,
)
from building_permissions_etl_spark.pipeline.permissions import (
    _cell_column,
    _short_rodzaj,
    county_dim,
    event_text_prefilter,
    first_day_of_previous_month,
    ingest_permissions,
    superior_aggregates,
)
from building_permissions_etl_spark.schemas import (
    EVENT_TIME_COL,
    EXPECTED_RODZAJ_TYPES,
    PERMISSIONS_CSV_COLUMNS,
)
from building_permissions_etl_spark.sources.csv_source import (
    parse_event_time,
    read_permissions_csv,
)
from building_permissions_etl_spark.sources.sinks import (
    append_with_schema_evolution,
    read_parquet_table,
    table_exists_nonempty,
    write_fact_partitioned,
)

EXEC_DATE = dt.datetime(2022, 7, 1)
KEYS = ("unit_id", "injection_date")


def _spark_jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it ran). A marker job
    closes the job group: the status store sees jobs in order, so once
    it lists the marker it lists every job ``fn`` ran."""
    import time
    import uuid

    sc, group = spark.sparkContext, f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        result = fn()
        sc.parallelize([0], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.monotonic() + 30
    while not (ids := sc.statusTracker().getJobIdsForGroup(group)):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return result, len(ids) - 1


def _tree(path):
    """relative path → bytes of every file under ``path``."""
    return {str(f.relative_to(path)): f.read_bytes()
            for f in sorted(path.rglob("*")) if f.is_file()}


def _csv_rows(n=200, kategorias=("I", "II", "V")):
    """Deterministic permission rows spanning 6 months around EXEC_DATE,
    with dirty terc values exercising every §2.10 branch."""
    rows = []
    for i in range(n):
        month = 1 + (i % 6)                      # 2022-01 .. 2022-06
        day = 1 + (i % 27)
        date = f"2022-{month:02d}-{day:02d} 12:00:00"
        if i % 17 == 0:
            date = "not-a-date"                  # parse-failure branch
        terc_cases = [
            "1465011", "0201011", "9965011", "465011", "abc", "", "nan",
            "1465011.0",
        ]
        terc = terc_cases[i % len(terc_cases)]
        jn = "1465xyz" if i % 3 == 0 else ""
        miasto = "warsaw" if i % 3 == 1 else ""
        rodzaj = EXPECTED_RODZAJ_TYPES[i % len(EXPECTED_RODZAJ_TYPES)]
        kat = kategorias[i % len(kategorias)]
        row = {c: f"v{i}" for c in PERMISSIONS_CSV_COLUMNS}
        row.update({
            EVENT_TIME_COL: date, "terc": terc, "jednostki_numer": jn,
            "miasto": miasto, "rodzaj_zam_budowlanego": rodzaj,
            "kategoria": kat,
        })
        rows.append(row)
    return rows


def _write_csv(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        f.write("#".join(PERMISSIONS_CSV_COLUMNS) + "\n")
        for r in rows:
            f.write("#".join(r[c] for c in PERMISSIONS_CSV_COLUMNS) + "\n")


@pytest.fixture(scope="module")
def dim(spark):
    rows = [("1465", "Warsaw County", "P"), ("0201", "Wroclaw County", "P"),
            ("0463", "Krakow County", "P"), ("2261", "Gdansk County", "P")]
    return county_dim(spark.createDataFrame(rows, ["JPT_KOD_JE", "JPT_NAZWA_", "geometry"]))


def _dim(spark, rows):
    return county_dim(spark.createDataFrame(rows, "JPT_KOD_JE string, JPT_NAZWA_ string"))


def test_full_pipeline(spark, dim, tmp_path):
    csv = str(tmp_path / "perms.csv")
    fact = str(tmp_path / "fact")
    agg = str(tmp_path / "agg")
    _write_csv(csv, _csv_rows())

    # --- a window with no rows: a zero-row audit, and the table stays
    # "empty" for the probe, so the next ingest is still a full load -----
    nothing = ingest_permissions(spark, csv, fact, dim, dt.datetime(2021, 12, 1))
    assert nothing["total_rows"] == 0 and nothing["pct_invalid"] is None

    # --- full-mode ingest ------------------------------------------------
    spark.catalog.clearCache()
    audit = ingest_permissions(spark, csv, fact, dim, EXEC_DATE)
    # the ingest caches nothing: the CSV scan feeds the write directly
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert audit["mode"] == "full"
    assert audit["total_rows"] > 0
    # the audit observed on the write equals the standalone A7 aggregate
    rows = parse_event_time(read_permissions_csv(spark, csv)).filter(
        F.col(EVENT_TIME_COL) < F.lit(EXEC_DATE))
    expected = correction_audit_metrics(correct_terc(rows, dim.rows)).first().asDict()
    assert audit == {"mode": "full", **expected}
    loaded = spark.read.parquet(fact)
    assert "month" in loaded.columns
    assert loaded.filter(F.col(EVENT_TIME_COL) >= F.lit(EXEC_DATE)).count() == 0
    # all kept tercs valid 7-digit or 4-digit matched codes
    bad = loaded.filter(~F.col("terc").rlike(r"^\d{4}(\d{3})?$")).count()
    assert bad == 0
    # the probe of a populated table reads footers on the driver: no job
    assert _spark_jobs(spark, lambda: table_exists_nonempty(spark, fact)) == (True, 0)

    # --- update-mode ingest is idempotent (dynamic partition overwrite) --
    audit2 = ingest_permissions(spark, csv, fact, dim, EXEC_DATE)
    assert audit2["mode"] == "update"
    n1 = spark.read.parquet(fact).count()
    ingest_permissions(spark, csv, fact, dim, EXEC_DATE)
    assert spark.read.parquet(fact).count() == n1   # re-run: no double count

    # --- flagship aggregate ---------------------------------------------
    spark.catalog.clearCache()
    out, jobs = _spark_jobs(
        spark, lambda: superior_aggregates(spark, fact, agg, dim, EXEC_DATE))
    # one narrow aggregate (two AQE jobs) and the write: the dim's keys
    # come with the driver rows the caller collected once; the pivot as
    # a wide Spark plan takes 5
    assert jobs <= 3
    # the wide frame is driver data: its optimized plan reads a LocalRelation
    leaf = out._jdf.queryExecution().optimizedPlan()
    while leaf.children().nonEmpty():
        leaf = leaf.children().head()
    assert leaf.nodeName() == "LocalRelation"
    # nothing cached is left behind in the long-lived session
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # observed-only columns per window (kategoria I only in April, II in
    # May, V in June): cells in pivot order, then the five marginals
    want = ["unit_id", "injection_date"]
    for w, kats in (("3m", (1, 2, 5)), ("2m", (2, 5)), ("1m", (5,))):
        want += [f"{r}_kat_{k}_{w}" for r in
                 ("budowa", "nadbudowa", "odbudowa", "rozbudowa", "wykonanie")
                 for k in kats]
        want += [f"{r}_{w}" for r in
                 ("budowa", "rozbudowa", "odbudowa", "nadbudowa", "wykonanie")]
    assert out.columns == want
    # the sink's rows, observed on its write: one per county
    assert out.written.get == {"rows": 4}
    # the footer-schema reads run no schema-inference job, and give what
    # inference gives (the fact's partition column included)
    for table in (fact, agg):
        read, jobs = _spark_jobs(spark, lambda t=table: read_parquet_table(spark, t).schema)
        assert jobs == 0 and read == spark.read.parquet(table).schema
    rows = out.collect()
    # output key set == dim key set, constructively (SURVEY §5 item 3)
    assert sorted(r.unit_id for r in rows) == ["0201", "0463", "1465", "2261"]
    cols = out.columns
    # window monotonicity: 1m ⊆ 2m ⊆ 3m per county per cell family
    for r in rows:
        d = r.asDict()
        for c3 in [c for c in cols if c.endswith("_3m")]:
            c2, c1 = c3[:-3] + "_2m", c3[:-3] + "_1m"
            if c2 in d and c1 in d:
                assert d[c1] <= d[c2] <= d[c3], (r.unit_id, c3)
    # pivot-cell sums == in-window fact rows (SURVEY §5 property check)
    # only rows whose county prefix is a known dim key survive the J2
    # anti-join (the reference's false_records drop, helpers:573-587)
    fact_df = spark.read.parquet(fact)
    in3m = fact_df.filter(
        (F.col(EVENT_TIME_COL) >= F.lit(dt.datetime(2022, 4, 1)))
        & F.substring("terc", 1, 4).isin("0201", "0463", "1465", "2261")
    ).count()
    kat_cols = [c for c in cols if "_kat_" in c and c.endswith("_3m")]
    total_cells = sum(sum(r.asDict()[c] for c in kat_cols) for r in rows)
    assert total_cells == in3m

    # --- schema evolution on a later run with a NEW kategoria ------------
    csv2 = str(tmp_path / "perms2.csv")
    _write_csv(csv2, _csv_rows(n=60, kategorias=("X",)))
    fact2 = str(tmp_path / "fact2")
    ingest_permissions(spark, csv2, fact2, dim, EXEC_DATE)
    superior_aggregates(spark, fact2, agg, dim, EXEC_DATE)
    evolved = spark.read.parquet(agg)
    new_cols = [c for c in evolved.columns if "_kat_10_" in c]
    assert new_cols, "new kategoria X must mint kat_10 columns"
    # historic rows backfilled with 0 for the new columns
    first_run = evolved.filter(F.col(new_cols[0]).isNotNull())
    assert evolved.count() == 8                      # 2 runs × 4 counties
    assert first_run.count() == 8
    assert evolved.agg(F.min(new_cols[0])).first()[0] == 0


def test_update_month_runs_five_jobs(spark, tmp_path, monkeypatch):
    """An update month of ``cli all`` runs five Spark jobs: the county
    dim's collect, the ingest's scan-and-write, the aggregate's narrow
    aggregate (two AQE jobs) and its append. The ingest's executed plan
    caches nothing and broadcasts nothing: the fuzzy city branch is a
    scan of the dim's rows inside the projection."""
    from building_permissions_etl_spark.pipeline import cli
    from building_permissions_etl_spark.pipeline import permissions as P
    from tests.plan_nodes import iter_plan_nodes

    csv, dim_path = str(tmp_path / "perms.csv"), str(tmp_path / "powiaty")
    _write_csv(csv, _csv_rows())
    spark.createDataFrame(
        [("1465", "Warsaw County"), ("0201", "Wroclaw County")],
        "JPT_KOD_JE string, JPT_NAZWA_ string").write.parquet(dim_path)
    def month(date):
        return cli.run(spark, ["all", "--date", date, "--csv", csv, "--powiaty", dim_path,
                               "--fact", str(tmp_path / "fact"), "--agg", str(tmp_path / "agg")])

    assert month("2022-06-01")["mode"] == "full"

    written = []
    write = P.write_fact_partitioned
    monkeypatch.setattr(P, "write_fact_partitioned",
                        lambda df, *a, **k: written.append(df) or write(df, *a, **k))
    result, jobs = _spark_jobs(spark, lambda: month("2022-07-01"))
    assert result["mode"] == "update" and result["total_rows"] > 0
    assert jobs == 5
    nodes = {n.nodeName() for n in iter_plan_nodes(written[0])}
    assert not nodes & {"InMemoryTableScan", "BroadcastExchange", "BroadcastNestedLoopJoin"}


def _odd_event_times():
    """Event-time text around a month window: canonical times (on the
    bounds too), ``brak daty``, padding, single-digit fields, signed and
    extra-digit years, other separators."""
    canonical = st.datetimes(dt.datetime(2022, 3, 25), dt.datetime(2022, 8, 5)).map(
        lambda d: d.strftime("%Y-%m-%d %H:%M:%S"))
    bounds = st.sampled_from([
        "2022-06-01 00:00:00", "2022-06-01 00:00:01", "2022-05-31 23:59:59",
        "2022-07-01 00:00:00", "2022-06-30 23:59:59", "2022-07-01 11:59:59",
        "2022-07-01 12:00:00", "2022-07-01 12:00:01", "2022-07-02 00:00:00",
    ])
    odd = st.sampled_from([
        "brak daty", "", "2022-06", "2022-06-15", "2022-6-15 12:00:00",
        "2022-06-5 12:00:00", "2022-06-15 1:00:00", "+2022-06-15 12:00:00",
        "02022-06-15 12:00:00", "-2022-06-15 12:00:00", "2022-06-15T12:00:00",
        "2022/06/15 12:00:00", "2022-06-15 12:00:00.5",
    ])
    padded = st.tuples(st.sampled_from([" ", "  ", "0", "\t"]), canonical, st.booleans()).map(
        lambda p: p[0] + p[1] if p[2] else p[1] + p[0])
    return st.one_of(canonical, bounds, odd, padded, st.text(max_size=12))


@pytest.mark.usefixtures("spark")
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(times=st.lists(_odd_event_times(), min_size=1, max_size=30),
       when=st.sampled_from([dt.datetime(2022, 7, 1), dt.datetime(2022, 7, 1, 12)]))
def test_event_text_prefilter_keeps_every_parsed_row(spark, times, when):
    """The update ingest's raw-text prefilter keeps every row that the
    exact parsed window keeps (a midnight and a midday logical date), so
    the A7 audit taken after both filters is the audit of the parsed
    window alone."""
    import pyarrow as pa

    t = sql_ident(EVENT_TIME_COL)
    lo = first_day_of_previous_month(when)
    n, terc = len(times), ("1465011", None, "abc", "9965011")
    # an Arrow table: a local relation, no Python worker per job
    raw = spark.createDataFrame(pa.table({
        "id": list(range(n)), EVENT_TIME_COL: times,
        "terc": [terc[i % 4] for i in range(n)],
        "jednostki_numer": pa.array([None] * n, pa.string()),
        "miasto": ["warsaw"] * n,
    }))
    window = (f"{t} > TIMESTAMP {sql_str(str(lo))}"
              f" AND {t} < TIMESTAMP {sql_str(str(when))}")
    prefilter = event_text_prefilter(lo, when)
    flags = parse_event_time(raw.selectExpr("*", f"{prefilter} AS passed")).selectExpr(
        "id", "passed", f"coalesce({window}, false) AS kept").collect()
    assert all(r.passed for r in flags if r.kept), \
        [times[r.id] for r in flags if r.kept and not r.passed]
    parsed = parse_event_time(raw).filter(window)
    prefiltered = parse_event_time(raw.filter(prefilter)).filter(window)
    dim = [("1465", "Warsaw County")]
    audit = [correction_audit_metrics(correct_terc(df, dim)).first()
             for df in (parsed, prefiltered)]
    assert audit[0] == audit[1]


def test_first_day_of_previous_month():
    assert first_day_of_previous_month(dt.datetime(2022, 7, 15)) == dt.datetime(2022, 6, 1)
    assert first_day_of_previous_month(dt.datetime(2022, 1, 3)) == dt.datetime(2021, 12, 1)


def test_superior_aggregates_excludes_future_months(spark, tmp_path):
    """Backfill safety: a re-run for an OLD logical date must not count
    rows ingested by later runs (t < execution_date upper bound)."""
    import datetime as dt

    from building_permissions_etl_spark.pipeline.permissions import (
        superior_aggregates,
    )
    from building_permissions_etl_spark.sources.sinks import (
        write_fact_partitioned,
    )

    rows = [
        # one row inside the May window, one row in the FUTURE (July)
        ("1465", "Budowa nowego/nowych obiektów budowlanych", "I",
         dt.datetime(2022, 4, 20)),
        ("1465", "Budowa nowego/nowych obiektów budowlanych", "I",
         dt.datetime(2022, 7, 10)),
    ]
    fact = spark.createDataFrame(
        rows, "terc string, rodzaj_zam_budowlanego string, kategoria string,"
              " data_wplywu_wniosku_do_urzedu timestamp")
    fact_path = str(tmp_path / "fact")
    write_fact_partitioned(fact, fact_path,
                           "data_wplywu_wniosku_do_urzedu", "terc")
    out = superior_aggregates(
        spark, fact_path, str(tmp_path / "agg"), _dim(spark, [("1465", "Warszawa")]),
        execution_date=dt.datetime(2022, 5, 1),
    )
    row = out.filter("unit_id = '1465'").collect()[0].asDict()
    counts = [v for k, v in row.items()
              if k not in ("unit_id", "injection_date")]
    # only the April row counts; the July row (after the logical date)
    # must be invisible to this run
    assert max(counts) == 1, row


def _wide_spark_aggregate(spark, fact_path, powiaty, execution_date):
    """The aggregate as one ~180-column Spark plan — observed cells from
    a small aggregate, one groupBy of conditional counts, dim completion
    by a left join, a sorted single partition: the differential oracle of
    ``superior_aggregates``, which reshapes a narrow aggregate on the
    driver instead."""
    t = sql_ident(EVENT_TIME_COL)
    end = f"TIMESTAMP {sql_str(execution_date.isoformat(' '))}"
    windows = {f"{n}m": f"{t} >= {end} - INTERVAL {n} MONTHS" for n in (3, 2, 1)}
    base = spark.read.parquet(fact_path).filter(f"{windows['3m']} AND {t} < {end}").select(
        F.substring("terc", 1, 4).alias("unit_id"),
        "rodzaj_zam_budowlanego",
        F.concat_ws("|", "rodzaj_zam_budowlanego", "kategoria").alias("cell"),
        EVENT_TIME_COL,
    )
    seen = base.groupBy("cell").agg(
        *[F.expr(f"max({p}) AS {sql_ident(s)}") for s, p in windows.items()]).collect()
    counts = []
    for s, p in windows.items():
        counts += windowed_count_exprs(
            "cell", sorted(r["cell"] for r in seen if r[s]), {s: p}, alias_fmt=_cell_column)
        counts += windowed_count_exprs(
            "rodzaj_zam_budowlanego", EXPECTED_RODZAJ_TYPES, {s: p},
            alias_fmt=lambda r, w: sanitize_column_names([f"{_short_rodzaj(r)}_{w}"])[0])
    inj = execution_date.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3] + " UTC"
    agg = base.groupBy("unit_id").agg(F.lit(inj).alias("injection_date"), *counts)
    return complete_via_left_join(
        agg, powiaty.select("JPT_KOD_JE"), "unit_id", "JPT_KOD_JE",
        fill_values={"injection_date": sql_str(inj)},
    ).coalesce(1).sortWithinPartitions("unit_id")


def test_aggregate_matches_wide_spark_plan(spark, tmp_path):
    """The driver reshape of the narrow aggregate gives the columns
    (names, order, types) and the ordered rows of the wide Spark plan,
    on the edge cases of its cells, units and dim keys."""
    r0, r1, r2, r3 = EXPECTED_RODZAJ_TYPES[:4]
    rows = [
        ("1465011", r0, "I", dt.datetime(2022, 4, 20)),     # every window
        ("1465011", r1, "II", dt.datetime(2022, 3, 10)),    # 3m and 2m
        ("1465011", r0, "I", dt.datetime(2022, 1, 15)),     # before the windows
        ("1465011", r0, "I", dt.datetime(2022, 5, 10)),     # after the logical date
        ("0201011", r0, None, dt.datetime(2022, 2, 10)),    # NULL kategoria
        ("0201011", None, "III", dt.datetime(2022, 4, 2)),  # NULL rodzaj
        ("9999011", r2, "IV", dt.datetime(2022, 4, 3)),     # unit outside the dim
        (None, r3, "V", dt.datetime(2022, 4, 4)),           # NULL unit
        ("1465011", "Rozbiórka `x' \\ y", "Ź'\\`", dt.datetime(2022, 3, 5)),
    ]
    fact = spark.createDataFrame(
        rows, "terc string, rodzaj_zam_budowlanego string, kategoria string,"
              " data_wplywu_wniosku_do_urzedu timestamp")
    fact_path = str(tmp_path / "fact")
    write_fact_partitioned(fact, fact_path, EVENT_TIME_COL, "terc")
    powiaty = spark.createDataFrame(
        [("1465",), ("2261",), (None,), ("0201",), ("1465",)], "JPT_KOD_JE string")
    when = dt.datetime(2022, 5, 1)

    dim = county_dim(powiaty.selectExpr("JPT_KOD_JE", "CAST(NULL AS STRING) AS JPT_NAZWA_"))
    out = superior_aggregates(spark, fact_path, str(tmp_path / "agg"), dim, when)
    want = _wide_spark_aggregate(spark, fact_path, powiaty, when)
    assert out.schema == want.schema
    got = out.collect()
    assert got == want.collect()
    assert [r.unit_id for r in got] == [None, "0201", "1465", "1465", "2261"]
    assert "Rozbiórka_`x'_\\_y|Ź'\\`_3m" in out.columns


def test_aggregate_quotes_cell_text(spark, tmp_path):
    """Cell values reach the aggregate as SQL text: quotes, backslashes,
    backticks and Polish letters must neither break the plan nor change
    the column name or the counts."""
    from building_permissions_etl_spark.sources.sinks import (
        write_fact_partitioned,
    )

    rodzaj, kat = "Rozbiórka `x' \\ żółć/ł", "Ź'\\`"
    rows = [
        ("1465", rodzaj, kat, dt.datetime(2022, 4, 20)),  # in every window
        ("0201", rodzaj, kat, dt.datetime(2022, 1, 15)),  # before the 3m window
    ]
    fact = spark.createDataFrame(
        rows, "terc string, rodzaj_zam_budowlanego string, kategoria string,"
              " data_wplywu_wniosku_do_urzedu timestamp")
    fact_path = str(tmp_path / "fact")
    write_fact_partitioned(fact, fact_path,
                           "data_wplywu_wniosku_do_urzedu", "terc")
    out = superior_aggregates(spark, fact_path, str(tmp_path / "agg"),
                              _dim(spark, [("1465", "Warszawa"), ("0201", "Wroclaw")]),
                              dt.datetime(2022, 5, 1))
    name = "Rozbiórka_`x'_\\_żółć_ł|Ź'\\`_3m"
    assert name in out.columns
    counts = {r.unit_id: r[name] for r in out.collect()}
    assert counts == {"1465": 1, "0201": 0}
    # the sink reads back the same column name
    assert name in spark.read.parquet(str(tmp_path / "agg")).columns


def test_probe_raises_on_unreadable_sink(spark, tmp_path):
    """A table that exists but cannot be read is not "missing": the
    schema-evolving append must raise and leave the sink untouched
    instead of overwriting it."""
    from py4j.protocol import Py4JJavaError

    from building_permissions_etl_spark.sources.sinks import (
        append_with_schema_evolution,
    )

    path = tmp_path / "sink"
    path.mkdir()
    corrupt = path / "part-00000-corrupt.snappy.parquet"
    corrupt.write_bytes(b"not a parquet file")
    df = spark.createDataFrame([("a", "2022", 1)],
                               "unit_id string, injection_date string, n int")
    with pytest.raises(Py4JJavaError, match="CANNOT_READ_FILE_FOOTER"):
        append_with_schema_evolution(spark, df, str(path),
                                     key_cols=("unit_id", "injection_date"))
    assert corrupt.read_bytes() == b"not a parquet file"
    assert sorted(p.name for p in path.iterdir()) == [corrupt.name]


def test_probe_zero_row_sink_is_empty(spark, tmp_path):
    """A sink holding only a zero-row parquet file is "empty": the
    append overwrites it with the new rows and their schema."""
    path = str(tmp_path / "sink")
    spark.createDataFrame([], "unit_id string, injection_date string, old int") \
        .write.parquet(path)
    assert [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert not table_exists_nonempty(spark, path)
    df = spark.createDataFrame([("a", "2022", 1)],
                               "unit_id string, injection_date string, n int")
    append_with_schema_evolution(spark, df, path, key_cols=KEYS)
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [("a", "2022", 1)]
    assert spark.read.parquet(path).columns == ["unit_id", "injection_date", "n"]


def test_schema_growth_commits_through_staging(spark, tmp_path):
    """A growing schema rewrites the table once, through a staging
    directory and two renames that leave nothing beside the table."""
    path = tmp_path / "sink"
    first = spark.createDataFrame([("a", "2022-01", 1)],
                                  "unit_id string, injection_date string, n int")
    grown = spark.createDataFrame([("b", "2022-02", 2, 3)],
                                  "unit_id string, injection_date string, n int, m int")
    append_with_schema_evolution(spark, first, str(path), key_cols=KEYS)
    append_with_schema_evolution(spark, grown, str(path), key_cols=KEYS)
    rows = sorted(tuple(r) for r in spark.read.parquet(str(path)).collect())
    assert rows == [("a", "2022-01", 1, 0), ("b", "2022-02", 2, 3)]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["sink"]


def test_interrupted_swap_is_never_lost(spark, tmp_path):
    """A ``__previous__`` directory is left only by a crash inside the
    rename commit and may hold the only complete table: the next append
    raises, names both directories, and touches neither."""
    path, previous = tmp_path / "sink", tmp_path / "sink.__previous__"
    first = spark.createDataFrame([("a", "2022-01", 1)],
                                  "unit_id string, injection_date string, n int")
    append_with_schema_evolution(spark, first, str(path), key_cols=KEYS)
    append_with_schema_evolution(spark, first, str(previous), key_cols=KEYS)
    before = _tree(path), _tree(previous)
    grown = spark.createDataFrame([("b", "2022-02", 2, 3)],
                                  "unit_id string, injection_date string, n int, m int")
    with pytest.raises(RuntimeError, match="sink.__previous__ exists.*sink "):
        append_with_schema_evolution(spark, grown, str(path), key_cols=KEYS)
    assert (_tree(path), _tree(previous)) == before
    assert sorted(p.name for p in tmp_path.iterdir()) == ["sink", "sink.__previous__"]


def test_schema_evolution_refuses_to_zero_fill_keys(spark, tmp_path):
    import pytest as _pytest

    from building_permissions_etl_spark.sources.sinks import (
        append_with_schema_evolution,
    )

    path = str(tmp_path / "sink")
    first = spark.createDataFrame([("a", "2022", 1)],
                                  "unit_id string, injection_date string, n int")
    append_with_schema_evolution(spark, first, path,
                                 key_cols=("unit_id", "injection_date"))
    # second batch LOST a key column — must raise, not materialize '0' keys
    second = spark.createDataFrame([("b", 2)], "unit_id string, n int")
    with _pytest.raises(ValueError, match="key column"):
        append_with_schema_evolution(spark, second, path,
                                     key_cols=("unit_id", "injection_date"))


def test_zorder_key_never_overflows_sign_bit(spark):
    from building_permissions_etl_spark.sources.sinks import zorder_value
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        (F.col("id") * 7 % 65536).alias("a"), (F.col("id") * 13 % 65536).alias("b"),
        (F.col("id") * 17 % 65536).alias("c"), (F.col("id") * 23 % 65536).alias("d"),
    )
    z = zorder_value([F.col(c) for c in df.columns],
                     [0, 0, 0, 0], [65535, 65535, 65535, 65535], bits=16)
    mn = df.select(F.min(z).alias("m")).first()["m"]
    assert mn >= 0  # 4x16 bits would hit the sign bit; capped to 4x15


def test_validation_mostly_vacuous_success_on_all_null(spark):
    from building_permissions_etl_spark.operators.validation import (
        Expectation,
        ExpectationSuite,
    )

    df = spark.createDataFrame([(None,), (None,)], "terc string")
    suite = ExpectationSuite(expectations=(
        Expectation("terc_mostly_numeric", "regex_mostly", "terc",
                    regex=r"^\d{6,7}$", mostly=0.85),
    ))
    row = suite.evaluate(df).first()
    assert row["terc_mostly_numeric"] is True  # GE vacuous-success parity

"""Job entry points — the spark-submit surface of the engine.

The reference runs five Airflow tasks on a monthly cron
(dags/aggregates_python.py:39-93); here each is a parameterized Spark job
and the scheduler stays external (cron/Airflow/Dagster calling
``spark-submit`` or ``python -m building_permissions_etl_spark.pipeline``):

    download  — S1 HTTP ZIP fetch+extract (driver-side prep)
    validate  — V1-V4 expectation suite → HTML report
    ingest    — CSV → terc correction → month-partitioned fact write
    aggregate — the flagship multi-window aggregate → evolving sink
    viz       — nb:21/nb:25 reporting: lookback choropleth, monthly
                animation, category bar chart → SVG files (no plotting
                libraries needed; see operators/choropleth.py)
    all       — ingest → aggregate in sequence, reading the county dim
                once: one collect of its codes and names (its schema
                from a parquet footer, no job) feeds the terc
                correction and the aggregate's dim completion; the
                result carries the ingest audit and the aggregate rows
                observed on the sink's write (no validation: run
                ``validate`` separately)

Logical time comes ONLY from ``--date`` (the reference threads Airflow's
execution_date the same way; wall-clock never drives data logic).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json

from pyspark.sql import SparkSession


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="building_permissions_etl_spark.pipeline",
        description="Run one ETL task for a logical date",
    )
    p.add_argument("task", choices=["download", "validate", "ingest",
                                    "aggregate", "viz", "all"])
    p.add_argument("--date", required=True,
                   help="logical execution date, YYYY-MM-DD[ HH:MM:SS]")
    p.add_argument("--zip-url")
    p.add_argument("--zip-path", default="/tmp/permissions.zip")
    p.add_argument("--extract-to", default="/tmp/permissions_csv")
    p.add_argument("--csv", help="permissions CSV path (ingest/validate)")
    p.add_argument("--fact", help="fact table path (ingest/aggregate)")
    p.add_argument("--agg", help="aggregate table path (aggregate)")
    p.add_argument("--powiaty", help="county dim path (parquet with "
                                     "JPT_KOD_JE / JPT_NAZWA_ columns)")
    p.add_argument("--report", default="/tmp/validation_report.html")
    p.add_argument("--viz-out", default="/tmp/permits_viz",
                   help="directory for viz task SVG output")
    p.add_argument("--days", type=int, default=90,
                   help="lookback window for the viz choropleth")
    return p


def _parse_date(s: str) -> dt.datetime:
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise SystemExit(f"unparseable --date {s!r}")


def run(spark: SparkSession, argv: list[str]) -> dict:
    """Execute one task; returns a result dict (printed as JSON by main)."""
    ns = build_parser().parse_args(argv)
    exec_date = _parse_date(ns.date)

    if ns.task == "download":
        from building_permissions_etl_spark.sources.http_zip import download_and_unpack_zip

        files = download_and_unpack_zip(ns.zip_url, ns.zip_path, ns.extract_to)
        return {"task": "download", "files": files}

    if ns.task == "validate":
        from building_permissions_etl_spark.functions.roman import ROMAN_SET
        from building_permissions_etl_spark.operators.validation import (
            Expectation,
            ExpectationSuite,
        )
        from building_permissions_etl_spark.schemas import (
            EVENT_TIME_COL,
            EXPECTED_RODZAJ_TYPES,
        )
        from building_permissions_etl_spark.sources.csv_source import read_permissions_csv

        df = read_permissions_csv(spark, ns.csv)
        suite = ExpectationSuite(expectations=(
            Expectation("event_time_shape", "regex", EVENT_TIME_COL,
                        regex=r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"),
            Expectation("kategoria_in_set", "in_set", "kategoria",
                        value_set=tuple(sorted(ROMAN_SET))),
            Expectation("terc_mostly_numeric", "regex_mostly", "terc",
                        regex=r"^\d{6,7}$", mostly=0.85),
            Expectation("rodzaj_distinct_subset", "distinct_in_set",
                        "rodzaj_zam_budowlanego",
                        value_set=tuple(EXPECTED_RODZAJ_TYPES)),
        ))
        rep = suite.render_html(df, ns.report)
        return {"task": "validate", "report": ns.report, **rep}

    if ns.task in ("ingest", "aggregate", "all"):
        from building_permissions_etl_spark.pipeline import permissions
        from building_permissions_etl_spark.sources.sinks import read_parquet_table

        dim = permissions.county_dim(read_parquet_table(spark, ns.powiaty))
        result = {"task": ns.task}
        if ns.task != "aggregate":
            result.update(permissions.ingest_permissions(
                spark, ns.csv, ns.fact, dim, exec_date))
        if ns.task != "ingest":
            out = permissions.superior_aggregates(spark, ns.fact, ns.agg, dim, exec_date)
            # the rows the sink wrote, observed during its write: counting
            # the returned frame (or the dim) would be another job
            result["aggregate_rows"] = out.written.get["rows"]
        return result

    if ns.task == "viz":
        import os

        from pyspark.sql import functions as F

        from building_permissions_etl_spark.operators.choropleth import (
            render_animation,
            render_bar_chart,
            render_choropleth,
        )
        from building_permissions_etl_spark.schemas import EVENT_TIME_COL
        from building_permissions_etl_spark.sources.geo import dissolve_wkt

        fact = spark.read.parquet(ns.fact).withColumn(
            "voivodeship", F.substring("terc", 1, 2)
        ).withColumn("__ts", F.col(EVENT_TIME_COL).cast("timestamp"))
        powiaty = spark.read.parquet(ns.powiaty)
        # the reference's powiaty table stores WKT under 'geometry'
        # (helpers:778); the engine dim calls it 'wkt' — accept both
        wkt_col = "wkt" if "wkt" in powiaty.columns else "geometry"
        dim_wkt = {
            r["voivodeship"]: r["wkt"]
            for r in dissolve_wkt(powiaty, wkt_col=wkt_col).collect()
        }

        # lookback choropleth, anchored at the max date in the data (F6)
        mx = fact.agg(F.max("__ts")).first()[0]
        recent = fact.filter(
            F.col("__ts") >= F.lit(mx) - F.expr(f"INTERVAL {ns.days} DAYS")
        )
        counts = {
            r["voivodeship"]: r["n"]
            for r in recent.groupBy("voivodeship")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        feats = [(v, w, float(counts.get(v, 0.0))) for v, w in dim_wkt.items()]

        # one animation frame per month over the whole fact
        months = (
            fact.groupBy(F.date_format("__ts", "yyyy-MM").alias("month"),
                         "voivodeship")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_month: dict = {}
        for r in months:
            if r["month"] is not None:
                by_month.setdefault(r["month"], {})[r["voivodeship"]] = r["n"]
        frames = [
            (m, [(v, w, float(by_month[m].get(v, 0.0)))
                 for v, w in dim_wkt.items()])
            for m in sorted(by_month)
        ]

        cats = fact.groupBy("kategoria").agg(
            F.count(F.lit(1)).alias("n")
        ).orderBy(F.desc("n"), "kategoria").collect()

        os.makedirs(ns.viz_out, exist_ok=True)
        renders = []
        if dim_wkt:
            renders.append((f"choropleth_last_{ns.days}d.svg",
                            lambda: render_choropleth(
                                feats,
                                title=f"Permits by voivodeship, "
                                      f"last {ns.days} days")))
        if frames:
            renders.append(("choropleth_monthly.svg",
                            lambda: render_animation(
                                frames,
                                title="Permits by voivodeship, monthly")))
        if cats:
            renders.append(("categories_bar.svg",
                            lambda: render_bar_chart(
                                [(str(r["kategoria"]), float(r["n"]))
                                 for r in cats],
                                title="Building Permit Categories")))
        outputs = {}
        for name, render in renders:
            path = os.path.join(ns.viz_out, name)
            with open(path, "w", encoding="utf-8") as f:
                f.write(render())
            outputs[name] = path
        return {"task": "viz", "outputs": outputs,
                "months": len(frames), "voivodeships": len(dim_wkt)}

    raise SystemExit(f"unhandled task {ns.task}")


def main(argv: list[str] | None = None) -> None:
    import sys

    from building_permissions_etl_spark.session import get_spark

    result = run(get_spark(), argv if argv is not None else sys.argv[1:])
    print(json.dumps(result, default=str))

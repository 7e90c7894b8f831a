"""The spark-submit CLI surface: each task runs end to end with a
logical date and filesystem paths, like the reference's DAG tasks."""

import zipfile

from building_permissions_etl_spark.pipeline.cli import run
from tests.test_pipeline import _csv_rows, _write_csv


def _powiaty_parquet(spark, tmp_path):
    rows = [("1465", "Warsaw County", "P"), ("0201", "Wroclaw County", "P"),
            ("0463", "Krakow County", "P"), ("2261", "Gdansk County", "P")]
    p = str(tmp_path / "powiaty")
    spark.createDataFrame(rows, ["JPT_KOD_JE", "JPT_NAZWA_", "geometry"]).write.parquet(p)
    return p


def test_cli_download(spark, tmp_path):
    src = tmp_path / "data.zip"
    with zipfile.ZipFile(src, "w") as zf:
        zf.writestr("perms.csv", "a#b\n1#2\n")
    out = run(spark, [
        "download", "--date", "2022-07-01",
        "--zip-url", src.as_uri(),
        "--zip-path", str(tmp_path / "dl.zip"),
        "--extract-to", str(tmp_path / "ex"),
    ])
    assert out["task"] == "download" and len(out["files"]) == 1


def test_cli_validate_ingest_aggregate(spark, tmp_path):
    csv = str(tmp_path / "perms.csv")
    _write_csv(csv, _csv_rows())
    powiaty = _powiaty_parquet(spark, tmp_path)
    fact, agg = str(tmp_path / "fact"), str(tmp_path / "agg")
    report = str(tmp_path / "report.html")

    v = run(spark, ["validate", "--date", "2022-07-01", "--csv", csv,
                    "--report", report])
    assert v["task"] == "validate"
    assert "results" in v and open(report).read().startswith("<html>")

    i = run(spark, ["ingest", "--date", "2022-07-01", "--csv", csv,
                    "--fact", fact, "--powiaty", powiaty])
    assert i["task"] == "ingest" and i["mode"] == "full"

    a = run(spark, ["aggregate", "--date", "2022-07-01", "--fact", fact,
                    "--agg", agg, "--powiaty", powiaty])
    assert a["aggregate_rows"] == 4   # one row per county, completed

    everything = run(spark, ["all", "--date", "2022-07-01", "--csv", csv,
                             "--fact", fact, "--agg", agg, "--powiaty", powiaty])
    assert everything["task"] == "all" and everything["aggregate_rows"] == 4
    # ... and reports the ingest it ran: the same audit keys as `ingest`
    assert everything["mode"] == "update" and everything["total_rows"] > 0
    assert set(everything) == set(i) | {"aggregate_rows"}


def test_notify_file_outbox(tmp_path):
    from building_permissions_etl_spark.pipeline.notify import (
        FileOutboxTransport,
        send_run_report,
    )
    import datetime as dt
    import json

    report = tmp_path / "r.html"
    report.write_text("<html>ok</html>")
    path = send_run_report(
        FileOutboxTransport(str(tmp_path / "outbox")),
        to=["ops@example.com"],
        subject="ETL run 2022-07-01",
        html_body="<b>done</b>",
        attachment_paths=[str(report)],
        logical_date=dt.datetime(2022, 7, 1),
    )
    msg = json.loads(open(path).read())
    assert msg["to"] == ["ops@example.com"]
    assert msg["attachments"]["r.html"] == "<html>ok</html>"
    assert msg["logical_date"].startswith("2022-07-01")


def test_cli_viz_renders_svgs(spark, tmp_path):
    """nb:21/nb:25 reporting as an engine task: fact → lookback
    choropleth + monthly animation + category bar chart, all SVG."""
    csv = str(tmp_path / "perms.csv")
    _write_csv(csv, _csv_rows())
    wkts = {
        "1465": "POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))",
        "0201": "POLYGON ((2 0, 2 1, 3 1, 3 0, 2 0))",
        "0463": "POLYGON ((0 2, 0 3, 1 3, 1 2, 0 2))",
        "2261": "POLYGON ((2 2, 2 3, 3 3, 3 2, 2 2))",
    }
    rows = [(code, f"County {code}", wkt) for code, wkt in wkts.items()]
    powiaty = str(tmp_path / "powiaty_wkt")
    spark.createDataFrame(
        rows, ["JPT_KOD_JE", "JPT_NAZWA_", "geometry"]
    ).write.parquet(powiaty)
    fact = str(tmp_path / "fact")
    run(spark, ["ingest", "--date", "2022-07-01", "--csv", csv,
                "--fact", fact, "--powiaty", powiaty])

    out = run(spark, ["viz", "--date", "2022-07-01", "--fact", fact,
                      "--powiaty", powiaty,
                      "--viz-out", str(tmp_path / "viz")])
    assert out["task"] == "viz" and out["months"] >= 1
    assert set(out["outputs"]) == {
        "choropleth_last_90d.svg", "choropleth_monthly.svg",
        "categories_bar.svg",
    }
    for path in out["outputs"].values():
        svg = open(path).read()
        assert svg.startswith("<svg ") and svg.endswith("</svg>")
    choro = open(out["outputs"]["choropleth_last_90d.svg"]).read()
    # one path per voivodeship present in the dim
    assert choro.count("<path ") == len({c[:2] for c in wkts})

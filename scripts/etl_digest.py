"""Digest of a replayed monthly ETL, for parity checks between checkouts.

    python3 scripts/etl_digest.py [--seed 3] [--rows 1000] [--months 6 14]

Runs ``cli.run(["all", ...])`` for logical months A..B over the inputs
``perfbench/permits.py`` generates, in one Spark session, and prints one
JSON line: the CLI results, the aggregate's columns, the row counts and
sha256 digests of the sorted aggregate and fact rows, and any directory
left beside the two tables.
"""

import argparse
import hashlib
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import permits  # noqa: E402
from run import cores, start_session  # noqa: E402


def _rows(df) -> dict:
    lines = sorted(json.dumps(list(r), default=str, ensure_ascii=False) for r in df.collect())
    return {"rows": len(lines), "sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest()}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=3)
    p.add_argument("--rows", type=int, default=1000, help="CSV rows per month")
    p.add_argument("--months", type=int, nargs=2, default=(6, 14), metavar=("A", "B"))
    ns = p.parse_args()
    from building_permissions_etl_spark.pipeline import cli

    with tempfile.TemporaryDirectory() as work:
        spark = start_session("etl-digest", cores(), work)
        inputs, wh = os.path.join(work, "inputs"), os.path.join(work, "warehouse")
        permits.generate(inputs, ns.seed, ns.rows)
        results = [cli.run(spark, [
            "all", "--date", permits.exec_date(m),
            "--csv", os.path.join(inputs, "permissions.csv"),
            "--powiaty", os.path.join(inputs, "powiaty.parquet"),
            "--fact", os.path.join(wh, "fact"), "--agg", os.path.join(wh, "agg"),
        ]) for m in range(ns.months[0], ns.months[1] + 1)]
        agg = spark.read.parquet(os.path.join(wh, "agg"))
        print(json.dumps({
            "results": results, "agg_columns": agg.columns, "agg": _rows(agg),
            "fact": _rows(spark.read.parquet(os.path.join(wh, "fact"))),
            "leftovers": sorted(set(os.listdir(wh)) - {"agg", "fact"}),
        }, default=str, sort_keys=True))
        spark.stop()


if __name__ == "__main__":
    main()

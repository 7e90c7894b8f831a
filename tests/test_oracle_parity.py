"""Local mirror of the driver's t2 correctness gate: run every
``queries()`` entry AND its ``oracle_sql()`` on the same parquet via
DuckDB; compare row count, column names, and an order-insensitive value
comparison (column-name-sorted, row-sorted, floats rounded)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _duck_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, int):
        return int(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, list):
        return tuple(_normalize_cell(x) for x in v)
    return str(v)


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_normalize_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    con = _duck_con()
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b][:5]
    assert ns == nd, f"{name}: value mismatch, first diffs: {mismatches}"


def test_every_query_runs(spark):
    """Every query runs and counts. The queries without an oracle are
    run only here; the oracle-backed ones run a second time in the same
    session, and ``count()`` is planned apart from ``collect()`` (Spark
    prunes the columns down to the aggregate)."""
    for name, fn in QUERIES.items():
        df = fn(spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0

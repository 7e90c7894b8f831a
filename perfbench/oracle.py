"""Output checks for the query workloads: each registry query against
its DuckDB oracle SQL, compared the way ``tests/test_oracle_parity.py``
compares them (sorted column names, row count, then rows column-sorted,
row-sorted and normalised: floats rounded to 6 places, timestamps by
ISO string)."""

from __future__ import annotations

import math

from tables import TABLES


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, int):
        return int(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, list):
        return tuple(_cell(x) for x in v)
    return str(v)


def normalize(rows, columns) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)


class Oracle:
    """A DuckDB connection with one view per fixture table."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.expected: dict[str, tuple] = {}    # sql → (columns, normalised rows)
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def close(self) -> None:
        self.con.close()

    def mismatch(self, spark_cols, spark_rows, sql: str | None) -> str | None:
        """None when the Spark result matches the oracle; else a one-line
        reason. A query without oracle SQL (rows-only sketch twins) must
        return at least one row."""
        if sql is None:
            return None if spark_rows else "rows-only query returned no rows"
        if sql not in self.expected:
            res = self.con.execute(sql)
            cols = [d[0] for d in res.description]
            self.expected[sql] = cols, normalize(res.fetchall(), cols)
        duck_cols, b = self.expected[sql]
        if sorted(spark_cols) != sorted(duck_cols):
            return f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"
        if len(spark_rows) != len(b):
            return f"row count {len(spark_rows)} != {len(b)}"
        a = normalize(spark_rows, spark_cols)
        for x, y in zip(a, b):
            if x != y:
                return f"first differing row {x!r} != {y!r}"
        return None

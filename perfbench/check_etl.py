"""Output checks for ``monthly_etl``: the loaded warehouse against the
generator's ground truth, read with pyarrow (no Spark).

* fact: rows per ``month=`` partition equal the surviving CSV rows of
  that month, for every month the run loaded;
* aggregate: for every injection date, one row per county of the dim,
  and every count column equal to the ground-truth count of its
  (rodzaj, kategoria) cell — or of the rodzaj marginal — over the 3-,
  2- or 1-month window before the logical date (0 where the window has
  no such rows).
"""

from __future__ import annotations

import os
import re
from collections import defaultdict

import pyarrow.parquet as pq

import permits

_ROMAN_INT = {r: i + 1 for i, r in enumerate(permits.ROMAN)}
_WINDOWS = {"3m": 3, "2m": 2, "1m": 1}
_COL = re.compile(r"^(?P<rodzaj>[a-z]+)(?:_kat_(?P<kat>\d+))?_(?P<win>[123]m)$")


def _short(rodzaj: str) -> str:
    return rodzaj.split(" ")[0].split("/")[0]


def fact_month_rows(fact_dir: str) -> dict[str, int]:
    out = {}
    for d in os.listdir(fact_dir):
        if not d.startswith("month="):
            continue
        part = os.path.join(fact_dir, d)
        out[d[len("month="):]] = sum(
            pq.ParquetFile(os.path.join(part, f)).metadata.num_rows
            for f in os.listdir(part) if f.endswith(".parquet"))
    return out


def expected_injection(truth: dict, m: int) -> dict[str, dict[str, int]]:
    """county → column → count for the aggregate run at month ``m``."""
    want: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    labels = {permits.month_label(m - k): k for k in range(1, 4)}
    for key, n in truth["cells"].items():
        county, label, rodzaj, kat = key.split("|")
        back = labels.get(label)
        if back is None:
            continue
        short = _short(rodzaj)
        for win, width in _WINDOWS.items():
            if back <= width:
                want[county][f"{short}_kat_{_ROMAN_INT[kat]}_{win}"] += n
                want[county][f"{short}_{win}"] += n
    return want


def check_warehouse(warehouse: str, truth: dict, months: list[str],
                    injections: list[int]) -> dict[str, str]:
    """Month label or injection date → reason, for each that is wrong.
    ``months`` and ``injections`` (logical month indices) are what the
    completed ops should have produced."""
    bad: dict[str, str] = {}
    got = fact_month_rows(os.path.join(warehouse, "fact"))
    for label in months:
        if got.get(label) != truth["months"].get(label):
            bad[label] = f"fact rows {got.get(label)} != {truth['months'].get(label)}"
    for label in set(got) - set(months):
        bad[label] = f"unexpected fact month with {got[label]} rows"

    rows = pq.read_table(os.path.join(warehouse, "agg")).to_pylist()
    by_date = defaultdict(list)
    for r in rows:
        by_date[r["injection_date"][:10]].append(r)
    counties = set(permits.counties())
    for m in injections:
        date = permits.exec_date(m)
        inj = by_date.pop(date, [])
        if {r["unit_id"] for r in inj} != counties or len(inj) != len(counties):
            bad[date] = f"{len(inj)} aggregate rows, expected one per county"
            continue
        want = expected_injection(truth, m)
        for r in inj:
            reason = _row_mismatch(r, want.get(r["unit_id"], {}))
            if reason:
                bad[date] = f"county {r['unit_id']}: {reason}"
                break
    for date in by_date:
        bad[date] = "unexpected injection date"
    return bad


def _row_mismatch(row: dict, want: dict[str, int]) -> str | None:
    seen = set()
    for col, v in row.items():
        if col in ("unit_id", "injection_date"):
            continue
        if not _COL.match(col):
            return f"unexpected column {col}"
        seen.add(col)
        if v != want.get(col, 0):
            return f"{col} = {v}, expected {want.get(col, 0)}"
    missing = [c for c, n in want.items() if n and c not in seen]
    return f"missing columns {missing[:3]}" if missing else None

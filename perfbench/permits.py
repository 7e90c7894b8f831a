"""Seeded generator for the ``monthly_etl`` inputs.

Produces a reference-shaped permits CSV (``#``-delimited, header row,
the 26 columns of ``schemas.PERMISSIONS_CSV_COLUMNS``) spanning
``N_MONTHS`` months, a 380-county powiaty parquet, and the ground truth
the loaded warehouse must match: surviving-row counts per
(county, month, rodzaj, kategoria).

Every branch of the terc-correction tree is planted: valid 7-digit
codes, 6-digit codes that need the zero pad, the ``.0`` float artefact
on both, the ``jednostki_numer`` fallback, the case-insensitive fuzzy
``miasto`` match, and the three dropped classes (``Unknown``,
``Unknown2``, ``Unknown3``), plus unparseable dates. The kategoria domain
grows by one numeral every ``KAT_GROWTH_MONTHS`` months, so the months
that introduce a numeral force the aggregate sink's schema-growth
rewrite and the others take the plain append.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# copies of building_permissions_etl_spark.schemas: the inputs belong to
# the benchmark and must not move when the program changes; a test pins
# that the program still expects exactly these
CSV_COLUMNS = [
    "numer_ewidencyjny_system", "numer_ewidencyjny_urzad",
    "data_wplywu_wniosku_do_urzedu", "nazwa_organu", "wojewodztwo_objekt",
    "obiekt_kod_pocztowy", "miasto", "terc", "cecha", "cecha2", "ulica",
    "ulica_dalej", "nr_domu", "kategoria", "nazwa_zam_budowlanego",
    "rodzaj_zam_budowlanego", "kubatura", "stan", "jednostki_numer",
    "obreb_numer", "numer_dzialki", "numer_arkusza_dzialki",
    "nazwisko_projektanta", "imie_projektanta",
    "projektant_numer_uprawnien", "projektant_pozostali",
]
VOIVODESHIPS = ["02", "04", "06", "08", "10", "12", "14", "16",
                "18", "20", "22", "24", "26", "28", "30", "32"]
RODZAJ = [
    "budowa nowego/nowych obiektów budowlanych",
    "rozbudowa istniejącego/istniejących obiektów budowlanych",
    "odbudowa istniejącego/istniejących obiektów budowlanych",
    "nadbudowa istniejącego/istniejących obiektów budowlanych",
    "wykonanie robót budowlanych innych niż wymienione powyżej",
]
ROMAN = ["I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX", "X",
         "XI", "XII", "XIII", "XIV", "XV", "XVI", "XVII", "XVIII", "XIX", "XX"]

N_COUNTIES = 380
N_MONTHS = 24
FIRST_MONTH = (2021, 1)
BASE_KATS = 5
KAT_GROWTH_MONTHS = 2

# row branches and their shares; the first six survive the load
BRANCHES = (
    ("valid7", 0.36), ("six_digit", 0.08), ("float7", 0.10),
    ("float6", 0.04), ("jednostki", 0.10), ("fuzzy", 0.10),
    ("unknown", 0.04), ("unknown2", 0.06), ("unknown3", 0.06),
    ("bad_date", 0.06),
)
SURVIVING = frozenset({"valid7", "six_digit", "float7", "float6", "jednostki", "fuzzy"})


def month_label(m: int) -> str:
    y, mo = divmod(FIRST_MONTH[0] * 12 + FIRST_MONTH[1] - 1 + m, 12)
    return f"{y:04d}-{mo + 1:02d}"


def exec_date(m: int) -> str:
    """Logical date whose run loads month ``m - 1`` (the first day of
    month ``m``)."""
    return month_label(m) + "-01"


def kats_in_month(m: int) -> list[str]:
    return ROMAN[:BASE_KATS + m // KAT_GROWTH_MONTHS]


def counties() -> list[str]:
    """380 four-digit county codes spread over the 16 voivodeships."""
    out = []
    for i in range(N_COUNTIES):
        v = VOIVODESHIPS[i % len(VOIVODESHIPS)]
        out.append(f"{v}{i // len(VOIVODESHIPS) + 1:02d}")
    return out


def city_of(county: str) -> str:
    # fixed width, so one county name never contains another's city
    return f"Miasto{county}"


def write_powiaty(path: str) -> None:
    codes = counties()
    pq.write_table(pa.table({
        "JPT_KOD_JE": codes,
        "JPT_NAZWA_": [f"powiat {city_of(c).lower()}" for c in codes],
        "geometry": [f"POLYGON (({i} 0, {i + 1} 0, {i + 1} 1, {i} 1, {i} 0))"
                     for i in range(len(codes))],
    }), path)


def _terc_fields(branch: str, county: str, gmina: str, coin: bool):
    """(terc, jednostki_numer, miasto) for one row of ``branch``."""
    code7 = county + gmina
    city = city_of(county)
    if branch == "valid7":
        return code7, f"{county}{gmina}_1", city
    if branch == "six_digit":
        return code7[1:], "", city
    if branch == "float7":
        return code7 + ".0", "", city
    if branch == "float6":
        return code7[1:] + ".0", "", city
    if branch == "jednostki":
        return ("nan" if coin else ""), f"{county}{gmina}_2", "Nowhere"
    if branch == "fuzzy":
        return "", ("nan" if coin else ""), (city.upper() if coin else city.lower())
    if branch == "unknown":
        return "", "", "Nowhere"
    if branch == "unknown2":
        return "99" + gmina + "01", "", city
    if branch == "unknown3":
        return f"{county[:2]}x{gmina}", "", city
    if branch == "bad_date":
        return code7, "", city
    raise ValueError(branch)


def generate(out_dir: str, seed: int, rows_per_month: int) -> dict:
    """Write ``permissions.csv``, ``powiaty.parquet`` and
    ``ground_truth.json`` under ``out_dir``; returns the ground truth:
    ``{"cells": {"county|month|rodzaj|kategoria": n}, "months": {month:
    n}, "loaded_bytes": {month: n}, "csv_rows": n}``, where cells and
    months count the rows a correct load keeps and loaded_bytes is the
    size of their CSV lines."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    codes = counties()
    # the 6-digit branches only make sense for codes with a leading 0
    zero_codes = [c for c in codes if c.startswith("0")]
    names = [b for b, _ in BRANCHES]
    probs = np.array([p for _, p in BRANCHES])
    probs /= probs.sum()
    cells: Counter = Counter()
    loaded_bytes: Counter = Counter()
    lines = ["#".join(CSV_COLUMNS)]
    n = rows_per_month
    row_id = 0
    for m in range(N_MONTHS):
        label = month_label(m)
        kats = kats_in_month(m)
        branch = rng.choice(len(names), n, p=probs)
        county_i = rng.integers(0, 1 << 30, n)
        gmina = rng.integers(0, 145, n)
        coin = rng.random(n) < 0.5
        rodzaj = rng.integers(0, len(RODZAJ), n)
        kat = rng.integers(0, len(kats), n)
        day, hh = rng.integers(1, 29, n), rng.integers(0, 24, n)
        mi, ss = rng.integers(0, 60, n), rng.integers(1, 60, n)
        misc = rng.integers(0, 1000, (n, 6))
        for i in range(n):
            b = names[branch[i]]
            pool = zero_codes if b in ("six_digit", "float6") else codes
            county = pool[county_i[i] % len(pool)]
            g = f"{gmina[i] // 5 + 1:02d}{gmina[i] % 5 + 1}"
            terc, jn, miasto = _terc_fields(b, county, g, bool(coin[i]))
            when = f"{label}-{day[i]:02d} {hh[i]:02d}:{mi[i]:02d}:{ss[i]:02d}"
            if b == "bad_date":
                when = f"{label}-{day[i]:02d}T{hh[i]:02d}:{mi[i]:02d}" if coin[i] else "brak daty"
            row_id += 1
            r, k, x = RODZAJ[rodzaj[i]], kats[kat[i]], misc[i]
            fields = (
                str(row_id), f"AB.{row_id % 9973}.{label[:4]}", when,
                f"Starosta {miasto}", county[:2], f"{x[0] % 100:02d}-{x[1]:03d}",
                miasto, terc, "ul.", "", f"Ulica {x[2] % 500}", "",
                str(x[3] % 200 + 1), k, f"budynek mieszkalny {x[4] % 7}", r,
                str(x[5] * 5 + 100), "", jn, str(x[0] % 40 + 1),
                f"{x[1] % 900 + 1}/{x[2] % 20 + 1}", "", "Kowalski", "Jan",
                f"UP/{x[3] % 300}/{label[:4]}", "",
            )
            line = "#".join(fields)
            lines.append(line)
            if b in SURVIVING:
                cells[(county, label, r, k)] += 1
                loaded_bytes[label] += len(line.encode()) + 1
    with open(os.path.join(out_dir, "permissions.csv"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    write_powiaty(os.path.join(out_dir, "powiaty.parquet"))
    months: Counter = Counter()
    for (_, label, _, _), c in cells.items():
        months[label] += c
    truth = {
        "cells": {"|".join(k): c for k, c in sorted(cells.items())},
        "months": dict(sorted(months.items())),
        "loaded_bytes": dict(sorted(loaded_bytes.items())),
        "csv_rows": row_id,
    }
    with open(os.path.join(out_dir, "ground_truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth

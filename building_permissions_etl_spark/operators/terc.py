"""The terc-correction row transform (SURVEY.md §2.10) — the one "real
UDF" of the reference (``assign_terc_and_validate`` applied row-wise via
``df.apply(axis=1)``, helpers:202,240-300) — re-expressed as pure SQL:
nested ``CASE`` expressions in three projections, the fuzzy city lookup
inlined as a scan of the county dim carried in the plan as a literal
array. No Python in the row path, no join and no extra job.

Decision tree (helpers:240-300), preserved branch-for-branch:

  stage 1 (assign) — if terc is null/''/'nan':
    a. jednostki_numer usable → terc = jednostki_numer[:4], 'Matched'
    b. else miasto usable and a county name contains it (case-
       insensitive) → that county's JPT_KOD_JE, 'Matched'
    c. else → terc='Unknown', 'Unknown'
  stage 2 (validate) — on the (possibly reassigned) code:
    d. 7-digit numeric, prefix ∉ 16 voivodeship codes → 'Unknown2'
    e. 6-digit numeric → zero-pad to 7, then the same prefix check
    f. 4-digit numeric and already 'Matched' → keep
    g. already 'Unknown' → keep
    h. anything else → 'Unknown3'

The fuzzy branch (b) scans the dim's ~380 (code, name) pairs, collected
once per run on the driver, inside the stage-1 ``CASE``: only rows that
reach branch b pay for it, and no distinct-city pass, broadcast or join
is planned around the rows. First-match is pinned to min(JPT_KOD_JE) —
the reference's ``iloc[0]`` depends on shapefile file order, a
documented nondeterminism we fix (SURVEY.md §7 risk 2).
"""

from __future__ import annotations

import json
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from building_permissions_etl_spark.functions.expr import sql_ident, sql_str
from building_permissions_etl_spark.schemas import VOIVODESHIPS

UNKNOWN_CLASSES = ("Unknown", "Unknown2", "Unknown3")


def _fuzzy_city_sql(counties: Iterable[tuple], miasto: str) -> str:
    """SQL text: the min code among the counties whose name contains
    ``miasto`` case-insensitively (C12, a literal substring: ``%``, ``_``
    and ``.`` match only themselves), NULL when none does. The counties
    travel as ONE JSON string literal, which the optimizer folds into a
    constant array (380 struct literals in the SQL text took three times
    as long to parse and analyse: about 0.2 s against 0.07 s, warm).
    ``array_min`` skips NULL codes; a NULL name contains nothing."""
    pairs = [{"k": None if k is None else str(k), "n": n} for k, n in counties]
    array = (f"from_json({sql_str(json.dumps(pairs, ensure_ascii=False))},"
             " 'array<struct<k: string, n: string>>')")
    return (f"array_min(transform(filter({array},"
            f" x -> contains(lower(x.n), lower({miasto}))), x -> x.k))")


def _rlike(sql: str, pattern: str) -> str:
    return f"{sql} RLIKE {sql_str(pattern)}"


def correct_terc(
    df: DataFrame,
    counties: Iterable[tuple],
    terc_col: str = "terc",
    jn_col: str = "jednostki_numer",
    miasto_col: str = "miasto",
) -> DataFrame:
    """Apply the full §2.10 tree; replaces ``terc`` and adds ``untypical``.

    ``counties`` are the county dim's (JPT_KOD_JE, JPT_NAZWA_) pairs.
    Each step is one SQL-text projection, so the plan is analysed three
    times instead of once per derived column."""
    cols = df.columns
    t, jn, city = sql_ident(terc_col), sql_ident(jn_col), sql_ident(miasto_col)
    # canonicalize the pandas float-read artifact first (helpers:37,200)
    numericish, float_tail = _rlike(t, r"^\d+(\.0)?$"), sql_str(r"\.0$")
    c = f"CASE WHEN {numericish} THEN regexp_replace({t}, {float_tail}, '') ELSE {t} END"
    # C15 (helpers:265-267): null, '' or the pandas 'nan' artifact; the
    # canonicalization only rewrites digit strings, so the raw code is
    # nullish exactly when the canonical one is
    nullish = f"({t} IS NULL OR {t} IN ('nan', ''))"
    # jn usability is notnull & != 'nan' ONLY (helpers:266) — an empty
    # string jn is used (→ ''[:4] = '' → stage 2 'Unknown3'), faithfully.
    jn_ok = f"({jn} IS NOT NULL AND {jn} != 'nan')"
    # miasto usability is the same notnull & != 'nan' (helpers:272): an
    # empty city is "usable" and substring-matches every county
    city_ok = f"({city} IS NOT NULL AND {city} != 'nan')"

    # stage 1: assignment; a nullish code that neither branch a nor b
    # replaces stays NULL here, so the county scan runs at most once per
    # row (a second reference would run it again: Spark does not share
    # subexpressions between CASE branches)
    df = df.selectExpr(
        *map(sql_ident, cols),
        f"CASE WHEN {nullish} THEN CASE WHEN {jn_ok} THEN substring({jn}, 1, 4)"
        f" WHEN {city_ok} THEN {_fuzzy_city_sql(counties, city)} END"
        f" ELSE {c} END AS __terc0",
    )
    df = df.selectExpr(
        *map(sql_ident, cols),
        "coalesce(__terc0, 'Unknown') AS __terc1",
        f"CASE WHEN {nullish} THEN nvl2(__terc0, 'Matched', 'Unknown') END AS __unt1",
    )

    # stage 2: validation (order of the reference's if/elif chain matters)
    codes = ", ".join(map(sql_str, VOIVODESHIPS))
    padded = "concat('0', __terc1)"
    is7, is6, is4 = (_rlike("__terc1", rf"^\d{{{n}}}$") for n in (7, 6, 4))
    unknown_prefix = (f"CASE WHEN substring({{}}, 1, 2) NOT IN ({codes})"
                      " THEN 'Unknown2' ELSE __unt1 END")
    untypical = (
        f"CASE WHEN {is7} THEN {unknown_prefix.format('__terc1')}"
        f" WHEN {is6} THEN {unknown_prefix.format(padded)}"
        f" WHEN {is4} AND __unt1 = 'Matched' THEN __unt1"
        " WHEN __unt1 = 'Unknown' THEN __unt1"
        " ELSE 'Unknown3' END AS untypical"
    )
    return df.selectExpr(
        *[f"CASE WHEN {is6} THEN {padded} ELSE __terc1 END AS {t}" if col == terc_col
          else sql_ident(col) for col in cols],
        untypical,
    )


def correction_audit_exprs() -> list[Column]:
    """A7 (helpers:207-219): the audit counts over the corrected frame —
    total rows, per-sentinel-class counts, % invalid. Aggregates only, so
    they serve both ``agg`` and ``DataFrame.observe`` (the ingest collects
    them during its fact write instead of running a separate action).
    % invalid of zero rows is NULL (``try_divide``): under ANSI a plain
    division raises there, and an observed metric that fails to evaluate
    never reaches its ``Observation``, whose ``get`` then waits forever."""
    total = F.count(F.lit(1))
    cls = {u: F.count(F.when(F.col("untypical") == u, 1)) for u in UNKNOWN_CLASSES}
    invalid = sum(cls.values(), F.lit(0))
    return [
        total.alias("total_rows"),
        *[c.alias(f"rows_{u.lower()}") for u, c in cls.items()],
        F.round(F.try_divide(invalid * 100.0, total), 4).alias("pct_invalid"),
    ]


def correction_audit_metrics(df: DataFrame) -> DataFrame:
    """A7 as a one-row frame: ``correction_audit_exprs`` in one agg pass."""
    return df.agg(*correction_audit_exprs())


def drop_invalid_terc(df: DataFrame) -> DataFrame:
    """F4+F8 (helpers:221-228): remove Unknown* rows, drop the helper col.
    Rows with null ``untypical`` (codes that were valid all along) stay."""
    return df.filter(
        F.col("untypical").isNull() | ~F.col("untypical").isin(list(UNKNOWN_CLASSES))
    ).drop("untypical")

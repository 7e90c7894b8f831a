"""The terc-correction row transform (SURVEY.md §2.10) — the one "real
UDF" of the reference (``assign_terc_and_validate`` applied row-wise via
``df.apply(axis=1)``, helpers:202,240-300) — re-expressed as pure SQL:
nested ``CASE`` expressions, one projection per stage, plus ONE broadcast
fuzzy lookup. No Python in the row path; the whole tree runs inside
whole-stage codegen.

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

The fuzzy branch (b) is per-*city-name*, not per-row: distinct miasto
values are matched against the (tiny, broadcast) dim and the result is
joined back — at 100 TB the distinct city names stay bounded while rows
don't. First-match is pinned to min(JPT_KOD_JE) — the reference's
``iloc[0]`` depends on shapefile file order, a documented nondeterminism
we fix (SURVEY.md §7 risk 2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from building_permissions_etl_spark.functions.expr import sql_ident, sql_str
from building_permissions_etl_spark.functions.text import ci_contains
from building_permissions_etl_spark.schemas import VOIVODESHIPS

UNKNOWN_CLASSES = ("Unknown", "Unknown2", "Unknown3")


def _fuzzy_city_lookup(df: DataFrame, powiaty: DataFrame,
                       miasto_col: str) -> DataFrame:
    """Distinct city names → first (min-key) county whose name contains
    the city case-insensitively. Returns (miasto, __fuzzy_terc)."""
    # usability check is notnull & != 'nan' ONLY (helpers:272): an empty
    # string is "usable" and substring-matches every county — mirrored.
    cities = df.select(F.col(miasto_col).alias("__miasto")).filter(
        F.col("__miasto").isNotNull() & (F.col("__miasto") != "nan")
    ).distinct()
    matched = cities.join(
        F.broadcast(powiaty.select("JPT_KOD_JE", "JPT_NAZWA_")),
        ci_contains(F.col("JPT_NAZWA_"), F.col("__miasto")),
        "left",
    )
    return matched.groupBy("__miasto").agg(
        F.min("JPT_KOD_JE").alias("__fuzzy_terc")
    )


def _rlike(sql: str, pattern: str) -> str:
    return f"{sql} RLIKE {sql_str(pattern)}"


def correct_terc(
    df: DataFrame,
    powiaty: DataFrame,
    terc_col: str = "terc",
    jn_col: str = "jednostki_numer",
    miasto_col: str = "miasto",
) -> DataFrame:
    """Apply the full §2.10 tree; replaces ``terc`` and adds ``untypical``.

    Each stage is one SQL-text projection, so the plan is analysed twice
    instead of once per derived column."""
    cols = df.columns
    lookup = _fuzzy_city_lookup(df, powiaty, miasto_col)
    df = df.join(F.broadcast(lookup), df[miasto_col] == lookup["__miasto"], "left")

    t, jn = sql_ident(terc_col), sql_ident(jn_col)
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

    # stage 1: assignment
    df = df.selectExpr(
        *map(sql_ident, cols),
        f"CASE WHEN {nullish} THEN CASE WHEN {jn_ok} THEN substring({jn}, 1, 4)"
        " WHEN __fuzzy_terc IS NOT NULL THEN __fuzzy_terc ELSE 'Unknown' END"
        f" ELSE {c} END AS __terc1",
        f"CASE WHEN {nullish} THEN CASE WHEN {jn_ok} OR __fuzzy_terc IS NOT NULL"
        " THEN 'Matched' ELSE 'Unknown' END END AS __unt1",
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

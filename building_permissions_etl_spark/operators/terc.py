"""The terc-correction row transform (SURVEY.md §2.10) — the one "real
UDF" of the reference (``assign_terc_and_validate`` applied row-wise via
``df.apply(axis=1)``, helpers:202,240-300) — re-expressed as pure Column
logic: nested when/otherwise plus ONE broadcast fuzzy lookup. No Python
in the row path; the whole tree runs inside whole-stage codegen.

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

from building_permissions_etl_spark.functions.text import (
    canonicalize_numeric_string,
    ci_contains,
    is_nullish,
)
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


def correct_terc(
    df: DataFrame,
    powiaty: DataFrame,
    terc_col: str = "terc",
    jn_col: str = "jednostki_numer",
    miasto_col: str = "miasto",
) -> DataFrame:
    """Apply the full §2.10 tree; replaces ``terc`` and adds ``untypical``."""
    lookup = _fuzzy_city_lookup(df, powiaty, miasto_col)
    df = df.join(
        F.broadcast(lookup), df[miasto_col] == lookup["__miasto"], "left"
    ).drop("__miasto")

    # canonicalize the pandas float-read artifact first (helpers:37,200)
    c = canonicalize_numeric_string(F.col(terc_col))
    jn = F.col(jn_col)
    nullish = is_nullish(c)
    # jn usability is notnull & != 'nan' ONLY (helpers:266) — an empty
    # string jn is used (→ ''[:4] = '' → stage 2 'Unknown3'), faithfully.
    jn_ok = jn.isNotNull() & (jn != "nan")
    fuzzy = F.col("__fuzzy_terc")

    # stage 1: assignment
    terc1 = (
        F.when(nullish & jn_ok, F.substring(jn, 1, 4))
        .when(nullish & ~jn_ok & fuzzy.isNotNull(), fuzzy)
        .when(nullish, F.lit("Unknown"))
        .otherwise(c)
    )
    unt1 = (
        F.when(nullish & jn_ok, F.lit("Matched"))
        .when(nullish & ~jn_ok & fuzzy.isNotNull(), F.lit("Matched"))
        .when(nullish, F.lit("Unknown"))
        .otherwise(F.lit(None).cast("string"))
    )

    df = df.withColumn("__terc1", terc1).withColumn("__unt1", unt1)
    t1, u1 = F.col("__terc1"), F.col("__unt1")

    # stage 2: validation (order of the reference's if/elif chain matters)
    prefix_ok = F.substring(t1, 1, 2).isin(list(VOIVODESHIPS))
    padded = F.concat(F.lit("0"), t1)
    padded_prefix_ok = F.substring(padded, 1, 2).isin(list(VOIVODESHIPS))
    is7 = t1.rlike(r"^\d{7}$")
    is6 = t1.rlike(r"^\d{6}$")
    is4 = t1.rlike(r"^\d{4}$")

    terc2 = F.when(is6, padded).otherwise(t1)
    unt2 = (
        F.when(is7, F.when(~prefix_ok, F.lit("Unknown2")).otherwise(u1))
        .when(is6, F.when(~padded_prefix_ok, F.lit("Unknown2")).otherwise(u1))
        .when(is4 & (u1 == "Matched"), u1)
        .when(u1 == "Unknown", u1)
        .otherwise(F.lit("Unknown3"))
    )

    return (
        df.withColumn(terc_col, terc2)
        .withColumn("untypical", unt2)
        .drop("__terc1", "__unt1", "__fuzzy_terc")
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

"""String/normalization helpers (SURVEY.md §2.8 C2, C3, C12, C21; the
C15 null/'nan' test is SQL text in ``operators/terc.py``).

Every row-level transform is a native Column expression so it stays inside
whole-stage codegen; column-*name* transforms are plain Python (driver-side
metadata, like the reference's helpers:377-381).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def canonicalize_numeric_string(col: Column) -> Column:
    """C3: ``str(int(x))`` for digit-strings possibly ending ``.0``.

    Mirrors helpers:37,200 — the pandas float-read artifact fix: values such
    as ``'1465011.0'`` become ``'1465011'``; anything non-numeric passes
    through unchanged (incl. nulls).
    """
    numericish = col.rlike(r"^\d+(\.0)?$")
    return F.when(numericish, F.regexp_replace(col, r"\.0$", "")).otherwise(col)


def zero_pad_terc(col: Column) -> Column:
    """C2: 6-digit numeric terc → prepend '0' (helpers:288-289)."""
    return F.when(col.rlike(r"^\d{6}$"), F.concat(F.lit("0"), col)).otherwise(col)


def ci_contains(haystack: Column, needle: Column) -> Column:
    """C12: case-insensitive literal substring match (helpers:273).

    pandas ``str.contains`` treats the pattern as a regex; the reference
    passes raw city names, so names containing regex metacharacters would
    behave differently there. We implement the *intended* literal-substring
    semantics (documented deviation, SURVEY.md §2.8 C12).
    """
    return F.contains(F.lower(haystack), F.lower(needle))


def sanitize_column_names(names: list[str]) -> list[str]:
    """C21: sink column-name normalization (helpers:377-381):
    ``' '``, ``'/'``, ``'-'`` → ``'_'``; prefix ``'_'`` if leading digit."""
    out = []
    for c in names:
        c2 = c.replace(" ", "_").replace("/", "_").replace("-", "_")
        if c2 and c2[0].isdigit():
            c2 = "_" + c2
        out.append(c2)
    return out

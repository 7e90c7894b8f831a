"""Every branch of the terc decision tree (SURVEY.md §2.10,
reference helpers:240-300), on literal DataFrames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from building_permissions_etl_spark.operators.terc import (
    correct_terc,
    correction_audit_metrics,
    drop_invalid_terc,
)


@pytest.fixture(scope="module")
def powiaty():
    """The county dim's (JPT_KOD_JE, JPT_NAZWA_) rows."""
    return [
        ("0201", "Warsaw County"),
        ("0202", "New Warsaw County"),
        ("0463", "Krakow County"),
    ]


SCHEMA = "id int, terc string, jednostki_numer string, miasto string"


def run(spark, powiaty, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    out = correct_terc(df, powiaty)
    return {r.id: (r.terc, r.untypical) for r in out.collect()}


def test_valid_codes_pass_through(spark, powiaty):
    got = run(spark, powiaty, [
        (1, "1465011", "x", "y"),       # valid 7-digit, prefix 14
        (2, "0201011", None, None),     # valid 7-digit, prefix 02
    ])
    assert got[1] == ("1465011", None)
    assert got[2] == ("0201011", None)


def test_seven_digit_bad_prefix_unknown2(spark, powiaty):
    got = run(spark, powiaty, [(1, "9965011", None, None)])
    assert got[1] == ("9965011", "Unknown2")


def test_six_digit_zero_pad(spark, powiaty):
    got = run(spark, powiaty, [
        (1, "465011", None, None),      # → '0465011', prefix 04 ok
        (2, "995011", None, None),      # → '0995011', prefix 09 bad
    ])
    assert got[1] == ("0465011", None)
    assert got[2] == ("0995011", "Unknown2")


def test_float_artifact_canonicalized(spark, powiaty):
    got = run(spark, powiaty, [(1, "1465011.0", None, None)])
    assert got[1] == ("1465011", None)


def test_null_terc_uses_jednostki_numer(spark, powiaty):
    got = run(spark, powiaty, [
        (1, None, "1465xyz", None),     # jn[:4] digits + Matched → keep
        (2, "nan", "0201abc", None),
        (3, "", "02x1abc", None),       # jn[:4] NOT all digits → Unknown3
    ])
    assert got[1] == ("1465", "Matched")
    assert got[2] == ("0201", "Matched")
    assert got[3] == ("02x1", "Unknown3")


def test_null_terc_fuzzy_city_match(spark, powiaty):
    got = run(spark, powiaty, [
        (1, None, None, "warsaw"),      # matches 2 counties → min key 0201
        (2, None, "nan", "krakow"),
        (3, None, None, "atlantis"),    # no county contains it → Unknown
        (4, None, None, None),          # unusable miasto → Unknown
    ])
    assert got[1] == ("0201", "Matched")
    assert got[2] == ("0463", "Matched")
    assert got[3] == ("Unknown", "Unknown")
    assert got[4] == ("Unknown", "Unknown")


def test_garbage_unknown3(spark, powiaty):
    got = run(spark, powiaty, [
        (1, "abc", None, None),
        (2, "12345", None, None),       # 5 digits: no branch matches
        (3, "12345678", None, None),    # 8 digits
    ])
    assert all(v[1] == "Unknown3" for v in got.values())


def test_empty_jn_used_faithfully(spark, powiaty):
    """'' jn is 'usable' per the reference's notnull/!='nan' check; ''[:4]
    = '' then falls through stage 2 to Unknown3."""
    got = run(spark, powiaty, [(1, None, "", "warsaw")])
    assert got[1] == ("", "Unknown3")


def test_audit_and_drop(spark, powiaty):
    rows = [
        (1, "1465011", None, None),     # valid
        (2, "9965011", None, None),     # Unknown2
        (3, "abc", None, None),         # Unknown3
        (4, None, None, "atlantis"),    # Unknown
        (5, None, "1465xyz", None),     # Matched
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    corrected = correct_terc(df, powiaty)

    audit = correction_audit_metrics(corrected).first()
    assert audit.total_rows == 5
    assert audit.rows_unknown == 1
    assert audit.rows_unknown2 == 1
    assert audit.rows_unknown3 == 1
    assert audit.pct_invalid == 60.0

    kept = drop_invalid_terc(corrected)
    assert sorted(r.id for r in kept.collect()) == [1, 5]
    assert "untypical" not in kept.columns

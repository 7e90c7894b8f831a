"""Property-based check of the §2.10 terc decision tree: the Spark
column-expression implementation must agree with an independent pure-
Python oracle on arbitrary dirty inputs (hypothesis-generated batches).

The oracle below is written straight from the reference semantics
(helpers:240-300) with the engine's two documented determinism fixes:
min-key fuzzy match and literal (non-regex) substring containment.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from building_permissions_etl_spark.operators.terc import correct_terc
from building_permissions_etl_spark.schemas import VOIVODESHIPS

DIM = [
    ("0201", "Bolesławiecki"),
    ("0463", "Kraków City"),
    ("1465", "Warszawa Capital"),
    ("3062", "poznański"),
    ("2261", "Gdańsk"),
    (None, "Nullkod Warszawski"),   # a NULL code never wins
    ("0800", None),                 # a NULL name contains nothing
    # two names that contain the same city: the smaller code wins,
    # although it is listed second; matched across non-ASCII case
    ("1062", "Łódź Wschodnia"),
    ("1061", "ŁÓDŹ miasto"),
    ("2402", "Bielsko-Biała (m.)"),  # '(' and '.' match only themselves
]


# The engine's digit classes are Java-regex (ASCII); Python's \d is
# Unicode-wide. The oracle pins the engine contract with re.ASCII.
_A = re.ASCII


def _oracle(terc, jn, miasto):
    if terc is not None and re.fullmatch(r"\d+(\.0)?", terc, _A):
        c = re.sub(r"\.0$", "", terc)
    else:
        c = terc
    nullish = c is None or c in ("", "nan")
    if nullish:
        if jn is not None and jn != "nan":
            t1, u1 = jn[:4], "Matched"
        else:
            best = None
            if miasto is not None and miasto != "nan":
                hits = [k for k, n in DIM
                        if k is not None and n is not None and miasto.lower() in n.lower()]
                best = min(hits) if hits else None
            if best is not None:
                t1, u1 = best, "Matched"
            else:
                t1, u1 = "Unknown", "Unknown"
    else:
        t1, u1 = c, None

    if t1 is not None and re.fullmatch(r"\d{7}", t1, _A):
        return t1, ("Unknown2" if t1[:2] not in VOIVODESHIPS else u1)
    if t1 is not None and re.fullmatch(r"\d{6}", t1, _A):
        p = "0" + t1
        return p, ("Unknown2" if p[:2] not in VOIVODESHIPS else u1)
    if t1 is not None and re.fullmatch(r"\d{4}", t1, _A) and u1 == "Matched":
        return t1, u1
    if u1 == "Unknown":
        return t1, u1
    return t1, "Unknown3"


_terc = st.one_of(
    st.none(),
    st.sampled_from(["", "nan", "1465011", "9965011", "465011", "1465011.0",
                     "02010", "12345678", "0", "abc", "146501a"]),
    st.integers(0, 10**8).map(str),
    st.integers(0, 10**8).map(lambda n: f"{n}.0"),
)
_jn = st.one_of(
    st.none(),
    st.sampled_from(["", "nan", "1465xyz", "02", "9912345"]),
    st.integers(0, 10**6).map(str),
)
_miasto = st.one_of(
    st.none(),
    st.sampled_from(["", "nan", "warszawa", "WARSZA", "kraków", "gdańsk",
                     "pozna", "nomatch", "ó", "a", "nullkod", ".", "(", "%", "_",
                     "ŁÓDŹ", "łódź", "wschodnia"]),
)
_row = st.tuples(_terc, _jn, _miasto)


@pytest.mark.usefixtures("spark")
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, min_size=1, max_size=40))
# every fuzzy-branch case once, whatever the random examples draw
@example(rows=[(None, None, c) for c in
               ("", "nullkod", ".", "(", "%", "_", "ŁÓDŹ", "łódź", "wschodnia")])
def test_terc_tree_matches_python_oracle(spark, rows):
    src = spark.createDataFrame(
        [(i, t, j, m) for i, (t, j, m) in enumerate(rows)],
        "id long, terc string, jednostki_numer string, miasto string",
    )
    got = {
        r["id"]: (r["terc"], r["untypical"])
        for r in correct_terc(src, DIM).select("id", "terc", "untypical").collect()
    }
    for i, (t, j, m) in enumerate(rows):
        assert got[i] == _oracle(t, j, m), (i, t, j, m)

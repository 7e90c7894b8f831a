"""Semantic edge cases for the round-5 operators, beyond oracle parity:
point-in-time join grain/miss behavior, quality-survivor policy, the
curriculum cut's rank thresholds, and batch-ANN validation."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from building_permissions_etl_spark.operators.corpus import top_fraction_per_group
from building_permissions_etl_spark.operators.dedup import dedup_survivors_by
from building_permissions_etl_spark.operators.scd import point_in_time_join
from building_permissions_etl_spark.operators.similarity import (
    topk_bruteforce_batch,
)

_T = datetime.datetime


def _dim(spark):
    rows = [
        # key 1: two back-to-back versions
        (1, _T(2020, 1, 1), _T(2020, 6, 1), "a-v1"),
        (1, _T(2020, 6, 1), None, "a-v2"),
        # key 2: a closed-only history (logically deleted)
        (2, _T(2020, 1, 1), _T(2020, 3, 1), "b-v1"),
    ]
    return spark.createDataFrame(
        rows, "k long, valid_from timestamp, valid_to timestamp, seg string"
    )


def test_pit_join_picks_covering_version_and_preserves_grain(spark):
    facts = spark.createDataFrame(
        [
            (10, 1, _T(2020, 2, 15)),   # inside v1
            (11, 1, _T(2020, 6, 1)),    # boundary: valid_from inclusive → v2
            (12, 1, _T(2019, 12, 31)),  # before first version → NULL
            (13, 2, _T(2020, 5, 1)),    # key's history closed → NULL
            (14, 3, _T(2020, 5, 1)),    # unknown key → NULL
        ],
        "fid long, k long, ts timestamp",
    )
    got = {r["fid"]: r["seg"] for r in
           point_in_time_join(facts, _dim(spark), "k", "ts").collect()}
    assert got == {10: "a-v1", 11: "a-v2", 12: None, 13: None, 14: None}
    # grain preserved: exactly one output row per fact
    assert point_in_time_join(facts, _dim(spark), "k", "ts").count() == 5
    # inner drops the misses
    inner = point_in_time_join(facts, _dim(spark), "k", "ts", how="inner")
    assert sorted(r["fid"] for r in inner.collect()) == [10, 11]
    with pytest.raises(ValueError, match="how"):
        point_in_time_join(facts, _dim(spark), "k", "ts", how="full")


def test_pit_join_exclusive_upper_bound(spark):
    """ts == valid_to must match the NEXT version, never both."""
    facts = spark.createDataFrame(
        [(1, 1, _T(2020, 6, 1))], "fid long, k long, ts timestamp"
    )
    rows = point_in_time_join(facts, _dim(spark), "k", "ts").collect()
    assert len(rows) == 1 and rows[0]["seg"] == "a-v2"


def test_survivors_by_keeps_best_not_min(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 7), (5, 7)],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    surv = sorted(r["doc_id"] for r in dedup_survivors_by(
        df, pairs, "doc_id", [F.col("n_chars").desc()]).collect())
    # cluster {1,2,3}: longest is 2 (min-id rule would keep 1);
    # 4 and 5 are singletons and both survive
    assert surv == [2, 4, 5]
    # tie on the ordering → min id wins deterministically
    pairs2 = spark.createDataFrame([(4, 5)], ["id_a", "id_b"])
    surv2 = sorted(r["doc_id"] for r in dedup_survivors_by(
        df, pairs2, "doc_id", [F.col("n_chars").desc()]).collect())
    assert 4 in surv2 and 5 not in surv2


def test_top_fraction_per_group_threshold_math(spark):
    # group x: 3 rows → ceil(1.5) = 2 kept; group y: 1 row → 1 kept
    df = spark.createDataFrame(
        [("x", 1, 5), ("x", 2, 9), ("x", 3, 9), ("y", 4, 1)],
        "g string, id long, q long",
    )
    kept = top_fraction_per_group(df, "g", [F.col("q").desc()], "id", 0.5)
    got = sorted((r["g"], r["id"]) for r in kept.collect())
    # x keeps the two q=9 rows (tie → lower id first): ids 2 and 3
    assert got == [("x", 2), ("x", 3), ("y", 4)]
    # fraction=1 keeps everything
    assert top_fraction_per_group(
        df, "g", [F.col("q").desc()], "id", 1.0).count() == 4
    with pytest.raises(ValueError, match="fraction"):
        top_fraction_per_group(df, "g", [F.col("q").desc()], "id", 0.0)


def test_batch_topk_validation_and_shape(spark):
    from building_permissions_etl_spark.catalog import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    out = topk_bruteforce_batch(emb, "embedding", "vec_id", [0, 1, 2], k=3)
    rows = out.collect()
    assert len(rows) == 9                       # 3 queries x k
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
        assert r["id"] != r["query_id"]         # self excluded
    assert all(len(v) == 3 for v in per_q.values())
    # scores sorted desc within each query
    for v in per_q.values():
        s = [r["score"] for r in v]
        assert s == sorted(s, reverse=True)
    with pytest.raises(ValueError, match="non-empty"):
        topk_bruteforce_batch(emb, "embedding", "vec_id", [], k=3)
    with pytest.raises(ValueError, match="distinct"):
        topk_bruteforce_batch(emb, "embedding", "vec_id", [1, 1], k=3)
    with pytest.raises(ValueError, match="missing"):
        topk_bruteforce_batch(emb, "embedding", "vec_id", [0, 10**9], k=3)


def test_paragraph_dedup_first_occurrence_and_reassembly(spark):
    from building_permissions_etl_spark.operators.corpus import paragraph_dedup

    # budget=2 → paragraphs are 2-token chunks; doc 2 repeats doc 1's
    # first paragraph, doc 3 is entirely doc 1's content
    df = spark.createDataFrame(
        [
            (1, "aa bb cc dd"),          # chunks: "aa bb", "cc dd"
            (2, "aa bb ee ff"),          # "aa bb" dupes doc 1 → dropped
            (3, "cc dd"),                # fully duplicated → empty
            (4, ""),                     # empty doc → no chunks → absent
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_paragraphs"], r["n_kept"], r["clean_text"])
           for r in paragraph_dedup(df, "text", "doc_id", budget=2).collect()}
    assert got == {
        1: (2, 2, "aa bb cc dd"),
        2: (2, 1, "ee ff"),
        3: (1, 0, ""),
    }


def test_paragraph_dedup_preserves_order_within_doc(spark):
    from building_permissions_etl_spark.operators.corpus import paragraph_dedup

    # doc 10's middle paragraph is a dup of doc 9; survivors must stay
    # in original order, not sorted by text
    df = spark.createDataFrame(
        [(9, "zz yy"), (10, "bb aa zz yy cc dd")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["clean_text"]
           for r in paragraph_dedup(df, "text", "doc_id", budget=2).collect()}
    assert got == {9: "zz yy", 10: "bb aa cc dd"}

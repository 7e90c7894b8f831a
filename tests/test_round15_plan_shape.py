"""Round-15 optimization pins.

The ``_bucket_pairs`` score-at-emission narrowing (guide §5): with a
``score`` lambda the flattened per-bucket pair array carries
``(id_a, id_b, score)`` only — never two k-long signature arrays per
pair — and the emitted values are bit-identical to computing the same
expression on the exploded wide pairs.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from building_permissions_etl_spark.operators import dedup as D
from tests.plan_nodes import iter_plan_nodes


def _banded(spark):
    rows = [
        (1, 0, 11, [1, 2, 3, 4]),
        (2, 0, 11, [1, 2, 9, 4]),
        (3, 0, 11, [1, 8, 9, 4]),
        (4, 1, 22, [5, 6, 7, 8]),
        (5, 1, 22, [5, 6, 7, 8]),
        (None, 0, 11, [0, 0, 0, 0]),  # null id never pairs
    ]
    return spark.createDataFrame(
        rows, "id bigint, band int, bh bigint, sig array<bigint>")


def _est(k):
    def est(x, y):
        return F.aggregate(
            F.zip_with(x["sig"], y["sig"],
                       lambda p, q: (p == q).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.lit(k)
    return est


def test_bucket_pairs_score_values_match_wide_path(spark):
    banded = _banded(spark)
    narrow = D._bucket_pairs(
        banded, ["band", "bh"], 1000, ["id", "sig"],
        score=_est(4), score_name="est_jaccard")
    assert narrow.columns == ["id_a", "id_b", "est_jaccard"]
    wide = D._bucket_pairs(banded, ["band", "bh"], 1000, ["id", "sig"])
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, x: acc + x,
    ) / F.lit(4)
    expected = wide.select("id_a", "id_b", est.alias("est_jaccard"))
    got = {tuple(r) for r in narrow.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want
    # every unordered pair exactly once, null ids excluded
    assert len(got) == 3 + 1


def _generate_fields(df) -> set[str]:
    """Struct field names in the output attributes of the Generate
    node(s) of df's executed plan."""
    fields: set[str] = set()
    for node in iter_plan_nodes(df):
        if node.nodeName() == "Generate":
            attrs = node.output()
            for i in range(attrs.size()):
                dtype = json.loads(attrs.apply(i).dataType().json())
                if isinstance(dtype, dict) and dtype["type"] == "struct":
                    fields.update(f["name"] for f in dtype["fields"])
    return fields


def test_lsh_pair_plan_carries_no_signatures(spark):
    """The exploded pair structs in the physical plan carry
    ``est_jaccard`` and no ``sig_a``/``sig_b`` fields — the §5
    narrowing pin, checked on the Generate node's output types rather
    than on the plan's text."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3}") for i in range(30)],
        "doc_id bigint, text string")
    pairs = D.minhash_lsh_pairs(docs, "text", "doc_id", k=8, bands=4,
                                min_est_jaccard=0.1)
    fields = _generate_fields(pairs)
    assert not {"sig_a", "sig_b"} & fields
    assert "est_jaccard" in fields

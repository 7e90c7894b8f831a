"""Semantic tests for the hash-family dedup operators (no SQL oracle
exists for these — this is where their behavior is pinned)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from building_permissions_etl_spark.operators.dedup import (
    dedup_exact,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_pairs,
    word_shingles,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR_DUP = BASE.replace("warm", "cold")          # one-token edit
UNRELATED = (
    "completely different text about spark query engines and distributed "
    "shuffle exchange operators running on large clusters every day"
)


@pytest.fixture()
def docs(spark):
    rows = [
        (0, BASE), (1, NEAR_DUP), (2, UNRELATED),
        (3, BASE),                        # exact dup of 0
        (4, "tiny"),                      # shorter than one shingle
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_keeps_lowest_id(docs):
    kept = dedup_exact(docs, "text", "doc_id").select("doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [0, 1, 2, 4]            # 3 dropped (dup of 0)


def test_minhash_estimates_jaccard(spark, docs):
    """Minhash agreement ≈ true shingle Jaccard (k=64 ⇒ σ ≈ 0.06)."""
    sets = docs.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("ng")
    ).collect()
    ng = {r.doc_id: set(r.ng) for r in sets}
    true_j = len(ng[0] & ng[1]) / len(ng[0] | ng[1])

    pairs = minhash_lsh_pairs(docs, "text", "doc_id", min_est_jaccard=0.0)
    got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
    assert (0, 3) in got and got[(0, 3)] == 1.0          # exact dup
    assert (0, 1) in got                                  # near dup found
    assert abs(got[(0, 1)] - true_j) < 0.2


def test_minhash_lsh_skips_unrelated(docs):
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", min_est_jaccard=0.5)
    ids = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 3) in ids
    assert all(2 not in p for p in ids)                   # unrelated never pairs


def test_simhash_finds_near_dups(docs):
    pairs = simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    ids = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert ids[(0, 3)] == 0                               # identical → distance 0
    assert (0, 1) in ids                                  # one-word edit nearby
    assert all(2 not in p for p in ids)


def test_ngram_jaccard_exact_values(docs):
    pairs = ngram_jaccard_pairs(
        docs.withColumn("block", F.lit(1)), "text", "doc_id", "block",
        min_jaccard=0.0,
    ).collect()
    vals = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert vals[(0, 3)] == 1.0
    assert 0.5 < vals[(0, 1)] < 1.0
    assert vals[(0, 2)] == 0.0


def test_ngram_inverted_matches_quadratic(spark):
    """With no df cutoff and min_jaccard > 0, the inverted index must
    return row-identical results to the quadratic array_intersect form —
    the auto-selector relies on this equivalence."""
    from building_permissions_etl_spark.catalog import load_table
    from building_permissions_etl_spark.operators.dedup import (
        ngram_jaccard_pairs_auto,
        ngram_jaccard_pairs_inverted,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    quad = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="lang", min_jaccard=0.05
    )
    inv = ngram_jaccard_pairs_inverted(
        docs, "text", "doc_id", block_col="lang", min_jaccard=0.05
    )
    q = [(r.id_a, r.id_b, round(r.jaccard, 9)) for r in quad.collect()]
    i = [(r.id_a, r.id_b, round(r.jaccard, 9)) for r in inv.collect()]
    assert q == i and len(q) > 0
    # auto must pick SOME shape and return the same rows either way
    auto = ngram_jaccard_pairs_auto(
        docs, "text", "doc_id", block_col="lang", min_jaccard=0.05,
        switch_block_size=10,       # force the inverted branch
    )
    assert [(r.id_a, r.id_b, round(r.jaccard, 9)) for r in auto.collect()] == q


def test_ngram_inverted_df_cutoff_drops_boilerplate(spark):
    """A shingle present in > max_df docs of a block must not generate
    pairs, and Jaccard is computed over the filtered universe."""
    from building_permissions_etl_spark.operators.dedup import (
        ngram_jaccard_pairs_inverted,
    )

    # 4 docs share boilerplate "a b c"; docs 0/1 also share "x y z"
    rows = [
        (0, "a b c x y z"), (1, "a b c x y z"),
        (2, "a b c p q r"), (3, "a b c s t u"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "block", F.lit("all")
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_inverted(
            df, "text", "doc_id", "block", n=3, min_jaccard=0.01, max_df=3
        ).collect()
    }
    # shingles "a b c" / "b c x|p|s" have df<=3 except "a b c" (df=4, cut)
    assert all(v > 0 for v in got.values())
    # (0,1) still pair via their non-boilerplate shingles
    assert (0, 1) in got
    # (2,3) shared ONLY the cut boilerplate shingle → no pair
    assert (2, 3) not in got


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], "a"),
        (1, [0.999, 0.04, 0.0], "a"),     # ~same direction
        (2, [0.0, 1.0, 0.0], "a"),        # orthogonal
        (3, [1.0, 0.0, 0.0], "b"),        # same dir but different block
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pairs = embedding_neardup_pairs(df, "embedding", "vec_id", "label",
                                    min_cosine=0.9).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_minhash_signature_deterministic(spark, docs):
    a = docs.select(minhash_signature(F.col("text")).alias("s")).collect()
    b = docs.select(minhash_signature(F.col("text")).alias("s")).collect()
    assert [r.s for r in a] == [r.s for r in b]


def test_connected_components_chain_and_islands(spark):
    from building_permissions_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["id_a", "id_b"],
    )
    comp = {r["id"]: r["label"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_survivors_keep_min_and_singletons(spark):
    from building_permissions_etl_spark.operators.dedup import dedup_survivors
    from pyspark.sql import functions as F

    df = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 5), (5, 7), (2, 3)], ["id_a", "id_b"])
    got = sorted(r["doc_id"] for r in dedup_survivors(df, pairs, "doc_id").collect())
    # 5 and 7 collapse into 1; 3 into 2; 0, 4, 6 are untouched singletons
    assert got == [0, 1, 2, 4, 6]


def test_minhash_oph_finds_planted_dups(spark, docs):
    from building_permissions_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_oph_pairs,
    )

    oph = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_oph_pairs(docs, "text", "doc_id",
                                   min_est_jaccard=0.5).collect()
    }
    classic = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "text", "doc_id",
                                   min_est_jaccard=0.5).collect()
    }
    # both paths find the planted near-duplicate pairs
    assert classic and set(oph) >= classic
    assert all(0.0 <= v <= 1.0 for v in oph.values())


def test_minhash_oph_deterministic_and_no_self_match_on_short_docs(spark):
    from building_permissions_etl_spark.operators.dedup import minhash_oph_pairs
    from pyspark.sql import functions as F

    # two distinct 1-token docs: nearly all bins empty on both sides —
    # doc-salted sentinels must NOT make them match
    short = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],
        "doc_id long, text string",
    )
    pairs = minhash_oph_pairs(short, "text", "doc_id", min_est_jaccard=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 3)}   # identical docs pair; distinct ones never do
    again = {(r["id_a"], r["id_b"]) for r in minhash_oph_pairs(
        short, "text", "doc_id", min_est_jaccard=0.5).collect()}
    assert got == again


def test_connected_components_releases_caches(spark, monkeypatch):
    """Under the edge cap the driver union-find leaves no persisted
    residue. Over it (cap patched down to 2) the public entry falls
    through to the star loop, which drops its id cache and every edge
    checkpoint before returning: net persisted-RDD growth is exactly the
    returned labels frame."""
    from building_permissions_etl_spark.operators import dedup as D

    jsc = spark.sparkContext._jsc.sc()
    star_calls = []
    star = D._star_components
    monkeypatch.setattr(D, "_star_components",
                        lambda *a: star_calls.append(a) or star(*a))

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(3)], "id_a long, id_b long"
    )
    before = jsc.getPersistentRDDs().size()
    labels = D.connected_components(edges)
    assert {(r.id, r.label) for r in labels.collect()} == {(i, 0) for i in range(4)}
    assert jsc.getPersistentRDDs().size() == before
    assert star_calls == []

    monkeypatch.setattr(D, "CC_LOCAL_EDGE_CAP", 2)
    edges12 = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    before = jsc.getPersistentRDDs().size()
    labels12 = D.connected_components(edges12)
    assert len(star_calls) == 1
    assert jsc.getPersistentRDDs().size() - before <= 1
    assert {(r.id, r.label) for r in labels12.collect()} == {(i, 0) for i in range(12)}
    labels12.unpersist()


def test_hot_bucket_cap_bounds_boilerplate_flood(spark):
    """A planted boilerplate flood (60 identical docs) would generate
    ~1.8k within-bucket pairs; with the cap active those buckets are
    dropped BEFORE the self-join, real near-dups elsewhere survive, and
    the DuckDB oracle (which replicates the cap) agrees exactly."""
    import duckdb
    import pandas as pd
    from building_permissions_etl_spark.functions.portable import portable_hash64
    from building_permissions_etl_spark.operators.dedup import minhash_lsh_pairs
    from building_permissions_etl_spark.plans.extensions import _SHINGLES3
    from building_permissions_etl_spark.plans.sketch_oracles import minhash_lsh_sql

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    near_a = "the quick brown fox jumps over the lazy dog in the misty park"
    near_b = "the quick brown fox jumps over the lazy dog in the misty yard"
    rows = [(i, boiler) for i in range(60)]
    rows += [(100, near_a), (101, near_b), (102, "completely unrelated text here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(df, "text", "doc_id", base_hash=portable_hash64,
                                 max_bucket=None).collect()
    capped = minhash_lsh_pairs(df, "text", "doc_id", base_hash=portable_hash64,
                               max_bucket=8).collect()
    assert len(uncapped) >= 60 * 59 // 2          # the quadratic flood
    got = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in got                      # real near-dup survives
    assert all(a >= 100 for a, _ in got)          # flood suppressed

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = con.execute(minhash_lsh_sql(_SHINGLES3, max_bucket=8)).fetchall()
    s = sorted((r.id_a, r.id_b, round(r.est_jaccard, 6)) for r in capped)
    d = sorted((a, b, round(e, 6)) for a, b, e in oracle)
    assert s == d


def test_star_components_long_chain_bounded_rounds(spark):
    """VERDICT r03 item 8: planted long-chain component. Min-label
    propagation would need O(diameter) rounds (300 here); the
    large-star/small-star loop labels the whole chain in O(log² n)."""
    from building_permissions_etl_spark.operators.dedup import _star_components

    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels = _star_components(edges)
    got = {(r.id, r.label) for r in labels.collect()}
    labels.unpersist()
    assert got == {(i, 0) for i in range(n)}


def test_star_components_raise_when_round_guard_reached(spark, monkeypatch):
    """A loop that runs out of rounds before the edge set is stable
    must raise, never return partial (non-minimal) labels."""
    import pytest as _pytest

    from building_permissions_etl_spark.operators import dedup as D

    monkeypatch.setattr(D, "_CC_MAX_ROUNDS", 2)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        D._star_components(edges)


def test_star_components_match_propagation_on_random_graphs(spark):
    """Property: the star loop produces the min-label fixpoint (label =
    min id reachable) on arbitrary edge lists — islands, chains, stars,
    self-loops, dups. The reference labeling is the driver union-find."""
    import random

    from building_permissions_etl_spark.operators import dedup as D

    rng = random.Random(42)
    for trial in range(5):
        n_nodes = rng.randint(2, 40)
        n_edges = rng.randint(1, 60)
        pairs = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        want = {(r.id, r.label) for r in D.connected_components(df).collect()}
        star = D._star_components(df)
        got = {(r.id, r.label) for r in star.collect()}
        star.unpersist()
        assert want == got, f"trial {trial}: {sorted(want ^ got)}"


def test_cc_small_graph_short_circuit_matches_loops(spark):
    """Property: the driver union-find and the distributed star loop
    produce identical (id, label) maps on arbitrary edge lists, NULL
    endpoints included, and the union-find leaves no persisted
    residue."""
    import random

    from building_permissions_etl_spark.operators import dedup as D

    rng = random.Random(7)
    jsc = spark.sparkContext._jsc.sc()
    node = lambda n: None if rng.random() < 0.05 else rng.randrange(n)
    for trial in range(4):
        n_nodes = rng.randint(2, 50)
        pairs = [(node(n_nodes), node(n_nodes))
                 for _ in range(rng.randint(1, 80))]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        before = jsc.getPersistentRDDs().size()
        local = {(r.id, r.label)
                 for r in D.connected_components(df).collect()}
        assert jsc.getPersistentRDDs().size() == before
        star = D._star_components(df)
        got = {(r.id, r.label) for r in star.collect()}
        star.unpersist()
        assert local == got, f"trial {trial}: {sorted(local ^ got, key=str)}"


def test_cc_small_graph_null_endpoints_match_loop_semantics(spark):
    """NULL endpoints never merge components in the star loop (null join
    keys match nothing) and surface as a single (null, null) row; the
    driver union-find must replicate that exactly."""
    from building_permissions_etl_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(None, 5), (5, None), (1, 2), (None, None), (7, 7)],
        "id_a bigint, id_b bigint")
    want = {(None, None), (5, 5), (1, 1), (2, 1), (7, 7)}
    local = {(r.id, r.label) for r in D.connected_components(df).collect()}
    star = D._star_components(df)
    assert local == want
    assert {(r.id, r.label) for r in star.collect()} == want
    star.unpersist()


def test_star_components_release_caches(spark):
    """Zero checkpoint residue: every generation's localCheckpoint RDD
    blocks are freed through the tracked release handle (the DataFrame
    API alone cannot drop them — they are RDD-level persists invisible
    to the CacheManager), so net persisted-RDD growth after return is
    EXACTLY the returned labels frame. This is what lets a default-heap
    driver run the full registry sweep back-to-back."""
    from building_permissions_etl_spark.operators.dedup import _star_components

    jsc = spark.sparkContext._jsc.sc()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a long, id_b long"
    )
    before = jsc.getPersistentRDDs().size()
    labels = _star_components(edges)
    assert jsc.getPersistentRDDs().size() - before <= 1
    assert {(r.id, r.label) for r in labels.collect()} == {
        (i, 0) for i in range(100)
    }
    labels.unpersist()


def test_star_components_plans_bounded(spark, monkeypatch):
    """Every round's edge set is checkpointed, so each round is planned
    over a leaf of constant size: the analyzed tree handed to the
    checkpoint has the same node count in every round after the first
    (the first is the input edge list's own plan)."""
    from building_permissions_etl_spark.operators import dedup as D

    def n_nodes(node):
        ch = node.children()
        return 1 + sum(n_nodes(ch.apply(i)) for i in range(ch.size()))

    sizes = []
    tracked = D._local_checkpoint_tracked

    def recording(df):
        sizes.append(n_nodes(df._jdf.queryExecution().analyzed()))
        return tracked(df)

    monkeypatch.setattr(D, "_local_checkpoint_tracked", recording)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a long, id_b long"
    )
    labels = D._star_components(edges)
    assert {r.label for r in labels.collect()} == {0}
    labels.unpersist()
    assert len(sizes) >= 3
    assert len(set(sizes[1:])) == 1, sizes


def test_star_components_evaluate_pair_plan_once(spark, monkeypatch):
    """Above the edge cap the star loop evaluates the caller's pair plan
    once, into the checkpoint that feeds the edge set, the ids and the
    starting signature (a counting UDF on a 59-pair chain, cap patched
    to 10). The union-find probe evaluates part of it too, but its
    limited task ends before the Python worker reports its accumulator
    updates, so the count sees only the full passes: 59. The loop that
    checkpointed the filtered edge set and cached the ids counted 177
    (the ``u != v`` filter, pushed below the UDF's projection, evaluates
    the UDF a second time in the edge checkpoint)."""
    from pyspark.sql.types import LongType

    from building_permissions_etl_spark.operators import dedup as D

    monkeypatch.setattr(D, "CC_LOCAL_EDGE_CAP", 10)
    calls = spark.sparkContext.accumulator(0)

    def counted(v):
        calls.add(1)
        return v

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a long, id_b long"
    ).select("id_a", F.udf(counted, LongType())("id_b").alias("id_b"))
    labels = D.connected_components(pairs)
    assert {(r.id, r.label) for r in labels.collect()} == {(i, 0) for i in range(60)}
    labels.unpersist()
    assert calls.value == 59


def test_ngram_auto_forces_inverted_when_max_df_set(spark):
    """A max_df cutoff changes semantics (df-filtered shingle universe);
    only the inverted shape implements it, so auto must pick that shape
    even on tight blocks — silently ignoring the cutoff would make the
    pair set depend on the day's block occupancy."""
    from building_permissions_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
        ngram_jaccard_pairs_inverted,
    )

    # 6 tiny docs (far below switch_block_size): a boilerplate trigram
    # shared by ALL docs plus genuinely similar pairs
    boiler = "lorem ipsum dolor"
    rows = [
        (1, f"{boiler} alpha beta gamma delta"),
        (2, f"{boiler} alpha beta gamma epsilon"),
        (3, f"{boiler} zeta eta theta iota"),
        (4, f"{boiler} zeta eta theta kappa"),
        (5, f"{boiler} mu nu xi omicron"),
        (6, f"{boiler} pi rho sigma tau"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .withColumn("block", F.lit("b"))
    auto = sorted(map(tuple, ngram_jaccard_pairs_auto(
        df, "text", "doc_id", "block", max_df=2).collect()))
    inv = sorted(map(tuple, ngram_jaccard_pairs_inverted(
        df, "text", "doc_id", "block", max_df=2).collect()))
    quad = sorted(map(tuple, ngram_jaccard_pairs(
        df, "text", "doc_id", "block").collect()))
    assert auto == inv
    assert auto != quad  # the cutoff genuinely changes the answer here


def test_ngram_auto_engages_inverted_on_oversized_block(spark):
    """The occupancy pre-pass must switch the PHYSICAL shape when any
    block exceeds switch_block_size: the inverted index explodes shingles
    to postings (a Generate node in the plan), the quadratic never does.
    This is the routing the registered survivors queries rely on — an
    unbounded lang block at raw-corpus scale must not hit the quadratic
    (SCALE.md §10's 83 s case)."""
    from building_permissions_etl_spark.operators.dedup import (
        ngram_jaccard_pairs_auto,
    )

    rows = [(i, f"token{i} alpha beta gamma delta epsilon zeta")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .withColumn("block", F.lit("b"))

    # block of 30 > switch 20 → inverted shape (explode → Generate)
    inv_plan = ngram_jaccard_pairs_auto(
        df, "text", "doc_id", "block", switch_block_size=20
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" in inv_plan

    # same data under switch 100 → quadratic (no posting explode)
    quad_plan = ngram_jaccard_pairs_auto(
        df, "text", "doc_id", "block", switch_block_size=100
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" not in quad_plan


def test_checkpoint_released_per_result(spark):
    """The final edge checkpoint is freed BEFORE returning (local
    master) once the labels are a plain cache — per-result handling, no
    ambient module state keyed on later calls. The returned values must
    be intact and the only persisted residue is the labels cache itself.
    Two back-to-back calls must not interfere: the first result stays
    readable after the second call runs."""
    from building_permissions_etl_spark.operators.dedup import _star_components

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a long, id_b long"
    )
    labels = _star_components(edges)
    assert jsc.getPersistentRDDs().size() <= before + 1

    # a SECOND call before the first result is consumed must not
    # unpersist the first result's data
    small = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    l2 = _star_components(small)
    assert {r["id"] for r in labels.collect()} == set(range(40))
    assert l2.count() == 2
    labels.unpersist()
    l2.unpersist()


def test_release_retained_checkpoints_local_noop(spark):
    """On a local master every final checkpoint is released eagerly, so
    the retained-release registry stays empty and the explicit API is a
    no-op returning 0."""
    from building_permissions_etl_spark.operators import dedup as D

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a int, id_b int")
    D._star_components(pairs).collect()
    assert D._RETAINED_FINAL_RELEASES == []
    assert D.release_retained_checkpoints() == 0


def test_release_retained_checkpoints_cluster_path(spark, monkeypatch):
    """When eager final release is unsafe (cluster master), the release
    handle is retained and the explicit API frees it — cluster callers
    are bounded by their own consumption point, not context death."""
    from building_permissions_etl_spark.operators import dedup as D

    monkeypatch.setattr(D, "_eager_final_release_ok", lambda df: False)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a int, id_b int")
    labels = D._star_components(pairs)
    assert len(D._RETAINED_FINAL_RELEASES) == 1
    assert D.release_retained_checkpoints() == 1
    assert D._RETAINED_FINAL_RELEASES == []
    # the materialized label cache still serves the result afterwards
    assert {r["label"] for r in labels.collect()} == {1}

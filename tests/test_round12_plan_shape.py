"""Plan-shape pins for the round-12 persisted Bloom-register probe and
regression tests for the shared artifact store (ADVICE r11: supersede
eviction + exit cleanup) and the bounded catalog schema cache.

``bloom_register_persisted_probe``'s whole point is the claim its
round-9/11 sibling (`bloom_incremental_union`) could not evidence:
once the register artifact exists as a table, a probe never touches
the BASE partition — one ≤1024-row artifact read (consumed at
construction by ``registers_to_bits``) plus a delta-only fixture scan.
The pins make that mechanical.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from building_permissions_etl_spark.plans.registry import queries

SF_DIR = "/root/testdata/sf0.001"

Q = queries()


def _static_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bloom_probe_scans_only_the_delta(spark):
    df = Q["bloom_register_persisted_probe"](spark, SF_DIR)
    plan = _static_plan(df)
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    # exactly ONE scan: the delta over orders — the register artifact
    # was consumed at construction (bounded ≤1024-row driver read) and
    # enters the plan as a literal probe array, and the BASE partition
    # never appears anywhere
    assert len(scans) == 1, plan
    assert "orders.parquet" in scans[0], scans
    # the delta bound is pushed to the parquet reader, so only
    # post-split row groups are ever decoded
    m = re.search(r"PushedFilters: \[([^\]]*)\]", scans[0])
    assert m and "o_orderdate" in m.group(1), scans[0]
    # the probe predicate itself stays JVM-side codegen
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_probe_is_exact_on_definitely_new_keys(spark):
    """A Bloom filter has no false negatives, so every customer the
    probe emits must truly have zero base-partition orders — and the
    probe may only LOSE truly-new keys to false positives, never
    invent one. At this geometry (777 keys in 64512 bits) the
    fixture's fill is ~2%, so the emitted set should also be nearly
    all of the truly-new set."""
    from building_permissions_etl_spark.catalog import load_table
    from building_permissions_etl_spark.plans.round12_queries import (
        _BASE_END,
        _SPLIT,
    )

    od = load_table(spark, "orders", SF_DIR)
    base_keys = {r.o_custkey for r in od.filter(
        F.col("o_orderdate") < F.lit(_BASE_END)).select("o_custkey")
        .distinct().collect()}
    delta_keys = {r.o_custkey for r in od.filter(
        F.col("o_orderdate") >= F.lit(_SPLIT)).select("o_custkey")
        .distinct().collect()}
    truly_new = delta_keys - base_keys
    emitted = {r.o_custkey for r in
               Q["bloom_register_persisted_probe"](spark, SF_DIR).collect()}
    assert emitted <= truly_new
    assert emitted and len(emitted) >= 0.9 * len(truly_new)


def test_extent_probe_scans_once_with_pushed_box(spark):
    # Spark renders each plan-node metadata field (PushedFilters
    # included) truncated to spark.sql.maxMetadataStringLength (100)
    # — widen it for this test so BOTH box dimensions' range bounds
    # are assertable, not just whatever fits in the first 100 chars
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = Q["zorder_extent_persisted_prune"](spark, SF_DIR)
        plan = _static_plan(df)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    # exactly ONE scan: orders — the extent artifact was consumed at
    # construction (bounded ≤1024-row read) and enters the plan only
    # as the candidate-bucket IN-list (over a DERIVED expression, so
    # it never reaches PushedFilters; the date/price bounds do)
    assert len(scans) == 1, plan
    assert "orders.parquet" in scans[0], scans
    m = re.search(r"PushedFilters: \[([^\]]*)\]", scans[0])
    assert m, scans[0]
    pushed = m.group(1)
    assert "GreaterThanOrEqual(o_orderdate" in pushed, pushed
    assert "LessThan(o_orderdate" in pushed, pushed
    assert "GreaterThanOrEqual(o_totalprice" in pushed, pushed
    assert "LessThan(o_totalprice" in pushed, pushed
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_extent_probe_prunes_losslessly_and_nonvacuously(spark):
    """The candidate IN-list must actually skip buckets (candidacy is
    a strict subset) while the pruned box aggregate equals the
    prune-free one — the oracle proves the same equality at the
    driver, this pins it in-process against the registry's own
    prune-free siblings."""
    from building_permissions_etl_spark.catalog import load_table
    from building_permissions_etl_spark.plans.round12_queries import (
        _DATE_HI,
        _DATE_LO,
        _PRICE_HI,
        _PRICE_LO,
    )

    row = Q["zorder_extent_persisted_prune"](spark, SF_DIR).first()
    assert 0 < row.n_candidate_buckets < row.n_total_buckets
    od = load_table(spark, "orders", SF_DIR)
    full = od.filter(
        (F.col("o_orderdate") >= F.lit(_DATE_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_DATE_HI).cast("timestamp"))
        & (F.col("o_totalprice") >= float(_PRICE_LO))
        & (F.col("o_totalprice") < float(_PRICE_HI)))
    assert row.n_rows == full.count()


def test_artifact_store_supersedes_and_republishes(spark, tmp_path):
    """ADVICE r11 + round-12 review: a base-table rewrite must
    (a) republish — the new artifact reflects the NEW data, never a
    stale snapshot; (b) retire the superseded directory (queued for
    exit cleanup) WITHOUT deleting it under a lazy plan constructed
    before the rewrite; and (c) keep exactly one live cache key per
    family."""
    import os
    import time

    from building_permissions_etl_spark.plans import artifact_store
    from building_permissions_etl_spark.plans.round12_queries import (
        _register_artifact,
    )

    sf = str(tmp_path)
    # rows on BOTH sides of every family's split (bloom base < 1995-07,
    # bloom delta >= 1997-06, drift split 1998-01): a one-sided fixture
    # would make the held psi plan legitimately raise on a zero-count
    # snapshot side instead of exercising the retirement path
    base = spark.range(100).select(
        F.col("id").alias("o_custkey"),
        F.when(F.col("id") % 2 == 0, F.lit("1995-01-01"))
        .otherwise(F.lit("1999-01-01"))
        .cast("timestamp").alias("o_orderdate"),
        F.lit(10.0).alias("o_totalprice"))
    base.write.parquet(os.path.join(sf, "orders.parquet"))
    p1 = _register_artifact(spark, sf)
    root1 = os.path.dirname(p1)
    assert os.path.isdir(root1)
    n1 = spark.read.parquet(p1).count()
    # a lazy plan over the old artifacts, held across the rewrite
    # (the psi_drift_persisted shape scans artifacts at COLLECT time)
    held = Q["psi_drift_persisted"](spark, sf)

    # rewrite the base with a disjoint, larger key set
    time.sleep(0.05)
    spark.range(1000, 1400).select(
        F.col("id").alias("o_custkey"),
        F.when(F.col("id") % 2 == 0, F.lit("1995-01-01"))
        .otherwise(F.lit("1999-01-01"))
        .cast("timestamp").alias("o_orderdate"),
        F.lit(10.0).alias("o_totalprice")
    ).write.mode("overwrite").parquet(os.path.join(sf, "orders.parquet"))
    os.utime(os.path.join(sf, "orders.parquet"))  # mtime-tick guard
    p2 = _register_artifact(spark, sf)
    assert p2 != p1
    n2 = spark.read.parquet(p2).count()
    assert n2 != n1  # republished from the NEW data (400 vs 100 keys)
    # superseded dir retired (exit-cleaned), NOT deleted mid-session
    assert os.path.isdir(root1)
    assert root1 in artifact_store._RETIRED
    # exactly one live key for this (app, sf, kind)
    live = [k for k in artifact_store._CACHE
            if k[1] == sf and k[2] == "bloom_registers"]
    assert len(live) == 1
    # the drift family superseded too — and the held plan still
    # collects, because its directories were retired, not removed
    psi2 = _register_drift_and_supersede_check(spark, sf, held)
    assert psi2 is not None


def _register_drift_and_supersede_check(spark, sf, held):
    Q["psi_drift_persisted"](spark, sf)  # republish for the new base
    return held.first()  # old plan reads the RETIRED artifacts


def test_artifact_store_cleans_up_failed_prep(spark, tmp_path):
    """Round-12 review: a writer that fails mid-prep never enters the
    cache, so exit cleanup would leak its half-written root — the
    store must remove it on the failure path."""
    import os

    import pytest

    from building_permissions_etl_spark.plans import artifact_store

    sf = str(tmp_path)
    open(os.path.join(sf, "base.parquet"), "w").write("x")
    seen = {}

    def bad_writer(root):
        os.makedirs(root)
        open(os.path.join(root, "partial"), "w").write("partial")
        seen["root"] = root
        raise RuntimeError("disk full")

    with pytest.raises(RuntimeError, match="disk full"):
        artifact_store.publish_artifacts(spark, sf, "base.parquet",
                                         "failkind", bad_writer)
    assert not os.path.exists(seen["root"])
    assert not [k for k in artifact_store._CACHE if k[2] == "failkind"]


def test_artifact_store_exit_cleanup_removes_live_and_retired(tmp_path):
    import os

    from building_permissions_etl_spark.plans import artifact_store

    live = os.path.join(str(tmp_path), "live_dir")
    retired = os.path.join(str(tmp_path), "retired_dir")
    os.makedirs(live)
    os.makedirs(retired)
    saved_cache = dict(artifact_store._CACHE)
    saved_retired = list(artifact_store._RETIRED)
    try:
        artifact_store._CACHE.clear()
        artifact_store._RETIRED.clear()
        artifact_store._CACHE[("app", "sf", "k", (1, 1))] = (live, {})
        artifact_store._RETIRED.append(retired)
        artifact_store._cleanup_all()
        assert not os.path.exists(live) and not os.path.exists(retired)
    finally:
        artifact_store._CACHE.update(saved_cache)
        artifact_store._RETIRED.extend(saved_retired)


def test_schema_cache_is_bounded():
    """VERDICT r11: the catalog schema cache must not grow without
    bound in a long-lived service driver. Evicts LRU-first."""
    from building_permissions_etl_spark import catalog

    saved = dict(catalog._SCHEMA_CACHE)
    try:
        catalog._SCHEMA_CACHE.clear()
        for i in range(catalog._SCHEMA_CACHE_MAX + 50):
            catalog._cache_put((f"/p{i}", i, i), object())
        assert len(catalog._SCHEMA_CACHE) == catalog._SCHEMA_CACHE_MAX
        # oldest keys evicted, newest retained
        assert ("/p0", 0, 0) not in catalog._SCHEMA_CACHE
        last = catalog._SCHEMA_CACHE_MAX + 49
        assert (f"/p{last}", last, last) in catalog._SCHEMA_CACHE
    finally:
        catalog._SCHEMA_CACHE.clear()
        catalog._SCHEMA_CACHE.update(saved)


def test_schema_cache_misses_on_same_tick_different_size(spark, tmp_path):
    """ADVICE r11 (events cache nit): the cache key carries total byte
    size next to mtime_ns, so an in-place rewrite landing in the SAME
    mtime tick still misses the cache when the bytes changed — the
    realistic rewrite case (only a same-tick byte-identical-length
    rewrite can still collide, the documented residual)."""
    import os

    from building_permissions_etl_spark import catalog

    p = os.path.join(str(tmp_path), "part.parquet")
    spark.createDataFrame([(1, "a")], "p_partkey int, p_name string") \
        .write.parquet(p)
    df1 = catalog.load_table(spark, "part", str(tmp_path))
    assert "extra" not in df1.columns
    mt = os.stat(p).st_mtime_ns
    spark.createDataFrame([(2, "b", 9)],
                          "p_partkey int, p_name string, extra int") \
        .write.mode("overwrite").parquet(p)
    # force the SAME directory mtime tick as the first write
    os.utime(p, ns=(mt, mt))
    assert os.stat(p).st_mtime_ns == mt
    df2 = catalog.load_table(spark, "part", str(tmp_path))
    assert "extra" in df2.columns  # size component caught the rewrite

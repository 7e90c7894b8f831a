"""Plan-shape pins for the round-13 persisted-family queries and
regression tests for the round-12 ADVICE items (bloom-oracle byte
stability, partitioned-layout _stat_key bytes, _RETIRED re-entry
dedupe).

``zorder_partitioned_file_skip``'s whole point is the claim its
round-12 sibling (`zorder_extent_persisted_prune`) could not evidence
on the unpartitioned fixture: with the layout real (base written
``partitionBy("zfile")``), the artifact-derived candidate IN-list is
DIRECTORY-level skipping — it lands in **PartitionFilters**, so
non-candidate files are never opened and scan cost tracks the
candidate fraction, not N. ``cusum_state_persisted_probe`` closes the
last maintained family: the probe folds a pushed-filter DELTA scan
into published shard partials and never re-reads the base.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from building_permissions_etl_spark.plans.registry import oracle_sql, queries
from tests.plan_nodes import iter_plan_nodes

SF_DIR = "/root/testdata/sf0.001"

Q = queries()


def _static_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_metrics(df) -> dict:
    """Metrics of the (single) scan node in a df's EXECUTED plan —
    call after an action so the values belong to the plan that ran."""
    hits = []
    for node in iter_plan_nodes(df):
        if "Scan" in node.nodeName():
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                hits.append((kv._1(), kv._2().value()))
    return dict(hits)


def test_bloom_union_oracle_text_is_stable():
    """ADVICE r12: `sketch_oracles.bloom_regs_sql` claims
    `bloom_incremental_union`'s oracle is byte-stable across the
    round-12 hoist — make the claim mechanical. A drift in the
    maintenance-module geometry/affine constants (or in the emitted
    SQL text) now fails here instead of silently rewriting the
    oracle; if this fires intentionally, update the digest."""
    sql = oracle_sql()["bloom_incremental_union"]
    assert hashlib.sha256(sql.encode()).hexdigest() == (
        "2f6bb7bd7c884ff482b3e82834eafaa1cf6a37897c58b8f7708368095442fd70")


def test_zfile_skip_prunes_via_partition_filters(spark):
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = Q["zorder_partitioned_file_skip"](spark, SF_DIR)
        plan = _static_plan(df)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    # exactly ONE scan — over the z-file-PARTITIONED layout artifact,
    # never the fixture: the extent artifact was consumed at
    # construction (bounded ≤64-row read)
    assert len(scans) == 1, plan
    assert "orders_by_zfile.parquet" in scans[0], scans
    assert "orders.parquet]" not in scans[0], scans
    # the candidate IN-list is DIRECTORY-level skipping: it must land
    # in PartitionFilters (round 12's unpartitioned prune was a
    # row-level derived-expr filter — the gap this query closes)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", scans[0])
    assert m and "zfile" in m.group(1) and " IN (" in m.group(1), scans[0]
    # and the box bounds still reach the parquet reader for the
    # candidate files that ARE opened
    p = re.search(r"PushedFilters: \[([^\]]*)\]", scans[0])
    assert p, scans[0]
    pushed = p.group(1)
    assert "GreaterThanOrEqual(o_orderdate" in pushed, pushed
    assert "LessThan(o_orderdate" in pushed, pushed
    assert "GreaterThanOrEqual(o_totalprice" in pushed, pushed
    assert "LessThan(o_totalprice" in pushed, pushed
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zfile_skip_is_lossless_and_nonvacuous(spark):
    """The pruned box aggregate must equal the prune-free one computed
    from the fixture directly (the oracle proves the same equality at
    the driver — this pins it in-process), and the candidate set must
    be a strict subset so the skip is real, not vacuous."""
    from building_permissions_etl_spark.catalog import load_table
    from building_permissions_etl_spark.plans.round12_queries import (
        _DATE_HI,
        _DATE_LO,
        _PRICE_HI,
        _PRICE_LO,
    )

    row = Q["zorder_partitioned_file_skip"](spark, SF_DIR).first()
    assert 0 < row.n_candidate_files < row.n_total_files
    od = load_table(spark, "orders", SF_DIR)
    full = od.filter(
        (F.col("o_orderdate") >= F.lit(_DATE_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_DATE_HI).cast("timestamp"))
        & (F.col("o_totalprice") >= float(_PRICE_LO))
        & (F.col("o_totalprice") < float(_PRICE_HI)))
    assert row.n_rows == full.count() > 0


def test_zfile_skip_reads_only_candidate_files_at_runtime(spark):
    """Stronger than the plan-string pin: after execution, the scan
    node's OWN metrics must show exactly n_candidate_files files read
    (and that many partition directories) — directory-level skipping
    measured by the engine, not inferred from the plan text."""
    df = Q["zorder_partitioned_file_skip"](spark, SF_DIR)
    # collect() (not first()) so the metrics below belong to the plan
    # that actually executed — first() runs a separate limited job
    row = df.collect()[0]
    metrics = _scan_metrics(df)
    assert metrics.get("numFiles") == row.n_candidate_files, metrics
    assert metrics.get("numPartitions") == row.n_candidate_files, metrics
    assert row.n_candidate_files < row.n_total_files


def test_zfile_incremental_skip_survives_the_append(spark):
    """The layout-under-ingest variant: after a delta batch is
    APPENDED into the partition directories (so candidate partitions
    hold multiple files) and the extent table is maintained by
    merge_extent_tables, the skip must still read exactly the
    candidate DIRECTORIES — and more files than directories, proving
    the multi-file-per-partition steady state is what executed."""
    df = Q["zorder_layout_incremental_skip"](spark, SF_DIR)
    row = df.collect()[0]
    assert 0 < row.n_candidate_files < row.n_total_files
    metrics = _scan_metrics(df)
    assert metrics.get("numPartitions") == row.n_candidate_files, metrics
    # base write + delta append = ≥2 files in at least one candidate dir
    assert metrics.get("numFiles") > row.n_candidate_files, metrics
    # and the values equal the single-load layout's (same box, same
    # logical table — the append and the extent merge changed nothing)
    single = Q["zorder_partitioned_file_skip"](spark, SF_DIR).collect()[0]
    assert (row.n_rows, row.revenue_cents) == (
        single.n_rows, single.revenue_cents)


def test_zfile_incr_extents_not_double_counted(spark):
    """ADVICE r13: base extents are MATERIALIZED (written to parquet)
    before the delta append, so the merged extent table's n must sum
    to exactly the fixture row count and the base side to exactly the
    base partition — if the base extent plan instead listed layout
    files AFTER the append (the lazy-listing hazard), delta rows would
    be double-counted in n while min/max and the oracle's file counts
    stayed unchanged (duplication-idempotent)."""
    from building_permissions_etl_spark.catalog import load_table
    from building_permissions_etl_spark.plans.round9_queries import _SPLIT
    from building_permissions_etl_spark.plans.round13_queries import (
        _layout_incr_artifact,
    )

    paths = _layout_incr_artifact(spark, SF_DIR)
    od = load_table(spark, "orders", SF_DIR)
    merged_n = (spark.read.parquet(paths["zfile_extents_merged"])
                .agg(F.sum("n")).first()[0])
    assert merged_n == od.count()
    base_n = (spark.read.parquet(paths["zfile_extents_base"])
              .agg(F.sum("n")).first()[0])
    assert base_n == od.filter(F.col("o_orderdate") < F.lit(_SPLIT)).count()


def test_cusum_headroom_guard_trips_near_overflow(spark):
    """ADVICE r13: the cross-multiplied deviations grow ~quadratically
    with partition size, and Spark (non-ANSI) wraps BIGINT silently
    where DuckDB raises — the guard in _cusum_artifact must make the
    Spark side loud before the wrap. Synthetic partials at the bound
    must raise; the graded fixture's real partials must clear it with
    wide margin."""
    import pytest

    from building_permissions_etl_spark.plans.round13_queries import (
        _assert_bigint_headroom,
        _cusum_artifact,
    )

    cols = ["event_type", "shard", "a", "rmax", "b0max", "b"]
    ok = spark.createDataFrame([("x", 1, 10, 5, 7, 12)], cols)
    _assert_bigint_headroom(ok)  # far from the bound: no raise
    hot = spark.createDataFrame([("x", 1, 1 << 61, 5, 7, 12)], cols)
    with pytest.raises(ValueError, match="overflow"):
        _assert_bigint_headroom(hot)
    # and the real artifact passes through the guard at build time
    paths = _cusum_artifact(spark, SF_DIR)
    _assert_bigint_headroom(spark.read.parquet(paths["cusum_shards"]))


def test_cusum_probe_scans_only_the_delta(spark):
    # widen the per-field metadata render so the Location paths and
    # full PushedFilters are assertable (same as the extent-probe pin)
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = Q["cusum_state_persisted_probe"](spark, SF_DIR)
        plan = _static_plan(df)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    # exactly THREE scans: the two artifacts (reference level + base
    # shard partials) and ONE events scan — the delta, with the split
    # pushed to the parquet reader; the base partition's rows are
    # never re-read
    assert len(scans) == 3, plan
    ev = [s for s in scans if "events.parquet" in s]
    assert len(ev) == 1, scans
    m = re.search(r"PushedFilters: \[([^\]]*)\]", ev[0])
    assert m and "GreaterThanOrEqual(ts,2024-01-25" in m.group(1), ev[0]
    art = [s for s in scans if "events.parquet" not in s]
    assert any("cusum_ref.parquet" in s for s in art), scans
    assert any("cusum_shards.parquet" in s for s in art), scans
    # the ≤5-row reference level joins the delta broadcast, and
    # everything stays JVM-side
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cusum_probe_equals_independent_python_rebuild(spark):
    """Value check against a from-scratch, engine-free recomputation:
    DuckDB reads the fixture's naive wall clock directly, Python
    replays the one-sided CUSUM recurrence row by row against the
    fixed base reference level — any error in the shard algebra, the
    persisted-state path, or the delta fold diverges here."""
    import duckdb

    from building_permissions_etl_spark.plans.round13_queries import (
        _CUSUM_SPLIT,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT event_type, ts, event_id, "
        f"CAST(floor(value * 100) AS BIGINT) AS x "
        f"FROM read_parquet('{SF_DIR}/events.parquet') "
        f"ORDER BY event_type, ts, event_id").fetchall()
    split = __import__("datetime").datetime.fromisoformat(_CUSUM_SPLIT)
    ref: dict = {}
    for t, ts, _eid, x in rows:
        if ts < split:
            n0, tot0 = ref.get(t, (0, 0))
            ref[t] = (n0 + 1, tot0 + x)
    expect: dict = {}
    for t, ts, _eid, x in rows:
        if t not in ref:
            continue
        n0, tot0 = ref[t]
        s, mx = expect.get(t, (0, 0))
        s = max(0, s + x * n0 - tot0)
        expect[t] = (s, max(mx, s))
    got = {r.event_type: (r.final_state, r.max_excursion)
           for r in Q["cusum_state_persisted_probe"](spark, SF_DIR).collect()}
    assert got == expect


def test_cusum_probe_is_timezone_independent(spark):
    """Round-13 review: shards were date_trunc('day') on the ltz ts —
    SESSION-zone day boundaries — so under a non-UTC session the
    naive-UTC split straddled a shard (base and delta both emitting a
    row for the same (type, day), fold tie-order unspecified). Shards
    are now zone-free epoch days (the analytics.dau precedent): the
    shard-key union must stay duplicate-free and the result identical
    under any session zone."""
    from building_permissions_etl_spark.plans.round13_queries import (
        _cusum_artifact,
        _cusum_shard_partials,
        _events_ts_filtered,
    )

    from building_permissions_etl_spark.plans import artifact_store

    utc_rows = sorted(map(tuple, Q["cusum_state_persisted_probe"](
        spark, SF_DIR).collect()))
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # ADVICE r13: evict the cached artifact so PREP REBUILDS under
        # the NY session — publish_artifacts would otherwise serve the
        # UTC-built base (same app/sf/kind/stat key) and only the
        # delta side would exercise the non-UTC path. Retire-then-
        # republish follows the store's own supersede protocol; the
        # rebuilt root re-derives the same name and is removed from
        # _RETIRED on re-admission.
        for k in [k for k in artifact_store._CACHE
                  if k[2] == "cusum_state"]:
            old_root, _ = artifact_store._CACHE.pop(k)
            artifact_store._RETIRED.append(old_root)
        paths = _cusum_artifact(spark, SF_DIR)
        base_keys = [(r.event_type, r.shard) for r in
                     spark.read.parquet(paths["cusum_shards"])
                     .select("event_type", "shard").collect()]
        ref = spark.read.parquet(paths["cusum_ref"])
        delta = _events_ts_filtered(spark, SF_DIR,
                                    lambda ts, split: ts >= split)
        q = delta.select(
            "event_type", "ts", "event_id",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("x"))
        delta_keys = [(r.event_type, r.shard) for r in
                      _cusum_shard_partials(ref, q)
                      .select("event_type", "shard").collect()]
        union = base_keys + delta_keys
        assert len(union) == len(set(union)), (
            "split straddles a shard — base and delta emitted the "
            "same (type, day) key")
        ny_rows = sorted(map(tuple, Q["cusum_state_persisted_probe"](
            spark, SF_DIR).collect()))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert ny_rows == utc_rows


def test_stat_key_falls_back_whole_on_walk_error(tmp_path, monkeypatch):
    """Round-13 review: an OSError mid-walk (a subdir vanishing under
    a concurrent rewrite) must fall back to the deterministic
    directory st_size, never commit 0 or a partial sum — two base
    states observed during separate error windows would otherwise both
    key as (mtime, 0) and serve a stale artifact."""
    import os

    from building_permissions_etl_spark import catalog

    d = tmp_path / "t.parquet"
    (d / "k=1").mkdir(parents=True)
    (d / "k=1" / "part").write_bytes(b"x" * 100)
    st = os.stat(str(d))

    real_scandir = os.scandir

    def failing_scandir(p):
        if str(p) == str(d):
            return real_scandir(p)
        raise OSError("transient")

    monkeypatch.setattr(catalog.os, "scandir", failing_scandir)
    assert catalog._stat_key(str(d)) == (st.st_mtime_ns, st.st_size)


def test_stat_key_counts_partitioned_layout_bytes(tmp_path):
    """ADVICE r12: a Hive-partitioned parquet directory keeps its bytes
    in key=... subdirs — _stat_key must count them (one level down),
    or the size component the same-tick rewrite guard relies on would
    report ~0 for partitioned layouts."""
    import os

    from building_permissions_etl_spark.catalog import _stat_key

    d = tmp_path / "t.parquet"
    (d / "zfile=1").mkdir(parents=True)
    (d / "zfile=2").mkdir()
    (d / "zfile=1" / "part-0.parquet").write_bytes(b"x" * 100)
    (d / "zfile=2" / "part-0.parquet").write_bytes(b"y" * 50)
    (d / "_SUCCESS").write_bytes(b"")
    mt, size = _stat_key(str(d))
    assert size == 150
    # rewrite one partition's file in the SAME directory-mtime tick:
    # the size component must still move
    (d / "zfile=2" / "part-0.parquet").write_bytes(b"y" * 70)
    os.utime(str(d), ns=(mt, mt))
    assert _stat_key(str(d)) == (mt, 170)


def test_artifact_store_reentry_dedupes_retired(tmp_path):
    """ADVICE r12: a base restored to an identical (mtime_ns, size)
    re-derives the SAME artifact root name as a directory already in
    _RETIRED; re-admission must remove it from the retired queue, or
    the exit sweep would delete the LIVE artifact through the stale
    queue entry (latent double-ownership of one path)."""
    import os
    import shutil

    from building_permissions_etl_spark.plans import artifact_store

    class _FakeCtx:
        applicationId = "reentry-test-app"

    class _FakeSpark:
        sparkContext = _FakeCtx()

    sf = str(tmp_path)
    base = os.path.join(sf, "base.parquet")

    def writer(root):
        os.makedirs(root, exist_ok=True)
        open(os.path.join(root, "a"), "w").write("a")
        return {"a": os.path.join(root, "a")}

    def publish():
        return artifact_store.publish_artifacts(
            _FakeSpark(), sf, "base.parquet", "reentrykind", writer)

    roots = []
    try:
        open(base, "w").write("v1")
        st1 = os.stat(base)
        p1 = publish()
        root1 = os.path.dirname(p1["a"])
        roots.append(root1)
        # rewrite: different size → different key → root1 retired
        open(base, "w").write("v2-longer")
        p2 = publish()
        roots.append(os.path.dirname(p2["a"]))
        assert root1 in artifact_store._RETIRED
        # restore byte-identical content + original mtime: the key —
        # and therefore the root NAME — matches the retired dir
        open(base, "w").write("v1")
        os.utime(base, ns=(st1.st_mtime_ns, st1.st_mtime_ns))
        p3 = publish()
        assert os.path.dirname(p3["a"]) == root1
        assert root1 not in artifact_store._RETIRED
        live = [k for k in artifact_store._CACHE if k[2] == "reentrykind"]
        assert len(live) == 1
    finally:
        for k in [k for k in artifact_store._CACHE
                  if k[2] == "reentrykind"]:
            artifact_store._CACHE.pop(k)
        artifact_store._RETIRED[:] = [
            r for r in artifact_store._RETIRED if r not in roots]
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)

"""Plan-shape and lifecycle pins for the round-14 compaction query,
plus the byte-stability pins for the two round-14 text moves (the
round-9 quantizer fold and the z-file box-oracle hoist).

``zorder_layout_compacted_skip``'s claim is the inverse of its
round-13 sibling's: after OPTIMIZE bin-packing rewrites the
fragmented partitions, the executed probe scan's own metrics must
show ``numFiles`` back at ``n_candidate_files`` (one file per
candidate directory — round 13 pinned ``numFiles >
n_candidate_files`` to prove the fragmented steady state), with
values unchanged and the extent table carried over verbatim.
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import functions as F

from building_permissions_etl_spark.plans.registry import oracle_sql, queries

# ONE walker for all plan-shape suites (review r14): a fix to the
# subtle JVM traversal (AQE wrapper probing, metrics unpacking) must
# not leave a stale copy asserting old logic in another file.
from tests.test_round13_plan_shape import _scan_metrics, _static_plan

SF_DIR = "/root/testdata/sf0.001"

Q = queries()


def test_zorder_merge_oracle_stable_across_quantizer_fold():
    """Round-14 fold of round9_queries' inline quantizers onto the
    hoisted ZQ_* names: the emitted oracle SQL must be byte-identical
    to the pre-fold text. If this fires intentionally, update the
    digest."""
    sql = oracle_sql()["zorder_extent_merge"]
    assert hashlib.sha256(sql.encode()).hexdigest() == (
        "f6a5d3558df568e0e131f1a7214dd59743a57c30b83ba70d60b1e88fe5959871")


def test_zfile_box_oracle_stable_and_shared_by_all_three():
    """The round-14 hoist of the shared box oracle to
    round13_queries._ZFILE_BOX_ORACLE must be byte-stable (round-13
    evidence for the two existing queries stays live), and all three
    layout probes — single-load, incremental, compacted — must share
    ONE text: the prune-free box plus full-rebuild counts is what
    makes value parity prove losslessness / append-completeness /
    compaction-completeness respectively."""
    o = oracle_sql()
    texts = {o["zorder_partitioned_file_skip"],
             o["zorder_layout_incremental_skip"],
             o["zorder_layout_compacted_skip"]}
    assert len(texts) == 1
    assert hashlib.sha256(texts.pop().encode()).hexdigest() == (
        "d848990eeb68eecd68c4e5ea485ffad1ac3ba46246ddb25b210e935a2494cde3")


def test_compacted_skip_reads_one_file_per_candidate_dir(spark):
    """The headline runtime pin, the exact inverse of round 13's
    fragmented-state pin: after compaction the executed probe scan's
    own metrics must show numFiles == numPartitions ==
    n_candidate_files (one file per candidate directory), values
    identical to the fragmented incremental layout's (same box, same
    logical table — compaction moved bytes, not values), and the
    carried-over extent table still pruning 6 of 64 files."""
    df = Q["zorder_layout_compacted_skip"](spark, SF_DIR)
    row = df.collect()[0]
    assert 0 < row.n_candidate_files < row.n_total_files
    metrics = _scan_metrics(df)
    assert metrics.get("numFiles") == row.n_candidate_files, metrics
    assert metrics.get("numPartitions") == row.n_candidate_files, metrics
    incr = Q["zorder_layout_incremental_skip"](spark, SF_DIR).collect()[0]
    assert tuple(row) == tuple(incr)
    # and the compaction measurably shrank the table: the stats
    # artifact records the fragmented → packed transition, ending at
    # one file per partition across the whole layout
    from building_permissions_etl_spark.plans.round14_queries import (
        _layout_compact_artifact,
    )

    st = spark.read.parquet(
        _layout_compact_artifact(spark, SF_DIR)["compact_stats"]).first()
    assert st.n_touched > 0
    assert st.files_before > st.files_after == st.n_partitions


def test_compaction_rewrites_only_touched_partitions(spark, tmp_path):
    """Unit pin on the operator itself: only multi-file partitions are
    rewritten — untouched directories keep their exact files (name,
    size, mtime), values survive byte-for-byte, the staging root is
    gone afterwards, and a second compaction is a no-op."""
    from building_permissions_etl_spark.operators.maintenance import (
        compact_partitioned_layout,
        list_partition_files,
    )

    path = str(tmp_path / "t.parquet")
    base = spark.createDataFrame(
        [(i % 3, i) for i in range(30)], "p int, k int")
    base.repartition("p").write.partitionBy("p").parquet(path)
    delta = spark.createDataFrame(
        [(0, 100 + i) for i in range(5)], "p int, k int")
    delta.repartition("p").write.mode("append").partitionBy("p") \
        .parquet(path)

    def snapshot(dirs):
        out = {}
        for d in dirs:
            pdir = os.path.join(path, d)
            out[d] = sorted(
                (f, os.stat(os.path.join(pdir, f)).st_size,
                 os.stat(os.path.join(pdir, f)).st_mtime_ns)
                for f in os.listdir(pdir) if not f.startswith((".", "_")))
        return out

    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    inv = list_partition_files(path, "p")
    assert {d: len(fs) for d, fs in inv.items()} == {
        "p=0": 2, "p=1": 1, "p=2": 1}
    untouched_before = snapshot(["p=1", "p=2"])

    stats = compact_partitioned_layout(spark, path, "p")
    assert stats["touched"] == ["p=0"]
    assert (stats["n_partitions"], stats["n_touched"]) == (3, 1)
    assert (stats["files_before"], stats["files_after"]) == (4, 3)
    after = list_partition_files(path, "p")
    assert {d: len(fs) for d, fs in after.items()} == {
        "p=0": 1, "p=1": 1, "p=2": 1}
    assert snapshot(["p=1", "p=2"]) == untouched_before
    assert sorted(map(tuple, spark.read.parquet(path).collect())) \
        == before_rows
    assert not os.path.exists(path + ".compact-staging")
    # idempotent: nothing left to pack
    again = compact_partitioned_layout(spark, path, "p")
    assert again["n_touched"] == 0
    assert again["files_after"] == again["files_before"] == 3


def test_probe_guards_delta_side_headroom(spark):
    """Review r14: the build-time headroom guard covers only the base
    partials — the probe's fold also unions DELTA partials computed at
    probe time, and a delta day-shard hotter than every base shard is
    exactly the burst a CUSUM detects. The lazy in-plan guard
    (`_shards_headroom_guarded`) must pass sane partials through
    unchanged and raise on a hot one at collect time."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from building_permissions_etl_spark.plans.round13_queries import (
        _shards_headroom_guarded,
    )

    cols = ["event_type", "shard", "a", "rmax", "b0max", "b"]
    ok = spark.createDataFrame(
        [("x", 1, 10, 5, 7, 12), ("x", 2, -3, 2, 2, 0)], cols)
    assert sorted(map(tuple, _shards_headroom_guarded(ok).collect())) \
        == sorted(map(tuple, ok.collect()))
    hot = spark.createDataFrame(
        [("x", 1, 10, 5, 7, 12), ("x", 2, 1 << 61, 5, 7, 12)], cols)
    with pytest.raises((SparkRuntimeException, Py4JJavaError),
                       match="overflow"):
        _shards_headroom_guarded(hot).collect()


def test_compaction_roundtrips_escaped_string_partitions(spark, tmp_path):
    """Review r14: Spark %-escapes special characters in partition dir
    names ('a:b' → 'p=a%3Ab'); the dir→value parse must unquote (and
    parse by column DTYPE, not by guessing int from the text), or the
    rewrite filter selects zero rows and the commit loop aborts. A
    NULL-valued partition is left fragmented by design and surfaced
    in the stats."""
    from building_permissions_etl_spark.operators.maintenance import (
        compact_partitioned_layout,
        list_partition_files,
    )

    path = str(tmp_path / "s.parquet")
    rows = [("a:b", i) for i in range(6)] + [("plain", 9), (None, 10)]
    df = spark.createDataFrame(rows, "p string, k int")
    df.repartition("p").write.partitionBy("p").parquet(path)
    df.repartition("p").write.mode("append").partitionBy("p") \
        .parquet(path)
    before_rows = sorted(
        map(tuple, spark.read.parquet(path).collect()))

    stats = compact_partitioned_layout(spark, path, "p")
    assert stats["touched"] == ["p=a%3Ab", "p=plain"]
    assert stats["n_skipped_null"] == 1
    after = list_partition_files(path, "p")
    assert len(after["p=a%3Ab"]) == 1
    assert len(after["p=plain"]) == 1
    assert len(after["p=__HIVE_DEFAULT_PARTITION__"]) == 2
    assert sorted(map(tuple, spark.read.parquet(path).collect())) \
        == before_rows


def test_compaction_scan_prunes_to_touched_partitions(spark):
    """The rewrite's own scan must open ONLY the fragmented
    directories: drive compaction_read (the exact frame the operator
    writes from) against the round-13 incremental artifact — reading
    doesn't mutate it — and pin both the plan (candidate IN-list in
    PartitionFilters) and the executed metrics (numPartitions == the
    multi-file directory count, numFiles == exactly their files)."""
    from building_permissions_etl_spark.operators.maintenance import (
        compaction_read,
        list_partition_files,
    )
    from building_permissions_etl_spark.plans.round13_queries import (
        _layout_incr_artifact,
    )

    layout = _layout_incr_artifact(spark, SF_DIR)["orders_by_zfile_incr"]
    inv = list_partition_files(layout, "zfile")
    multi = {d: fs for d, fs in inv.items() if len(fs) > 1}
    assert 0 < len(multi) < len(inv)
    vals = [int(d.split("=", 1)[1]) for d in multi]

    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = compaction_read(spark, layout, "zfile", vals)
        plan = _static_plan(df)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    assert len(scans) == 1, plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", scans[0])
    assert m and "zfile" in m.group(1) and " IN (" in m.group(1), scans[0]

    df.collect()
    metrics = _scan_metrics(df)
    assert metrics.get("numPartitions") == len(multi), metrics
    assert metrics.get("numFiles") == sum(
        len(fs) for fs in multi.values()), metrics


def test_lifecycle_skip_probes_the_mixed_steady_state(spark):
    """The full loop (append → compact → append) ships a layout where
    some candidate directories are packed (one file) and some were
    re-fragmented by the ingest AFTER the OPTIMIZE: the executed probe
    must read exactly the candidate directories (numPartitions) and
    exactly their files (numFiles == the driver-side listing's count,
    between the packed floor and the fragmented ceiling), values must
    equal the other layout variants' (same box, same logical table),
    and the twice-merged carried extent table must still sum to the
    full fixture row count."""
    from building_permissions_etl_spark.catalog import load_table
    from building_permissions_etl_spark.operators.maintenance import (
        list_partition_files,
    )
    from building_permissions_etl_spark.plans.round12_queries import (
        _DAY_HI,
        _DAY_LO,
        _PRICE_HI,
        _PRICE_LO,
    )
    from building_permissions_etl_spark.plans.round14_queries import (
        _layout_lifecycle_artifact,
    )

    df = Q["zorder_layout_lifecycle_skip"](spark, SF_DIR)
    row = df.collect()[0]
    metrics = _scan_metrics(df)
    paths = _layout_lifecycle_artifact(spark, SF_DIR)
    ext = spark.read.parquet(paths["zfile_extents_cycle"]).collect()
    cand = sorted(int(r["bucket"]) for r in ext
                  if r["max_day"] >= _DAY_LO and r["min_day"] < _DAY_HI
                  and r["max_price"] >= _PRICE_LO
                  and r["min_price"] < _PRICE_HI)
    assert row.n_candidate_files == len(cand) > 0
    inv = list_partition_files(paths["orders_by_zfile_cycle"], "zfile")
    cand_files = [len(inv[f"zfile={z}"]) for z in cand]
    assert metrics.get("numPartitions") == row.n_candidate_files, metrics
    assert metrics.get("numFiles") == sum(cand_files), metrics
    # the MIXED state is what this query exists to prove: packed and
    # re-fragmented directories both present among the candidates
    assert min(cand_files) == 1 and max(cand_files) >= 2, cand_files
    # values identical across all three layout variants (append and
    # rewrite moved bytes, never values)
    compacted = Q["zorder_layout_compacted_skip"](spark, SF_DIR).collect()[0]
    assert tuple(row) == tuple(compacted)
    # the carried extent table was merged, survived the rewrite, and
    # merged again — its n must still sum to exactly the fixture
    n_sum = sum(r["n"] for r in ext)
    assert n_sum == load_table(spark, "orders", SF_DIR).count()
    # and the mid-cycle OPTIMIZE measurably packed the delta-1 state
    st = spark.read.parquet(paths["cycle_stats"]).first()
    assert st.n_touched > 0
    assert st.files_before > st.files_after == st.n_partitions

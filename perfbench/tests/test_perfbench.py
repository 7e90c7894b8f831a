"""Tests of the benchmark itself: input generators, ground truth, the
percentile rule, metric names and the stage-metric delta reader.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import subprocess
import time
from collections import Counter

import pytest

import check_etl
import permits
import procs
import run
import spans
import stats
import tables
import workloads

BENCHMARK_JSON = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


# --- generators ----------------------------------------------------------

def _tree_bytes(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_tables_same_seed_same_bytes(tmp_path):
    tables.write(str(tmp_path / "a"), 5, 0.001)
    tables.write(str(tmp_path / "b"), 5, 0.001)
    tables.write(str(tmp_path / "c"), 6, 0.001)
    a, b, c = (_tree_bytes(str(tmp_path / x)) for x in "abc")
    assert set(a) == {f"{t}.parquet" for t in tables.TABLES}
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_tables_match_fixture_schema():
    import pyarrow as pa

    t = tables.build(1, 0.001)
    assert t["events"].schema.field("ts").type == pa.timestamp("us")
    assert t["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    assert t["nation"].schema.field("n_nationkey").type == pa.int32()
    texts = t["documents"].column("text").to_pylist()
    assert len(texts) == 500
    assert sum(x.endswith(" dup") for x in texts) == 25      # planted near duplicates


FIXTURE_DIR = os.environ.get("PERFBENCH_FIXTURE_DIR", "")


@pytest.mark.skipif(not os.path.isdir(FIXTURE_DIR),
                    reason="set PERFBENCH_FIXTURE_DIR to a query-fixture directory (sf0.1)")
def test_tables_match_fixture_profile():
    """The generated tables against a fixture directory at the scale of
    its name: row counts, schemas, value domains and the text and vector
    shapes the corpus operators depend on. The tolerances are set for
    sf0.1, the benchmark's scale; at sf0.01 and below the fixture tables
    are too small for them."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sf = float(re.search(r"sf([0-9.]+)$", FIXTURE_DIR.rstrip("/")).group(1))
    ours = tables.build(7, sf)
    for name in tables.TABLES:
        fix = pq.read_table(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
        gen = ours[name]
        assert gen.num_rows == fix.num_rows, name
        assert gen.schema == fix.schema.remove_metadata(), name
        for col in fix.column_names:
            a, b = fix[col], gen[col]
            if pa.types.is_list(a.type):
                continue
            na, nb = pc.count_distinct(a).as_py(), pc.count_distinct(b).as_py()
            assert abs(na - nb) <= max(3, 0.02 * na), (name, col, na, nb)
            if pa.types.is_string(a.type):
                if na <= 100:
                    assert set(pc.unique(a).to_pylist()) == set(pc.unique(b).to_pylist())
                continue
            if fix.num_rows < 1000:         # extremes of a few draws
                continue
            fa, fb = pc.min_max(a).as_py(), pc.min_max(b).as_py()
            if pa.types.is_timestamp(a.type):
                assert abs((fa["min"] - fb["min"]).days) <= 1, (name, col)
                assert abs((fa["max"] - fb["max"]).days) <= 1, (name, col)
            else:
                span = (fa["max"] - fa["min"]) or 1
                assert abs(fa["min"] - fb["min"]) <= 0.05 * span, (name, col)
                assert abs(fa["max"] - fb["max"]) <= 0.15 * span, (name, col)

    def text_profile(t):
        texts = t.column("text").to_pylist()
        words = [x.split(" ") for x in texts]
        lens = [len(w) for w in words if "dup" not in w]
        return ({w for ws in words for w in ws}, min(lens), max(lens),
                sum(x.endswith(" dup") for x in texts) / len(texts),
                Counter(t.column("lang").to_pylist())["en"] / len(texts))

    fix_docs = pq.read_table(os.path.join(FIXTURE_DIR, "documents.parquet"))
    (v1, lo1, hi1, d1, en1), (v2, lo2, hi2, d2, en2) = (
        text_profile(fix_docs), text_profile(ours["documents"]))
    assert v1 == v2 and (lo1, hi1) == (lo2, hi2)
    assert abs(d1 - d2) < 0.01 and abs(en1 - en2) < 0.03

    def vec_profile(t):
        v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
        lab = t.column("label").to_numpy()
        cos = v @ v.T
        same = lab[:, None] == lab[None, :]
        return v.shape[1], np.linalg.norm(v, axis=1), cos[same].mean() - cos[~same].mean()

    fix_vecs = pq.read_table(os.path.join(FIXTURE_DIR, "embeddings.parquet"))
    (dim1, norm1, sep1), (dim2, norm2, sep2) = vec_profile(fix_vecs), vec_profile(ours["embeddings"])
    assert dim1 == dim2
    assert np.allclose(norm1, 1, atol=1e-4) and np.allclose(norm2, 1, atol=1e-4)
    assert abs(sep1 - sep2) < 0.01              # labels carry no cluster structure


def test_permits_same_seed_same_bytes(tmp_path):
    a = permits.generate(str(tmp_path / "a"), 3, 50)
    b = permits.generate(str(tmp_path / "b"), 3, 50)
    c = permits.generate(str(tmp_path / "c"), 4, 50)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert a == b and a != c


def test_permits_columns_match_engine_schema():
    from building_permissions_etl_spark.schemas import (
        EXPECTED_RODZAJ_TYPES,
        PERMISSIONS_CSV_COLUMNS,
        VOIVODESHIPS,
    )

    assert permits.CSV_COLUMNS == PERMISSIONS_CSV_COLUMNS
    assert permits.RODZAJ == EXPECTED_RODZAJ_TYPES
    assert permits.VOIVODESHIPS == sorted(VOIVODESHIPS)


def _reference_county(terc, jn, miasto, dim):
    """§2.10 decision tree on raw CSV strings, written independently of
    the generator: the 4-digit county a row loads under, or None."""
    c = terc[:-2] if re.fullmatch(r"\d+\.0", terc) else terc
    if c in ("", "nan"):
        if jn not in ("", "nan"):
            t, matched = jn[:4], True
        else:
            hits = sorted(code for code, name in dim if miasto and miasto.lower() in name)
            if not hits:
                return None
            t, matched = hits[0], True
    else:
        t, matched = c, False
    if re.fullmatch(r"\d{6}", t):
        t = "0" + t
    if re.fullmatch(r"\d{7}", t):
        return t[:4] if t[:2] in permits.VOIVODESHIPS else None
    return t if matched and re.fullmatch(r"\d{4}", t) else None


def test_permits_ground_truth_matches_reference_tree(tmp_path):
    truth = permits.generate(str(tmp_path), 11, 120)
    dim = [(c, f"powiat {permits.city_of(c).lower()}") for c in permits.counties()]
    cols = permits.CSV_COLUMNS
    cells, branches = Counter(), Counter()
    with open(tmp_path / "permissions.csv", encoding="utf-8") as f:
        assert f.readline().rstrip("\n").split("#") == cols
        for line in f:
            r = dict(zip(cols, line.rstrip("\n").split("#")))
            try:
                when = dt.datetime.strptime(r["data_wplywu_wniosku_do_urzedu"],
                                            "%Y-%m-%d %H:%M:%S")
            except ValueError:
                branches["bad_date"] += 1
                continue
            county = _reference_county(r["terc"], r["jednostki_numer"], r["miasto"], dim)
            branches["kept" if county else "dropped"] += 1
            if county:
                key = (county, when.strftime("%Y-%m"),
                       r["rodzaj_zam_budowlanego"], r["kategoria"])
                cells["|".join(key)] += 1
    assert dict(cells) == truth["cells"]
    assert truth["csv_rows"] == 120 * permits.N_MONTHS
    assert all(branches[b] > 0 for b in ("bad_date", "kept", "dropped"))
    assert sum(truth["months"].values()) == sum(cells.values())


def test_kategoria_domain_grows_on_schedule():
    sizes = [len(permits.kats_in_month(m)) for m in range(permits.N_MONTHS)]
    grows = [m for m in range(1, permits.N_MONTHS) if sizes[m] > sizes[m - 1]]
    assert grows == list(range(permits.KAT_GROWTH_MONTHS, permits.N_MONTHS,
                               permits.KAT_GROWTH_MONTHS))


def test_expected_injection_windows():
    truth = {"cells": {
        f"0201|{permits.month_label(5)}|{permits.RODZAJ[0]}|I": 2,
        f"0201|{permits.month_label(3)}|{permits.RODZAJ[0]}|II": 3,
        f"0201|{permits.month_label(2)}|{permits.RODZAJ[0]}|I": 7,
    }}
    want = check_etl.expected_injection(truth, 6)["0201"]
    assert want["budowa_kat_1_1m"] == 2 and want["budowa_kat_1_3m"] == 2
    assert want["budowa_kat_2_3m"] == 3 and "budowa_kat_2_2m" not in want
    assert want["budowa_3m"] == 5 and want["budowa_1m"] == 2
    row = {"unit_id": "0201", "injection_date": "x", **want, "budowa_kat_9_2m": 0}
    assert check_etl._row_mismatch(row, want) is None
    assert "expected 3" in check_etl._row_mismatch({**row, "budowa_kat_2_3m": 4}, want)


def test_etl_check_failures_map_to_the_ops_of_their_pass():
    wl = workloads.EtlWorkload(10)
    first = {"kind": "first_load", "pass": 0, "month": 6,
             "months": [permits.month_label(i) for i in range(6)]}
    upd = [{"kind": "update", "pass": p, "month": 7, "months": [permits.month_label(6)]}
           for p in (0, 1)]
    records = [first, *upd]
    assert wl.failed_ops(records, {f"pass 1: {permits.month_label(6)}": "x"}) == {2}
    assert wl.failed_ops(records, {f"pass 0: {permits.exec_date(7)}": "x"}) == {1}
    # the full load's months are in every pass's warehouse
    assert wl.failed_ops(records, {f"pass 1: {permits.month_label(2)}": "x"}) == {0}


def test_query_check_flags_each_op_with_wrong_rows(tmp_path):
    tables.write(str(tmp_path), 1, 0.001)
    wl = workloads.QueryWorkload((("q", "tpch"),), 0.001)
    wl.sf_dir = str(tmp_path)
    wl.oracles = {"q": "SELECT CAST(count(*) AS BIGINT) AS n FROM region"}
    wl.results = {"q": (["n"], [(5,)])}
    wl.outputs = [("op 0", "q", (["n"], [(5,)])), ("op 1", "q", (["n"], [(4,)])),
                  ("op 2", "q", (["n"], [(5,)]))]
    records = [{"index": i, "kind": "q"} for i in range(3)]
    bad = wl.check(records)
    assert set(bad) == {"op 1"} and "(4,) != (5,)" in bad["op 1"]
    assert wl.failed_ops(records, bad) == {1}
    # a wrong warm-up call fails every op of its query
    wl.results = {"q": (["n"], [(6,)])}
    assert wl.failed_ops(records, wl.check(records)) == {0, 1, 2}


# --- statistics and names -----------------------------------------------

def test_percentile_needs_ten_samples_beyond_it():
    assert stats.percentile([float(i) for i in range(90)], 90) is None
    assert stats.percentile([float(i) for i in range(100)], 90) == pytest.approx(89.5, abs=0.1)
    assert stats.percentile([3.0], 50) == pytest.approx(3.0)
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == pytest.approx(2.5)
    assert stats.percentile([], 50) is None


def test_median_estimate_spans_a_gap_between_op_kinds():
    # two kinds of op, 8 samples each: the sample median jumps between
    # them when one sample moves across; Harrell-Davis moves a little
    fast, slow = [1.0] * 8, [2.0] * 8
    lo = stats.percentile(fast[:-1] + [2.0] + slow, 50)
    hi = stats.percentile(fast + slow[:-1] + [1.0], 50)
    assert stats.percentile(fast + slow, 50) == pytest.approx(1.5)
    assert abs(hi - lo) < 0.4
    assert stats.median(fast[:-1] + [2.0] + slow) - stats.median(fast + slow[:-1] + [1.0]) == 1.0


def test_metric_names_follow_the_pattern():
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        assert stats.valid_name(name), name
    for bad in ("", "a b", "_x", "x/y", "a" * 65):
        assert not stats.valid_name(bad)


def test_benchmark_json_lists_what_run_prints():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_overhead_ratio_pairs_ops_of_one_kind():
    rec = [{"kind": "q1", "ok": True, "traced": True, "seconds": 1.1},
           {"kind": "q1", "ok": True, "traced": False, "seconds": 1.0},
           {"kind": "q2", "ok": True, "traced": True, "seconds": 2.2},
           {"kind": "q3", "ok": True, "traced": False, "seconds": 9.0}]
    assert run.overhead_ratio(rec) == pytest.approx(0.1)


# --- stage-metric deltas ------------------------------------------------

class _Stage:
    def __init__(self, status="COMPLETE", **fields):
        self._status, self._fields = status, fields

    def status(self):
        return self._status

    def __getattr__(self, attr):
        return lambda: self._fields.get(attr, 0)


def test_add_stage_scales_units_and_skips_skipped_stages():
    c = spans.empty_counters()
    spans.add_stage(c, _Stage(numTasks=4, executorRunTime=1500, executorCpuTime=2e9,
                              jvmGcTime=250, shuffleWriteBytes=10))
    spans.add_stage(c, _Stage("SKIPPED", numTasks=4, executorRunTime=1500))
    assert c["stages"] == 1 and c["tasks"] == 4
    assert c["task_run_s"] == pytest.approx(1.5)
    assert c["task_cpu_s"] == pytest.approx(2.0)
    assert c["gc_s"] == pytest.approx(0.25)
    assert c["shuffle_write_bytes"] == 10


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    d = tmp_path_factory.mktemp("spark")
    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", str(d))
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


def test_stage_reader_reports_per_span_deltas(spark):
    from pyspark.sql import functions as F

    tracer = spans.Tracer(spark.sparkContext)
    tracer.on = True

    def job():
        (spark.range(0, 1000, numPartitions=2).groupBy((F.col("id") % 7).alias("k"))
         .count().write.format("noop").mode("overwrite").save())

    with tracer.span("outer"):
        with tracer.span("inner"):
            job()
        job()
    with tracer.span("again"):
        job()
    inner, outer, again = (tracer.by_name(n)[0] for n in ("inner", "outer", "again"))
    assert inner.parent == outer.sid and again.parent is None
    # each span holds only its own jobs: the same work gives the same counts
    for key in ("jobs", "stages", "tasks"):
        assert inner.counters[key] == outer.counters[key] == again.counters[key] > 0
    assert tracer.totals(tracer.subtree(outer))["jobs"] == 2 * inner.counters["jobs"]
    assert inner.counters["task_run_s"] >= 0 and inner.counters["tasks_failed"] == 0


# --- process clean-up ----------------------------------------------------

def test_terminate_ends_children_and_grandchildren():
    child = subprocess.Popen(["bash", "-c", "sleep 60 & sleep 60; wait"])
    try:
        found = {}
        for _ in range(100):  # until bash has forked both sleeps
            found = procs.descendants(child.pid)
            if len(found) == 2:
                break
            time.sleep(0.02)
        assert len(found) == 2 and child.pid in procs.descendants(os.getpid())
        found[child.pid] = procs.descendants(os.getpid())[child.pid]
        procs.terminate(found, timeout=10)
        assert not any(procs.alive(p, s) for p, s in found.items())
        assert child.poll() is not None
    finally:
        child.kill()
        child.wait()

"""The engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run generates its inputs from the
seed under ``.bench_work/`` in the checkout, starts a Spark session
sized to the machine (``SPARK_GRAFT_CPUS`` or the CPUs this process may
use), warms up, then drives a closed loop with one client for at least
``--seconds`` seconds, checks every output outside the timed window and
prints, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before
it is a JSON report with the sample counts, the tail latency where the
sample supports one, the run's configuration and the
workload-specific figures.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every
other pass under in-memory spans (see ``spans.py``), prints the
per-layer metrics and the tracing overhead, and writes the spans to
``.bench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
import stats  # noqa: E402
from workloads import FAMILIES, QUERY_MIX, EtlWorkload, QueryWorkload  # noqa: E402

SF = 0.1                  # query fixtures: the registry's benchmark scale
ROWS_PER_MONTH = 1000     # monthly_etl: 24 months, 24k CSV rows

# peak RSS is reported (in the line before the result) but not bounded:
# JVM heap growth makes it swing by a third between identical runs
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_table_s": "s/op",
    "catalog.load_table_calls": "count/op",
    "plans.construct_s": "s/op",
    "plans.construct_jobs": "count/op",
    "plans.construct_share": "ratio",
    "exec.s": "s/op",
    "exec.jobs": "count/op",
    "exec.stages": "count/op",
    "exec.tasks": "count/op",
    "exec.tasks_failed": "count/op",
    "exec.core_busy_ratio": "ratio",
    "exec.task_cpu_s": "s/op",
    "exec.gc_s": "s/op",
    "exec.shuffle_write_bytes": "B/op",
    "exec.shuffle_read_bytes": "B/op",
    "exec.spill_bytes": "B/op",
    "exec.input_bytes": "B/op",
    **{f"exec.s.{f}": "s/op" for f in FAMILIES},
    "pipeline.ingest_s": "s/op",
    "pipeline.aggregate_s": "s/op",
    "pipeline.count_s": "s/op",
    "pipeline.jobs_per_month": "count/op",
    "pipeline.first_load_s": "s",
    "pipeline.rows_loaded_per_s": "1/s",
    "operators.terc.s": "s/op",
    "sources.csv_bytes_read_per_loaded_byte": "ratio",
    "sources.sinks.write_fact_s": "s/op",
    "sources.sinks.append_agg_s": "s/op",
    "sources.sinks.table_exists_s": "s/op",
    "sources.sinks.bytes_written": "B/op",
    "sources.sinks.files_written": "count/op",
    "sources.sinks.agg_rewrites": "count",
    "sources.sinks.write_amplification": "ratio",
    "sources.sinks.stored_bytes_per_input_byte": "ratio",
    "trace.overhead_ratio": "ratio",
}
# units of the report line's figures that are not bounded metrics
REPORT_UNITS = {
    "op_p90_s": "s",
    "failed_ratio": "ratio",
    "peak_rss_mb": "MB",
    "first_load_s": "s",
    "rows_loaded_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "agg_rewrites": "count",
}
WORKLOADS = ("monthly_etl", "registry_queries")


def make_workload(name: str):
    if name == "monthly_etl":
        return EtlWorkload(ROWS_PER_MONTH)
    return QueryWorkload(QUERY_MIX, SF)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="run one benchmark workload")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.isdigit() and int(env) > 0 else len(os.sched_getaffinity(0))


def start_session(name: str, n_cores: int, work: str):
    """A session on ``local[n_cores]`` with one shuffle partition per
    core, console progress off and every scratch path inside ``work``."""
    from building_permissions_etl_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{name}", master=f"local[{n_cores}]",
        shuffle_partitions=n_cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def drive(wl, tracer, seconds: float, trace: bool) -> tuple[list[dict], float]:
    """The closed loop, in whole passes. Returns the op records and the
    wall seconds of the measured window, which starts after a
    ``first_load`` op and ends at the first pass boundary past both
    ``seconds`` and the workload's ``MIN_PASSES``; the workload's
    ``end_pass`` work between passes is left out of it. A traced run
    alternates traced and untraced passes and
    runs at least one of each, so every op kind has both timings."""
    records: list[dict] = []
    start = time.perf_counter()
    paused = 0.0
    passes = 0
    for i, (op, boundary) in enumerate(wl.ops()):
        traced = trace and (op.kind == "first_load" or passes % 2 == 0)
        rec = {"index": i, "kind": op.kind, "family": op.family,
               "traced": traced, "ok": False, "pass": passes}
        wl.before_op(op, rec)
        tracer.on, tracer.op = rec["traced"], i
        t = time.perf_counter()
        try:
            with tracer.span("op"):
                op.run()
            rec["ok"] = True
        except Exception:
            print(f"perfbench: op {i} ({op.kind}) raised:\n{traceback.format_exc()}",
                  file=sys.stderr, flush=True)
        rec["seconds"] = time.perf_counter() - t
        tracer.on = False
        wl.after_op(op, rec)
        records.append(rec)
        if op.kind == "first_load":
            start = time.perf_counter()
        elif boundary:
            passes += 1
            if (time.perf_counter() - start - paused >= seconds
                    and passes >= max(wl.MIN_PASSES, 2 if trace else 1)):
                break
            t = time.perf_counter()
            wl.end_pass(records)
            paused += time.perf_counter() - t
    return records, time.perf_counter() - start - paused


def latencies(records) -> list[float]:
    """Seconds of the completed, untraced ops of the measured window."""
    return [r["seconds"] for r in records
            if r["ok"] and r["kind"] != "first_load" and not r["traced"]]


def end_to_end(records, wall: float, setup_s: float) -> dict:
    lat = latencies(records)
    return {
        "setup_s": setup_s,
        "op_p50_s": stats.percentile(lat, 50) or 0.0,
        "ops_per_s": len(lat) / wall if wall > 0 else 0.0,
    }


def overhead_ratio(records) -> float:
    """Traced over untraced op time − 1, pairing ops of the same kind so
    the mix cancels out."""
    by_kind: dict[str, dict[bool, list[float]]] = {}
    for r in records:
        if r["ok"] and r["kind"] != "first_load":
            by_kind.setdefault(r["kind"], {True: [], False: []})[r["traced"]].append(r["seconds"])
    pairs = [(stats.median(v[True]), stats.median(v[False]))
             for v in by_kind.values() if v[True] and v[False]]
    untraced = sum(b for _, b in pairs)
    return sum(a for a, _ in pairs) / untraced - 1 if untraced else 0.0


def per_layer(wl, tracer, records, n_cores: int, session_s: float) -> dict:
    roots = [s for s in tracer.by_name("op") if records[s.op]["kind"] != "first_load"]
    n = len(roots)
    totals = tracer.totals([x for s in roots for x in tracer.subtree(s)])
    op_s = sum(s.seconds for s in roots)
    construct_s = sum(s.seconds for s in tracer.by_name("plans.construct"))
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = session_s
    if n:
        out["exec.s"] = (op_s - construct_s) / n
        for key in ("jobs", "stages", "tasks", "tasks_failed", "task_cpu_s", "gc_s",
                    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                    "input_bytes"):
            out[f"exec.{key}"] = totals[key] / n
        exec_s = op_s - construct_s
        out["exec.core_busy_ratio"] = totals["task_run_s"] / (exec_s * n_cores) if exec_s > 0 else 0.0
    out.update(wl.layer_metrics(tracer, records))
    out["trace.overhead_ratio"] = overhead_ratio(records)
    return out


def run(args, work: str) -> int:
    from spans import Tracer

    n_cores = cores()
    wl = make_workload(args.workload)
    phases = {"imports_s": stats.process_age_s()}
    t = time.perf_counter()
    inputs = wl.prepare(os.path.join(work, "data"), args.seed)
    phases["inputs_s"] = time.perf_counter() - t

    t = time.perf_counter()
    spark = start_session(args.workload, n_cores, work)
    session_s = time.perf_counter() - t
    try:
        sc = spark.sparkContext
        tracer = Tracer(sc if args.trace else None)
        if args.trace:
            wl.install_spans(tracer)
        wl.bind(spark, tracer)
        t = time.perf_counter()
        wl.warm()
        phases["warm_s"] = time.perf_counter() - t
        setup_s = stats.process_age_s()

        records, wall = drive(wl, tracer, args.seconds, bool(args.trace))

        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = stats.vm_hwm_mb(jvm_pid) + stats.vm_hwm_mb(os.getpid())
        t = time.perf_counter()
        failed = {i for i, r in enumerate(records) if not r["ok"]}
        try:
            bad = wl.check(records)
            failed |= wl.failed_ops(records, bad)
        except Exception:
            # outputs that cannot be read back count as wrong, all of them
            bad = {"check": traceback.format_exc(limit=3)}
            failed = set(range(len(records)))
        phases["check_s"] = time.perf_counter() - t

        e2e = end_to_end(records, wall, setup_s)
        lat = latencies(records)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "cores": n_cores,
            "spark_version": spark.version, "inputs": inputs,
            "session_start_s": session_s, **phases, "window_s": wall,
            "samples": len(lat), "op_p90_s": stats.percentile(lat, 90),
            "ops": [[r["kind"], round(r["seconds"], 4), r["traced"]] for r in records],
            "failed_ratio": len(failed) / len(records) if records else 1.0,
            "peak_rss_mb": rss_mb,
            "mismatches": {k: v[:300] for k, v in list(bad.items())[:10]},
            **e2e, **wl.summary(records),
        }
        report["units"] = {k: u for k, u in {**END_TO_END, **REPORT_UNITS}.items() if k in report}
        if args.trace:
            metrics = per_layer(wl, tracer, records, n_cores, session_s)
            units = PER_LAYER
            os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".bench_work",
                                     f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics, units = e2e, END_TO_END
    finally:
        spark.stop()

    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": not failed and not bad,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "building_permissions_etl_spark", "__init__.py")):
        print("perfbench: building_permissions_etl_spark/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every scratch file of Spark, its JVMs and the Python workers stays
    # inside the checkout (UsePerfData off: the JVM would write /tmp/hsperfdata_*)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "PYSPARK_PYTHON": sys.executable,
    })
    try:
        return run(args, work)
    finally:
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

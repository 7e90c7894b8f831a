"""The two kinds of workload: a registry query mix and the monthly ETL.
Each one generates its inputs from the seed, warms up, yields ops for
the closed loop in whole passes, checks outputs and turns the traced
spans into per-layer numbers.

An op is one call into a public entry point: a registry query callable
with its rows collected to the client, or one ``pipeline.cli.run(spark,
["all", ...])`` for a logical month.
"""

from __future__ import annotations

import os
import random
import shutil
import traceback
from dataclasses import dataclass

import permits
import tables
from oracle import Oracle
from spans import Tracer

# (query, operator family) — the family keys ``exec.s.<family>``. One
# mix of both halves: relational queries, where driver-side plan
# construction, catalog loads and per-job scheduling dominate, and corpus
# queries, where executor CPU, shuffle and the Python/Arrow boundary do.
# Several queries of similar latency sit in the middle of the latency
# distribution, so the run's median op lands inside a cluster of samples
# rather than in the gap between two queries.
RELATIONAL_MIX = (
    ("flagship_monthly_pivot", "aggregates"),
    ("forecast_revenue", "tpch"),
    ("asof_join_last_error", "joins"),
    ("scd1_customer_upsert", "scd"),
    ("stream_window_counts", "streaming"),
)
CORPUS_MIX = (
    ("dedup_exact", "dedup"),
    ("similarity_topk_bruteforce", "similarity"),
    ("bm25_topk", "ranking"),
    ("text_quality_stats", "textstats"),
    ("pii_redact", "corpus"),
    ("multimodal_frame_sample", "multimodal"),
)
QUERY_MIX = RELATIONAL_MIX + CORPUS_MIX
FAMILIES = ("dedup", "similarity", "ranking", "textstats", "corpus", "multimodal",
            "joins", "aggregates", "tpch", "scd", "streaming")


@dataclass
class Op:
    kind: str            # query name, or "first_load" / "update"
    run: object          # zero-argument callable
    family: str = ""
    month: int = -1      # monthly_etl: the logical month of the run


def _per_op(total: float, n: int) -> float:
    return total / n if n else 0.0


class QueryWorkload:
    """A seeded closed-loop mix of registry queries over generated
    fixture tables. Ops run in whole passes (one seeded permutation of
    the mix each), so every run weighs every query equally."""

    # one pass gives the median one sample per query; on ten seeds two
    # passes cut the run-to-run spread of op_p50_s from 0.24 to 0.12
    MIN_PASSES = 2

    def __init__(self, mix, sf: float):
        self.mix, self.sf = mix, sf
        self.family = dict(mix)
        self.results: dict[str, tuple] = {}     # query → warm-up (columns, rows)
        self.errors: dict[str, str] = {}
        self.outputs: list[tuple] = []          # ("op <index>", query, (columns, rows))

    def prepare(self, work: str, seed: int) -> dict:
        self.seed = seed
        self.sf_dir = os.path.join(work, "tables")
        sizes = tables.write(self.sf_dir, seed, self.sf)
        return {"sf": self.sf, "table_bytes": sum(sizes.values()),
                "rows": tables.sizes(self.sf)}

    def install_spans(self, tracer: Tracer) -> None:
        """Wrap ``catalog.load_table`` before the plan modules bind it."""
        from building_permissions_etl_spark import catalog

        catalog.load_table = tracer.wrap("catalog.load_table", catalog.load_table)

    def bind(self, spark, tracer: Tracer) -> None:
        from building_permissions_etl_spark.plans import registry

        self.spark, self.tracer = spark, tracer
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()

    def warm(self) -> None:
        """One cold pass; ``check`` compares its rows with the oracles."""
        for q, _ in self.mix:
            try:
                df = self.queries[q](self.spark, self.sf_dir)
                self.results[q] = (df.columns, df.collect())
            except Exception:
                self.errors[q] = traceback.format_exc(limit=3)

    def _op(self, q: str):
        """The query callable, then its rows collected to the client.
        ``after_op`` keeps the rows so that ``check`` compares every op's
        output with the oracle, not only the warm-up's."""
        def run():
            with self.tracer.span("plans.construct"):
                df = self.queries[q](self.spark, self.sf_dir)
            with self.tracer.span("exec"):
                self.last = (df.columns, df.collect())
        return Op(q, run, self.family[q])

    def ops(self):
        rng = random.Random(self.seed)
        names = [q for q, _ in self.mix]
        while True:
            rng.shuffle(names)
            for i, q in enumerate(names):
                yield self._op(q), i == len(names) - 1

    def before_op(self, op: Op, record: dict) -> None:
        self.last = None

    def after_op(self, op: Op, record: dict) -> None:
        if record["ok"]:
            self.outputs.append((f"op {record['index']}", op.kind, self.last))

    def end_pass(self, records) -> None:
        pass

    def check(self, records) -> dict[str, str]:
        """``<query>`` (its warm-up call) or ``op <index>`` → reason, for
        every call whose rows differ from the oracle's. Each distinct
        output of a query is compared once."""
        bad = dict(self.errors)
        calls = [(q, q, out) for q, out in self.results.items()] + self.outputs
        verdicts: dict[str, list[tuple]] = {}
        oracle = Oracle(self.sf_dir)
        try:
            for key, q, (cols, rows) in calls:
                seen = verdicts.setdefault(q, [])
                for out, reason in seen:
                    if out == (cols, rows):
                        break
                else:
                    reason = oracle.mismatch(cols, rows, self.oracles.get(q))
                    seen.append(((cols, rows), reason))
                if reason:
                    bad[key] = reason
        finally:
            oracle.close()
        return bad

    def failed_ops(self, records, bad: dict[str, str]) -> set[int]:
        """An op fails on its own wrong rows, or with every op of its
        query when the query's warm-up call failed."""
        return {i for i, r in enumerate(records)
                if r["kind"] in bad or f"op {r['index']}" in bad}

    def summary(self, records) -> dict:
        return {}

    def layer_metrics(self, tracer: Tracer, records) -> dict:
        roots = [s for s in tracer.by_name("op")]
        n = len(roots)
        op_s = sum(s.seconds for s in roots)
        construct = tracer.by_name("plans.construct")
        construct_s = sum(s.seconds for s in construct)
        construct_jobs = sum(tracer.totals(tracer.subtree(s))["jobs"] for s in construct)
        loads = tracer.by_name("catalog.load_table")
        out = {
            "plans.construct_s": _per_op(construct_s, n),
            "plans.construct_jobs": _per_op(construct_jobs, n),
            "plans.construct_share": construct_s / op_s if op_s else 0.0,
            "catalog.load_table_s": _per_op(sum(s.seconds for s in loads), n),
            "catalog.load_table_calls": _per_op(len(loads), n),
        }
        fam_s: dict[str, list[float]] = {f: [] for f in FAMILIES}
        by_op = {r["index"]: r for r in records}
        for s in tracer.by_name("exec"):
            fam_s[by_op[s.op]["family"]].append(s.seconds)
        for f in FAMILIES:
            out[f"exec.s.{f}"] = _per_op(sum(fam_s[f]), len(fam_s[f]))
        return out


class EtlWorkload:
    """The reference DAG's catch-up, replayed: one full load on an empty
    warehouse, then one ``all`` run per successive logical month of
    ``PASS_MONTHS``, replayed from the same snapshot in every pass."""

    FIRST_MONTH = 6              # the full load loads months 0..5
    # a second pass did not narrow the run-to-run spread of op_p50_s
    # (0.20 against 0.21 on ten seeds: it follows the machine's load over
    # the whole run), so one pass is timed
    MIN_PASSES = 1
    # one kategoria growth cycle: the run for logical month m loads month
    # m - 1, so month 7 takes the schema-growth rewrite and 8 the append
    PASS_MONTHS = tuple(range(FIRST_MONTH + 1, FIRST_MONTH + 1 + permits.KAT_GROWTH_MONTHS))

    def __init__(self, rows_per_month: int):
        self.rows_per_month = rows_per_month
        self.agg_cols = 0
        self.bad: dict[str, str] = {}

    def prepare(self, work: str, seed: int) -> dict:
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.truth = permits.generate(self.inputs, seed, self.rows_per_month)
        self.csv = os.path.join(self.inputs, "permissions.csv")
        self.powiaty = os.path.join(self.inputs, "powiaty.parquet")
        return {"csv_bytes": os.path.getsize(self.csv),
                "csv_rows": self.truth["csv_rows"],
                "months": permits.N_MONTHS, "counties": permits.N_COUNTIES}

    def bind(self, spark, tracer: Tracer) -> None:
        from building_permissions_etl_spark.pipeline import cli

        self.spark, self.cli = spark, cli

    def _argv(self, warehouse: str, m: int) -> list[str]:
        return ["all", "--date", permits.exec_date(m), "--csv", self.csv,
                "--fact", os.path.join(warehouse, "fact"),
                "--agg", os.path.join(warehouse, "agg"),
                "--powiaty", self.powiaty,
                "--report", os.path.join(self.work, "validation_report.html")]

    def warm(self) -> None:
        """No warm-up: the full load is the first Spark work of the
        process, as for a freshly submitted monthly job, and
        ``first_load_s`` includes that cold start."""

    def ops(self):
        """The full load, then passes over ``PASS_MONTHS``. ``end_pass``
        puts the warehouse back to its state after the full load, so every
        pass of every run times the same months on the same tables."""
        self.warehouse = os.path.join(self.work, "warehouse")
        self.snapshot = os.path.join(self.work, "after_first_load")
        argv = self._argv(self.warehouse, self.FIRST_MONTH)
        yield Op("first_load", lambda: self.cli.run(self.spark, argv),
                 month=self.FIRST_MONTH), False
        while True:
            for m in self.PASS_MONTHS:
                argv_m = self._argv(self.warehouse, m)
                yield (Op("update", lambda a=argv_m: self.cli.run(self.spark, a), month=m),
                       m == self.PASS_MONTHS[-1])

    def _agg_columns(self) -> int:
        import pyarrow.parquet as pq

        agg = os.path.join(self.warehouse, "agg")
        files = sorted(f for f in os.listdir(agg) if f.endswith(".parquet"))
        return len(pq.read_schema(os.path.join(agg, files[0])).names)

    def before_op(self, op: Op, record: dict) -> None:
        if op.kind == "first_load":
            record["months"] = [permits.month_label(i) for i in range(op.month)]
        else:
            record["months"] = [permits.month_label(op.month - 1)]
        record["month"] = op.month
        if record["traced"]:
            self._files = tree_files(self.warehouse)
            self._bytes = _tree_bytes(self.warehouse)

    def after_op(self, op: Op, record: dict) -> None:
        if record["traced"]:
            record["files_written"] = len(tree_files(self.warehouse) - self._files)
            record["sink_growth"] = _tree_bytes(self.warehouse) - self._bytes
        if not record["ok"]:
            return
        cols = self._agg_columns()
        record["rewrite"] = op.kind == "update" and cols > self.agg_cols
        self.agg_cols = cols
        if op.kind == "first_load":
            self.base_cols = cols
            shutil.copytree(self.warehouse, self.snapshot)

    def _check_pass(self, records, p: int) -> None:
        """Check the warehouse as pass ``p`` left it: the full load's
        months and injection plus those of the pass's update ops."""
        from check_etl import check_warehouse

        ok = [r for r in records
              if r["ok"] and (r["kind"] == "first_load" or r["pass"] == p)]
        bad = check_warehouse(self.warehouse, self.truth,
                              [m for r in ok for m in r["months"]],
                              [r["month"] for r in ok])
        self.bad.update({f"pass {p}: {k}": v for k, v in bad.items()})

    def end_pass(self, records) -> None:
        self._check_pass(records, records[-1]["pass"])
        if os.path.isdir(self.snapshot):
            shutil.rmtree(self.warehouse)
            shutil.copytree(self.snapshot, self.warehouse)
            self.agg_cols = self.base_cols

    def check(self, records) -> dict[str, str]:
        """``pass <p>: <month label or injection date>`` → reason, for
        every fact month and aggregate injection that disagrees with the
        ground truth, over every pass (earlier passes were checked by
        ``end_pass`` before the warehouse was put back)."""
        self._check_pass(records, records[-1]["pass"])
        return self.bad

    def failed_ops(self, records, bad: dict[str, str]) -> set[int]:
        passes = {r["pass"] for r in records}
        out = set()
        for i, r in enumerate(records):
            keys = set(r["months"]) | {permits.exec_date(r["month"])}
            mine = passes if r["kind"] == "first_load" else {r["pass"]}
            if any(f"pass {p}: {k}" in bad for p in mine for k in keys):
                out.add(i)
        return out

    def summary(self, records) -> dict:
        """The monthly_etl-only end-to-end figures."""
        ok = [r for r in records if r["ok"]]
        first = [r for r in ok if r["kind"] == "first_load"]
        upd = [r for r in ok if r["kind"] == "update"]
        loaded_rows = sum(self.truth["months"][m] for r in upd for m in r["months"])
        # the warehouse holds each loaded month once, however many passes ran
        loaded_bytes = sum(self.truth["loaded_bytes"][m]
                           for m in {m for r in ok for m in r["months"]})
        stored = _tree_bytes(os.path.join(self.warehouse, "fact")) + \
            _tree_bytes(os.path.join(self.warehouse, "agg"))
        upd_s = sum(r["seconds"] for r in upd)
        return {
            "first_load_s": first[0]["seconds"] if first else 0.0,
            "rows_loaded_per_s": loaded_rows / upd_s if upd_s else 0.0,
            "stored_bytes_per_input_byte": stored / loaded_bytes if loaded_bytes else 0.0,
            "agg_rewrites": len({r["month"] for r in ok if r.get("rewrite")}),
        }

    def layer_metrics(self, tracer: Tracer, records) -> dict:
        by_op = {r["index"]: r for r in records}
        roots = [s for s in tracer.by_name("op") if by_op[s.op]["kind"] == "update"]
        upd_ops = {s.op for s in roots}
        n = len(roots)

        def spans(name):
            return [s for s in tracer.by_name(name) if s.op in upd_ops]

        def secs(name):
            return _per_op(sum(s.seconds for s in spans(name)), n)

        def subtree_total(name, key):
            return sum(tracer.totals(tracer.subtree(s))[key] for s in spans(name))

        loaded = sum(self.truth["loaded_bytes"][m] for i in upd_ops for m in by_op[i]["months"])
        written = subtree_total("sources.sinks.write_fact", "output_bytes") + \
            subtree_total("sources.sinks.append_agg", "output_bytes")
        growth = sum(by_op[i].get("sink_growth", 0) for i in upd_ops)
        files = sum(by_op[i].get("files_written", 0) for i in upd_ops)
        summary = self.summary(records)
        return {
            "pipeline.ingest_s": secs("pipeline.ingest"),
            "pipeline.aggregate_s": secs("pipeline.aggregate"),
            "pipeline.count_s": secs("pipeline.count"),
            "pipeline.jobs_per_month": _per_op(
                sum(tracer.totals(tracer.subtree(s))["jobs"] for s in roots), n),
            "pipeline.first_load_s": summary["first_load_s"],
            "pipeline.rows_loaded_per_s": summary["rows_loaded_per_s"],
            "operators.terc.s": secs("operators.terc"),
            "sources.csv_bytes_read_per_loaded_byte":
                subtree_total("pipeline.ingest", "input_bytes") / loaded if loaded else 0.0,
            "sources.sinks.write_fact_s": secs("sources.sinks.write_fact"),
            "sources.sinks.append_agg_s": secs("sources.sinks.append_agg"),
            "sources.sinks.table_exists_s": secs("sources.sinks.table_exists"),
            "sources.sinks.bytes_written": _per_op(written, n),
            "sources.sinks.files_written": _per_op(files, n),
            "sources.sinks.agg_rewrites": float(summary["agg_rewrites"]),
            "sources.sinks.write_amplification": written / growth if growth > 0 else 0.0,
            "sources.sinks.stored_bytes_per_input_byte": summary["stored_bytes_per_input_byte"],
        }

    def install_spans(self, tracer: Tracer) -> None:
        """Wrap the pipeline's layers under the names ``pipeline.
        permissions`` binds them to (and the sink probe inside the sinks
        module itself, which the aggregate sink calls)."""
        from building_permissions_etl_spark.pipeline import permissions as P
        from building_permissions_etl_spark.sources import sinks

        P.table_exists_nonempty = tracer.wrap("sources.sinks.table_exists", P.table_exists_nonempty)
        sinks.table_exists_nonempty = tracer.wrap("sources.sinks.table_exists",
                                                  sinks.table_exists_nonempty)
        P.write_fact_partitioned = tracer.wrap("sources.sinks.write_fact", P.write_fact_partitioned)
        P.append_with_schema_evolution = tracer.wrap("sources.sinks.append_agg",
                                                     P.append_with_schema_evolution)
        for fn in ("correct_terc", "correction_audit_metrics", "drop_invalid_terc"):
            setattr(P, fn, tracer.wrap("operators.terc", getattr(P, fn)))
        P.ingest_permissions = tracer.wrap("pipeline.ingest", P.ingest_permissions)
        aggregate = tracer.wrap("pipeline.aggregate", P.superior_aggregates)

        def superior_aggregates(*args, **kwargs):
            # the cli counts the returned frame: time that count as its own span
            df = aggregate(*args, **kwargs)
            df.count = tracer.wrap("pipeline.count", df.count)
            return df
        P.superior_aggregates = superior_aggregates


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def tree_files(path: str) -> set[str]:
    out = set()
    for root, _, files in os.walk(path):
        out.update(os.path.join(root, f) for f in files)
    return out


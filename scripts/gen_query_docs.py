"""Generate QUERIES.md — the query inventory grouped by contributor
module, with each query's correctness-check type. Run after adding
queries:

    python scripts/gen_query_docs.py             # rewrite QUERIES.md

``tests/test_query_docs.py`` asserts ``render()`` equals the committed
file, so a dropped or renamed query, or a lost oracle, fails the tests.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

MODULES = [
    ("flagship_queries", "Reference parity: flagship pipeline + §2 operators"),
    ("analytics", "Notebook analytics, scalar/validation/grouping surface"),
    ("extensions", "LLM-data-pipeline: dedup, similarity, text, multimodal"),
    ("corpus_queries", "Corpus prep: PII, decontamination, packing, repetition"),
    ("streaming_queries", "Events: windows, sessions, as-of/range joins, streaming"),
    ("ranking_queries", "Ranking/LM scoring: TF-IDF, BM25, unigram LM, chunk dedup"),
    ("scale_queries", "Skew-mitigation shapes (salted agg/join, safe distinct)"),
    ("tpch_queries", "TPC-H-style decision support adapted to the fixture schema"),
    ("training_queries", "Training-data curation: splits, mixing, Gopher rules, int8 ANN"),
    ("insight_queries", "Behavioral analytics: grouping sets, stats/regression, funnel, cohort, gap-fill"),
    ("scd_queries", "Dimension maintenance: SCD1 overwrite and SCD2 versioned merge"),
    ("round5_queries", "Temporal PIT join, interval-frame windows, quality survivors, batched ANN, curriculum cut"),
    ("round6_queries", "SCD2 history validation, gaps/islands, running distinct, interval overlap, FK audit, exact equi-depth, incremental dedup"),
    ("round6b_queries", "Graph PageRank, semantic dedup, DSIR selection, column profile, blocked entity resolution, Benford audit"),
    ("round7_queries", "Lloyd k-means loop, GK-sketch MAD twin, mergeable HLL rollup beside its exact reference"),
    ("round8_queries", "Triangle counting, priority sampling, Pareto skyline, anchor interpolation, retention + theta twin, KLL rollup, approx top-k"),
    ("round8b_queries", "Sparse dot-product top-k via inverted index, basket lift, weighted median, sweep-line peak concurrency"),
    ("round8c_queries", "Weekly churn (exact + theta A-NOT-B twin), mergeable heavy-hitter rollup, integer power iteration"),
    ("round8d_queries", "Bloom semi-join reduction, z-order extent pruning, CUSUM changepoint, RFM quintiles, Pareto concentration, day streaks, mergeable table checksum"),
    ("round8e_queries", "Label-propagation communities, k-core peeling, day-of-week seasonality residual outliers"),
    ("round9_queries", "Incremental maintenance + shard-merge: mergeable per-shard CUSUM, Bloom register union, z-order extent merge"),
    ("round10_queries", "Drift monitoring as maintained tables: fixed-domain histogram snapshot, shard merge == rebuild, PSI drift"),
    ("round11_queries", "Drift monitoring in its persisted-artifact shape: snapshots written as tables, monitor reads only artifacts"),
    ("round12_queries", "Maintained Bloom registers + z-order extents in persisted shape: prep publishes the artifact, probe/prune reads only artifact + delta"),
    ("round13_queries", "Persisted arcs completed: z-file-PARTITIONED layout with PartitionFilters skipping; CUSUM persisted-state probe folding a delta-only scan"),
    ("round14_queries", "Layout lifecycle closed: OPTIMIZE bin-packing compaction (only fragmented partitions rewritten, extents carried verbatim) and the full append → compact → append loop, skip intact throughout"),
]


def render() -> str:
    """QUERIES.md's text, built from each contributor's registrations."""
    import importlib

    sections = []
    total = oracled = 0
    for mod_name, blurb in MODULES:
        mod = importlib.import_module(
            f"building_permissions_etl_spark.plans.{mod_name}"
        )
        entries: list[tuple[str, bool]] = []

        def rec(name, fn, sql):
            entries.append((name, sql is not None))

        mod.contribute(rec)
        sections.append((mod_name, blurb, sorted(entries)))
        total += len(entries)
        oracled += sum(1 for _, has in entries if has)

    lines = [
        "# QUERIES — registry inventory",
        "",
        f"{total} queries; {oracled} value-checked against DuckDB oracles, "
        f"{total - oracled} rows-only (hash families, trained indexes, stub "
        "codecs, sampling — semantics pinned by unit tests instead).",
        "",
        "Regenerate with `python scripts/gen_query_docs.py`.",
        "",
    ]
    for mod_name, blurb, entries in sections:
        lines.append(f"## plans/{mod_name}.py — {blurb}")
        lines.append("")
        lines.append("| Query | Check |")
        lines.append("|---|---|")
        for name, has in entries:
            lines.append(f"| `{name}` | {'DuckDB oracle' if has else 'rows-only + unit tests'} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    out = os.path.join(os.path.dirname(__file__), "..", "QUERIES.md")
    with open(out, "w", encoding="utf-8") as f:
        f.write(render())
    print("wrote QUERIES.md")


if __name__ == "__main__":
    main()

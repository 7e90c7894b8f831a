"""Driver-contract invariants over the registry itself."""

import ast
import pathlib
import pkgutil

import pytest

from building_permissions_etl_spark.plans.registry import oracle_sql, queries

# Queries registered WITHOUT a DuckDB oracle. Additions need the same
# justification: semantics genuinely not ANSI-expressible. The sketch
# dedup family (minhash/oph/simhash/winnowing/stratified-sample) is
# value-checked via portable_hash64 + plans/sketch_oracles.py and IVF
# similarity via its portable-centroid twin, so those are NOT here.
# What remains is engine-opaque sketch STATE whose estimates are
# implementation-specific (DataSketches HLL/theta/KLL, Spark GK
# percentile_approx) — each has an exact oracle-backed twin registered
# beside it (count_distinct_dates / quarterly_distinct_users /
# weekly_user_overlap_exact / doc_length_quantiles+mad_outliers_by_type)
# so the DuckDB oracle still verifies the exact semantics the sketch
# tracks.
ROWS_ONLY = {
    "approx_count_distinct_dates",      # HLL++ twin of count_distinct_dates
    "mad_outliers_by_type_approx",      # GK-sketch twin of mad_outliers_by_type
    "hll_quarterly_users_rollup",       # mergeable-HLL twin of quarterly_distinct_users
    "weekly_user_overlap_theta",        # theta-intersection twin of weekly_user_overlap_exact
    "kll_weekly_value_quantiles",       # mergeable-KLL rollup (exact twins: doc_length_quantiles)
    "weekly_churn_theta",               # theta-A-NOT-B twin of weekly_churned_users_exact
}


def test_oracle_keys_subset_of_queries():
    q, o = queries(), oracle_sql()
    assert set(o) <= set(q)
    assert all(callable(fn) for fn in q.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in o.values())


def test_rows_only_set_is_exactly_the_documented_one():
    rows_only = set(queries()) - set(oracle_sql())
    assert rows_only == ROWS_ONLY


def test_no_oracle_output_column_is_hugeint():
    """Round-8's one driver-red row (`weekly_anchor_interpolation`) was
    an uncast DuckDB ``sum(BIGINT)`` — HUGEINT (int128) — flowing into
    a checked output column: the driver's pandas fetch renders HUGEINT
    as float64, so the TYPED value hash diverges from Spark's bigint
    even when every value is identical. Kill the class: bind every
    oracle against the sf0.001 views (DuckDB resolves result types
    without executing) and assert no output column's type is HUGEINT,
    recursively. scripts/oracle_check.py enforces the stronger
    class-mapped Spark-dtype parity at sweep time; this test is the
    Spark-free fast gate."""
    import duckdb

    from building_permissions_etl_spark.plans.type_parity import (
        hugeint_columns,
    )

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')")

    # negative control: the lint must actually fire on the round-8
    # defect shape (an uncast integer sum), or it guards nothing.
    bad = con.sql("SELECT sum(CAST(1 AS BIGINT)) AS s")
    assert hugeint_columns(list(bad.columns), list(bad.types)) == ["s"]

    offenders = {}
    for name, sql in oracle_sql().items():
        rel = con.sql(sql)
        hug = hugeint_columns(list(rel.columns), list(rel.types))
        if hug:
            offenders[name] = hug
    assert not offenders, (
        f"oracles with HUGEINT output columns (uncast sums?) — the "
        f"driver's typed hash WILL diverge from Spark: {offenders}")


def test_every_contributor_module_is_wired():
    """Round-7 failure mode made impossible: a module under plans/ that
    defines contribute() but is never imported/invoked by
    registry._populate() is dead code — its queries silently skip
    queries(), the oracle parity sweep and the tests (VERDICT r07 found
    exactly this, with two broken queries hiding inside). Walk the
    package, find every module whose AST defines a top-level
    `contribute`, and assert _populate()'s source names each one."""
    import building_permissions_etl_spark.plans as plans_pkg
    from building_permissions_etl_spark.plans import registry

    plans_dir = pathlib.Path(plans_pkg.__file__).parent
    contributors = []
    for mod in pkgutil.iter_modules([str(plans_dir)]):
        src = (plans_dir / f"{mod.name}.py").read_text()
        tree = ast.parse(src)
        if any(isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
               and n.name == "contribute" for n in tree.body):
            contributors.append(mod.name)
    assert contributors, "no contributor modules found — walk is broken"

    reg_src = pathlib.Path(registry.__file__).read_text()
    reg_tree = ast.parse(reg_src)
    populate = next(n for n in reg_tree.body
                    if isinstance(n, ast.FunctionDef) and n.name == "_populate")
    called = {
        n.func.value.id
        for n in ast.walk(populate)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "contribute" and isinstance(n.func.value, ast.Name)
    }
    unwired = sorted(set(contributors) - called)
    assert not unwired, (
        f"plans modules defining contribute() but never invoked by "
        f"registry._populate(): {unwired} — wire them in")


def test_contributor_failure_leaves_registry_unfilled(monkeypatch):
    """_populate() stages every registration and commits them in one
    step: when a contributor raises, nothing is registered, so the next
    call rebuilds the whole registry instead of serving the queries
    staged before the failure."""
    from building_permissions_etl_spark.plans import registry, round14_queries

    names, oracles = set(queries()), oracle_sql()
    monkeypatch.setattr(registry, "_REGISTRY", {})

    def failing_contribute(stage):
        raise RuntimeError("contributor failed")

    with monkeypatch.context() as m:
        # the last contributor, so every other module has staged first
        m.setattr(round14_queries, "contribute", failing_contribute)
        with pytest.raises(RuntimeError, match="contributor failed"):
            queries()
        assert registry._REGISTRY == {}
    assert set(queries()) == names
    assert oracle_sql() == oracles

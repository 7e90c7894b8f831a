"""Query registry: name → (spark callable, duckdb oracle SQL).

This is the single source of truth behind ``__spark_entry__.queries()`` /
``oracle_sql()`` and the local parity tests. Each entry maps an operator
(or operator composition) from SURVEY.md §2 onto the fixture tables;
queries registered without SQL are those whose semantics are not
ANSI-SQL-expressible (HLL state, trained index, stub codecs) and take a
rows-only check. Entries are held in contribution order; callers look
queries up by name, and no caller may depend on the order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Each module contributes {name: (callable, sql_or_None)}.
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _populate() -> None:
    if _REGISTRY:
        return
    from building_permissions_etl_spark.plans import (  # noqa: F401
        analytics,
        corpus_queries,
        extensions,
        flagship_queries,
        ranking_queries,
        scale_queries,
        streaming_queries,
        insight_queries,
        scd_queries,
        tpch_queries,
        training_queries,
        round5_queries,
        round6_queries,
        round6b_queries,
        round7_queries,
        round8_queries,
        round8b_queries,
        round8c_queries,
        round8d_queries,
        round8e_queries,
        round9_queries,
        round10_queries,
        round11_queries,
        round12_queries,
        round13_queries,
        round14_queries,
    )

    staged: dict[str, tuple] = {}

    def stage(name: str, fn, sql) -> None:
        if name in staged:
            raise ValueError(f"duplicate query name {name!r}")
        staged[name] = (fn, sql)

    flagship_queries.contribute(stage)
    analytics.contribute(stage)
    extensions.contribute(stage)
    corpus_queries.contribute(stage)
    streaming_queries.contribute(stage)
    ranking_queries.contribute(stage)
    scale_queries.contribute(stage)
    tpch_queries.contribute(stage)
    training_queries.contribute(stage)
    insight_queries.contribute(stage)
    scd_queries.contribute(stage)
    round5_queries.contribute(stage)
    round6_queries.contribute(stage)
    round6b_queries.contribute(stage)
    round7_queries.contribute(stage)
    round8_queries.contribute(stage)
    round8b_queries.contribute(stage)
    round8c_queries.contribute(stage)
    round8d_queries.contribute(stage)
    round8e_queries.contribute(stage)
    round9_queries.contribute(stage)
    round10_queries.contribute(stage)
    round11_queries.contribute(stage)
    round12_queries.contribute(stage)
    round13_queries.contribute(stage)
    round14_queries.contribute(stage)

    # Staged into a LOCAL dict and committed at the end: a contributor
    # that raises must not leave _REGISTRY partially filled, or a caller
    # that catches and retries would hit the `if _REGISTRY: return`
    # short-circuit and silently serve a truncated registry.
    _REGISTRY.update(staged)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _populate()
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _populate()
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship smoke query at sf0.001.
``queries()`` — one named callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-runnable ANSI SQL oracle per query key; keys
without an oracle take a rows-only check plus unit tests (documented
per-query in the registry module).

The real registry lives in ``building_permissions_etl_spark.plans.registry``
so the tests and ``perfbench`` share it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from building_permissions_etl_spark.plans import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from building_permissions_etl_spark.plans.flagship import flagship_single_pass

    return flagship_single_pass(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()

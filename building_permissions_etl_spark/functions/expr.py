"""Expression combinators.

``let`` works around a real Spark execution property: higher-order
functions (transform/aggregate/filter) are interpreted, not whole-stage-
codegen'd, so Spark's subexpression elimination does not apply inside
them — an expensive subtree referenced k times inside lambda bodies is
evaluated k times per row. Binding it as a lambda variable of an outer
single-element ``transform`` forces one evaluation, after which every
reference reads the materialized value. (Measured ~30× on the minhash
signature at sf0.1.)

``sql_str`` / ``sql_ident`` quote data values and column names for SQL
text. A wide projection built as one ``F.expr`` string per column costs
a couple of py4j round trips each, where the same ``F.*`` tree costs one
per node (6-8 for a conditional count).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``value`` once per row; pass the materialized result to
    ``body``. SQL-level let-binding: ``transform(array(v), x -> body)[1]``.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal: backslash and quote are
    escaped, so any text (Polish letters, ``/``, ``|``, ``'``) round-trips."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier (backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"

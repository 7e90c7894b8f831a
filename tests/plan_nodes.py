"""Walk the nodes of a DataFrame's executed physical plan."""

from __future__ import annotations

from collections.abc import Iterator

from py4j.protocol import Py4JError


def iter_plan_nodes(df) -> Iterator:
    """Every node of df's executed plan, depth first. Descends through
    AQE wrappers (AdaptiveSparkPlan / QueryStage) via their inner-plan
    accessors as well as ordinary children. Call after an action when
    the nodes' metrics are wanted, so they belong to the plan that ran."""

    def walk(node):
        yield node
        for getter in ("executedPlan", "plan"):
            try:
                inner = getattr(node, getter)()
            except Py4JError:  # node has no such accessor
                continue
            yield from walk(inner)
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    yield from walk(df._jdf.queryExecution().executedPlan())

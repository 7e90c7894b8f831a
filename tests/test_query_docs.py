"""QUERIES.md is generated from the registry and must stay current.

Spark-free: rendering imports the contributor modules and records their
registrations; no session starts. Any change to the inventory needs
``QUERIES.md`` regenerated; dropping or renaming a query, or losing an
oracle, also needs the inventory digest below updated on purpose.
"""

import hashlib
import importlib.util
import json
import pathlib
import re

from building_permissions_etl_spark.plans.registry import oracle_sql, queries

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _gen_query_docs():
    spec = importlib.util.spec_from_file_location(
        "gen_query_docs", ROOT / "scripts" / "gen_query_docs.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_md_is_current():
    text = _gen_query_docs().render()
    assert text == (ROOT / "QUERIES.md").read_text(encoding="utf-8"), (
        "QUERIES.md is stale: run python scripts/gen_query_docs.py")
    # the inventory lists exactly the registry, with its oracles
    rows = dict(re.findall(r"^\| `(\w+)` \| (.+) \|$", text, re.M))
    assert set(rows) == set(queries())
    assert {n for n, check in rows.items()
            if check == "DuckDB oracle"} == set(oracle_sql())


def test_inventory_is_pinned():
    """The 217 query names and the 211 with an oracle. Regenerating
    ``QUERIES.md`` does not pass this, so a query is never dropped by
    accident; when the inventory changes on purpose, update the digest."""
    names, oracles = sorted(queries()), sorted(oracle_sql())
    assert (len(names), len(oracles)) == (217, 211)
    digest = hashlib.sha256(json.dumps([names, oracles]).encode()).hexdigest()
    assert digest == (
        "c7a9edd403fbdac32d242d2394f8b0fdda1de989199ccb632c7a2234a3368e94")

"""Seeded generator for the ten query-fixture tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, shaped like the
project's query fixtures (``TESTDATA.md``, ``FIXTURES.md`` §B): the same
row counts per scale factor, column names, physical types and value
domains (a TPC-H-shaped star schema; a click stream of 1.5% as many
users as events; 10-100-word documents over a 30-word vocabulary, 5% of
them a copy of another document with `` dup`` appended; isotropic
64-dimensional unit vectors with a random label in 0..9).
``tests/test_perfbench.py::test_tables_match_fixture_profile`` compares
a generated set with a fixture directory column by column. The same
``(seed, sf)`` always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return int(lo), int(hi)


def _ts_from_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(WORDS)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # near duplicates: 5% of the documents are another document plus one
    # word; two of them may copy the same document (exact duplicates) and
    # one may copy an earlier copy
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    lang_p = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=lang_p)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as in-memory Arrow tables."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": _names("Customer", k),
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        "c_mktsegment": _pick(rng, SEGMENTS, k),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": _names("Supplier", k),
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
    })
    k = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": _pick(rng, names, k),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) / 10, 2)),
    })
    k = n["orders"]
    lo, hi = _days("1995-01-01", "2001-08-02")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, k)),
        "o_orderdate": _ts_from_days(rng.integers(lo, hi, k)),
        "o_orderpriority": _pick(rng, PRIORITIES, k),
    })
    k = n["lineitem"]
    lo, hi = _days("1995-01-02", "2001-11-05")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, k)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _ts_from_days(rng.integers(lo, hi, k)),
    })
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * _DAY_US, k))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(k * 0.015)), k), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, k),
        "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns bytes per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    written = {}
    for name, table in build(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        written[name] = os.path.getsize(path)
    return written

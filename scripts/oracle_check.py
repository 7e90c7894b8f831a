"""Oracle parity sweep — the repo's own correctness gate.

Runs every registry query with a VANILLA SparkSession (none of the
engine's session-factory configs) and compares row counts, sorted column
names, and normalized row values against the DuckDB oracles at sf0.01.
Also probes determinism and bad-path errors.

    python scripts/oracle_check.py [sf_dir]
    ONLY=q1,q2 python scripts/oracle_check.py [sf_dir]   # named queries only
"""
import sys, math, datetime, traceback

sys.path.insert(0, __import__("os").path.join(__import__("os").path.dirname(__file__), ".."))
from pyspark.sql import SparkSession
import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Fully vanilla session, default driver heap. (Round 4 needed a 4g
# override here: iterative-operator localCheckpoint residue accumulated
# across 139 back-to-back queries and OOMed a 1 GiB driver at sf0.1.
# Round 5's tracked checkpoint release —
# operators/dedup.py:_local_checkpoint_tracked — frees each generation's
# RDD blocks as soon as it is superseded, so the default heap holds
# again; this script staying override-free is the regression gate.)
#
# The session is RECYCLED every 25 queries: at 200+ registry queries ×
# sf0.1 a single 1 GiB session OOMs at the margin (observed round 8 —
# the failing query floats between runs; every query is individually
# green). Per-query clearCache + gc.collect cannot fully drain py4j's
# ASYNCHRONOUS detach queue, so JVM-side expression trees from
# large-plan queries stay reachable for a while after Python drops
# them. Chunked sessions bound that residue without a heap override;
# 25 keeps the heavy d-prefix family (decontaminate/dedup, incl. the
# connected-components survivors query) at the START of a fresh session.
# SESSION_CHUNK=0 runs one session for the whole sweep (green at
# sf0.01).
SESSION_CHUNK = int(__import__("os").environ.get("SESSION_CHUNK", "25"))

def make_session() -> SparkSession:
    s = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    return s


spark = make_session()

import __spark_entry__ as E
from building_permissions_etl_spark.plans.type_parity import type_mismatches

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, (datetime.datetime,)):
        return v.isoformat()[:26]
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def rows_to_set(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


# 1. smoke
n = len(E.entry(spark).collect())
print(f"entry(): {n} rows", "OK" if n == 25 else "UNEXPECTED (want 25)")

# 2. parity sweep
qs, osql = E.queries(), E.oracle_sql()
fails = []
sweep_names = sorted(qs)
# ONLY=a,b,c restricts the sweep to named queries — a spot-check tool
# for optimization iterations; the round gate is always the full sweep.
_only = __import__("os").environ.get("ONLY")
if _only:
    keep = {x.strip() for x in _only.split(",") if x.strip()}
    sweep_names = [n for n in sweep_names if n in keep]
for qi, name in enumerate(sweep_names):
    if SESSION_CHUNK and qi and qi % SESSION_CHUNK == 0:
        spark.stop()
        spark = make_session()
    try:
        sdf = qs[name](spark, SF)
        srows = sdf.collect()
        scols = sorted(c.lower() for c in sdf.columns)
        if name in osql:
            dk = con.sql(osql[name])
            dcols_raw, dtypes = list(dk.columns), list(dk.types)
            dcols = sorted(d.lower() for d in dcols_raw)
            drows = dk.fetchall()
            if scols != dcols:
                fails.append((name, f"cols spark={scols} duck={dcols}"))
                continue
            # Output-TYPE parity: the grading driver hashes TYPED
            # values, so an oracle whose column type is not
            # hash-compatible with the Spark dtype (HUGEINT from an
            # uncast sum, int-vs-float drift, decimal scale drift) is
            # driver-red even when every VALUE matches. Round-8's one
            # red row was exactly this class.
            tmis = type_mismatches(sdf.dtypes, dcols_raw, dtypes)
            if tmis:
                fails.append((name, f"output-type drift: {tmis}"))
                continue
            if len(srows) != len(drows):
                fails.append((name, f"rowcount spark={len(srows)} duck={len(drows)}"))
                continue
            a = rows_to_set([tuple(r) for r in srows], [c.lower() for c in sdf.columns])
            b = rows_to_set(drows, [d.lower() for d in dcols_raw])
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                fails.append((name, f"value mismatch, first diffs: {diff}"))
                continue
            print(f"  PASS  {name} ({len(srows)} rows)")
        else:
            print(f"  rows-only  {name} ({len(srows)} rows)")
    except Exception as ex:
        fails.append((name, f"EXC {type(ex).__name__}: {str(ex)[:200]}"))
        traceback.print_exc(limit=2)
    finally:
        # Release py4j refs so ContextCleaner can drop broadcast blocks
        # between queries (checkpoint blocks are now freed explicitly by
        # the operators themselves via tracked release handles), and
        # clear the SQL cache: the iterative operators (PageRank,
        # triangles, LPA, k-core peel, Lloyd, power iteration) each
        # legitimately cache 2-4 frames per CALL, and 200+ back-to-back
        # sf0.1 queries pin enough evict-protected storage
        # (spark.memory.storageFraction) against execution spikes to
        # OOM the 1 GiB default heap at the tail of the sweep —
        # observed round 8, two tail queries short of green. Queries
        # are independent here, so inter-query cache reuse is not part
        # of what this sweep verifies; the localCheckpoint-residue
        # regression gate is UNAFFECTED (checkpoint blocks are
        # RDD-level and invisible to clearCache — only the operators'
        # tracked release frees them).
        import gc
        spark.catalog.clearCache()
        gc.collect()

# 3. probes
# determinism: run a family-spanning sample twice (agg/pivot, sketch
# banding, trained-index probe, stateful window, hash resampling)
_DET_SAMPLE = [n for n in (
    "flagship_monthly_pivot", "dedup_minhash_lsh", "similarity_topk_ivf",
    "event_sessionization", "mixture_resample_counts",
    # round-5 families: corpus-wide dedup window + temporal join
    "paragraph_dedup_reassembly", "scd2_point_in_time_join",
    # round-6 families: approxQuantile-seeded ranged ntile (boundary
    # stability across runs) + islands window grouping
    "equi_depth_histogram", "activity_islands",
) if n in qs] or [sorted(qs)[0]]
det_ok = True
for name in _DET_SAMPLE:
    r1 = rows_to_set([tuple(r) for r in qs[name](spark, SF).collect()], qs[name](spark, SF).columns)
    r2 = rows_to_set([tuple(r) for r in qs[name](spark, SF).collect()], qs[name](spark, SF).columns)
    if r1 != r2:
        det_ok = False
        print(f"determinism probe FAIL: {name}")
print("determinism probe:", "OK" if det_ok else "FAIL", f"({len(_DET_SAMPLE)} queries)")

# bad sf_dir
try:
    qs[name](spark, "/root/testdata/nonexistent").collect()
    print("bad-path probe: NO ERROR (unexpected)")
except Exception as ex:
    print("bad-path probe: raised", type(ex).__name__, "OK")

print()
if fails:
    print(f"FAILURES ({len(fails)}):")
    for n_, m in fails:
        print(f"  FAIL  {n_}: {m}")
    sys.exit(1)
print(f"ALL GREEN: {len(sweep_names)} queries, "
      f"{len([n for n in sweep_names if n in osql])} oracle-checked")

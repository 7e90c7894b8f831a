"""Scale smoke: synthesize an N× copy of the sf0.1 fixtures in /tmp
(shifted ids, multi-file layout like a real warehouse table) and time
the headline operators on it. Usage:

    python scripts/scale_smoke.py [N]       # default N=10

Measured on local[32] at N=10 (6M lineitem rows, 50k docs, exact-dup
corpus — every doc has 9 identical twins):

    flagship_single_pass   3.3 s   (1.0 s at sf0.1 → 3.3×: sublinear,
                                    agg output is fixed-size)
    minhash_lsh_pairs     17.9 s   (2 s → 9×: linear in corpus,
                                    signature stage dominates)
    ngram_jaccard_pairs   83 s     (2.3 s → 36×: QUADRATIC in block
                                    occupancy — duplicated docs grow
                                    every block 10×)

The ngram number is the designed-in warning: the blocked self-join is
exact-verify machinery, valid only where something already bounds block
occupancy (LSH bands as the block key, or exact dedup first — the
duplicated corpus here is precisely what dedup_exact removes). SCALE.md
§2 'Dedup' and the ngram_jaccard_pairs docstring carry the same rule.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from building_permissions_etl_spark.session import get_spark  # noqa: E402


def synthesize(spark, n_copies: int, out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    od_for_shift = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
    # shift spans BOTH tables' key domains: orders with no lineitems can
    # carry the max orderkey, and a lineitem-only shift would make the
    # duplicated orders' key ranges overlap (silent join fan-out)
    shift = max(
        li.agg(F.max("l_orderkey")).first()[0],
        od_for_shift.agg(F.max("o_orderkey")).first()[0],
    ) + 1
    big = li
    for i in range(1, n_copies):
        big = big.unionByName(li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * shift)))
    big.repartition(16).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")

    # orders duplicated with the SAME key shift so order-grain joins stay
    # referentially intact at N× (customer keys unchanged: each customer
    # simply has N× the orders, which also deepens the per-key skew the
    # distribution queries grind through)
    od = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
    obig = od
    for i in range(1, n_copies):
        obig = obig.unionByName(od.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * shift)))
    obig.repartition(8).write.mode("overwrite").parquet(f"{out}/orders.parquet")

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    dshift = docs.agg(F.max("doc_id")).first()[0] + 1
    dbig = docs
    for i in range(1, n_copies):
        dbig = dbig.unionByName(docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * dshift)))
    dbig.repartition(16).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    # events duplicated with shifted user AND event ids: each copy is a
    # fresh population of users with the same temporal shape, so the
    # per-user windows (sessions, transitions) get N× the partitions
    # while per-partition work stays constant — the realistic way a
    # behavioral table grows
    ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    ushift = ev.agg(F.max("user_id")).first()[0] + 1
    eshift = ev.agg(F.max("event_id")).first()[0] + 1
    ebig = ev
    for i in range(1, n_copies):
        ebig = ebig.unionByName(
            ev.withColumn("user_id", F.col("user_id") + F.lit(i * ushift))
              .withColumn("event_id", F.col("event_id") + F.lit(i * eshift)))
    ebig.repartition(16).write.mode("overwrite").parquet(f"{out}/events.parquet")

    for t in ["customer", "supplier", "nation", "region", "part",
              "embeddings"]:
        shutil.copy(f"/root/testdata/sf0.1/{t}.parquet", f"{out}/{t}.parquet")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = f"/tmp/scale_smoke_{n}x"
    spark = get_spark(app_name="scale_smoke")
    spark.sparkContext.setLogLevel("ERROR")
    synthesize(spark, n, out)

    from building_permissions_etl_spark.operators import dedup as D
    from building_permissions_etl_spark.plans.flagship import flagship_single_pass

    def timed(label, thunk):
        # construct+exec window (ADVICE r10):
        # the thunk builds the plan inside the timer, so eager
        # construction work (collect prunes, iterative loops) is charged
        t0 = time.time()
        thunk().write.format("noop").mode("overwrite").save()
        print(f"{label}: {round(time.time() - t0, 2)} s")

    timed("flagship_single_pass", lambda: flagship_single_pass(spark, out))
    docs = spark.read.parquet(f"{out}/documents.parquet")
    timed("dedup_exact", lambda: D.dedup_exact(docs, "text", "doc_id"))
    timed("minhash_lsh_pairs",
          lambda: D.minhash_lsh_pairs(docs, "text", "doc_id", 64, 16))
    # the pipeline order that holds at scale: exact dedup BEFORE the
    # quadratic exact-verify stage
    surv = D.dedup_exact(docs, "text", "doc_id").withColumn(
        "block", F.concat_ws("_", "lang", F.expr("n_chars div 50"))
    )
    timed("ngram_jaccard_after_exact_dedup",
          lambda: D.ngram_jaccard_pairs(surv, "text", "doc_id", "block"))
    # the RAW-corpus path the quadratic can't survive (83 s at 10×):
    # inverted index, pair work bounded by the df cutoff instead of
    # block occupancy — should scale ~linearly with the corpus
    timed("ngram_inverted_raw_corpus",
          lambda: D.ngram_jaccard_pairs_inverted(docs, "text", "doc_id",
                                                 "lang", max_df=100))

    # hot-bucket probe: the N× corpus is a planted boilerplate flood
    # (every doc has N-1 identical twins → every band bucket is ≥ N
    # deep). The cap drops flooded buckets BEFORE the self-join, so the
    # candidate-pair count and runtime stay bounded while the uncapped
    # form grows quadratically in N.
    t0 = time.time()
    n_cap = D.minhash_lsh_pairs(docs, "text", "doc_id", 64, 16,
                                max_bucket=max(4, n // 2)).count()
    t_cap = time.time() - t0
    line = f"hot_bucket_cap: capped={n_cap} pairs {t_cap:.2f} s"
    if n <= 20:
        # the uncapped pair count is O(N²) on this corpus (measured:
        # 250k at 10×, 1.05M at 20×) and GC-thrashes beyond that —
        # which is the point; only measure it where it's survivable
        t0 = time.time()
        n_unc = D.minhash_lsh_pairs(docs, "text", "doc_id", 64, 16,
                                    max_bucket=None).count()
        line += f" | uncapped={n_unc} pairs {time.time() - t0:.2f} s"
    print(line)

    # ranking/LM family on the duplicated corpus: all should scale ~linearly
    # (one token explode + broadcast aggregate tables each)
    from building_permissions_etl_spark.operators import ranking as R

    timed("tfidf_top_terms", lambda: R.tfidf_top_terms(docs, "text", "doc_id"))
    timed("bigram_logprob", lambda: R.bigram_logprob(docs, "text", "doc_id"))
    timed("quality_classifier",
          lambda: R.quality_classifier_score(docs, "text", "doc_id"))
    timed("chunk_dup_fraction", lambda: R.chunk_dup_fraction(docs, "text", "doc_id"))

    # TPC-H family on the N× fact pair (lineitem + orders duplicated with
    # consistent keys): the decision-support joins/aggs should scale
    # ~linearly — each shuffles the facts once on its key; dims broadcast.
    from building_permissions_etl_spark.plans import tpch_queries

    tq = {}
    tpch_queries.contribute(lambda name, fn, sql: tq.__setitem__(name, fn))
    for name in ("order_priority_checking", "part_value_concentration",
                 "customer_order_distribution", "last_shipper_per_order",
                 "volume_shipping"):
        timed(f"tpch:{name}", lambda fn=tq[name]: fn(spark, out))

    # Continuation families (round-4 additions), the 5 slowest: session
    # windows + transition matrix + VARIANT rollup ride the N× events
    # table (N× users, same per-user depth → one window/agg shuffle that
    # should scale ~linearly), cohort retention rides the N× orders.
    from building_permissions_etl_spark.plans import (insight_queries,
                                                      streaming_queries)

    cq = {}
    stage = lambda name, fn, sql: cq.__setitem__(name, fn)  # noqa: E731
    insight_queries.contribute(stage)
    streaming_queries.contribute(stage)
    for name in ("native_session_window", "monthly_cohort_retention",
                 "variant_props_rollup", "event_transition_matrix"):
        timed(f"continuation:{name}", lambda fn=cq[name]: fn(spark, out))

    # recursive_key_chain's work scales with the number of chain STARTS,
    # not table bytes — probe 10× the key cap instead of 10× the rows
    # (each chain is O(log key) deep, so 10× keys ⇒ ~10× total work).
    from building_permissions_etl_spark.catalog import register_views
    register_views(spark, out)
    for cap in (512, 5120):
        sql = insight_queries._RECURSIVE_CHAIN_SQL.replace("512", str(cap))
        t0 = time.time()
        spark.sql(sql).write.format("noop").mode("overwrite").save()
        print(f"continuation:recursive_key_chain cap={cap}: "
              f"{round(time.time() - t0, 2)} s")

    # Round-5 additions without scale rows yet (VERDICT r05 #5): the
    # rolling RANGE frame and CDC compaction ride the N× orders table
    # (N× keys, same per-key depth → one window exchange each), the
    # paragraph dedup rides the N× document corpus (N× paragraphs, the
    # dedup window keyed on 8-byte hashes).
    from building_permissions_etl_spark.plans import (round5_queries,
                                                      round6_queries)

    r56 = {}
    stage56 = lambda name, fn, sql: r56.__setitem__(name, fn)  # noqa: E731
    round5_queries.contribute(stage56)
    round6_queries.contribute(stage56)
    for name in ("rolling_7d_order_stats", "changelog_snapshot",
                 "paragraph_dedup_reassembly"):
        timed(f"round5:{name}", lambda fn=r56[name]: fn(spark, out))

    # Batched-ANN amortization in M (query count), same corpus: one scan
    # regardless of M, so 8× the queries must cost far less than 8× the
    # time (the per-row M·dim fused multiply-adds grow, the scan and the
    # per-query window shuffle amortize).
    from building_permissions_etl_spark.operators import similarity as S

    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    for m in (8, 64):
        timed(f"ann_batch_topk M={m}",
              lambda m=m: S.topk_bruteforce_batch(
                  emb, "embedding", "vec_id", list(range(m)), k=5))

    # Round-6 additions on the same N× tables: islands + running
    # distinct ride N× events (N× users, constant per-user depth),
    # equi-depth + campaign overlap ride N× orders, incremental dedup
    # rides the N× corpus (the batch grows N×, the anti-join stays
    # hash-keyed).
    for name in ("activity_islands", "running_distinct_users",
                 "equi_depth_histogram", "campaign_overlap_orders",
                 "dedup_incremental_batch", "time_weighted_value",
                 "mad_outliers_by_type", "snapshot_diff_census",
                 "minhash_estimate_calibration"):
        timed(f"round6:{name}", lambda fn=r56[name]: fn(spark, out))

    # concurrent_purchase_errors is the density probe: N× events in the
    # SAME 30-day span means N× the intervals per bucket, so the pair
    # OUTPUT grows ~N² — inherent to the overlap semantics, not the
    # algorithm (the bucketized join's shuffle stays linear in rows ×
    # covered-buckets; only the in-bucket pair emission is quadratic in
    # density). Time it expecting superlinear growth and read it with
    # the output count.
    cdf = r56["concurrent_purchase_errors"](spark, out)
    t0 = time.time()
    n_pairs = cdf.agg(F.sum("n_pairs")).first()[0]
    print(f"round6:concurrent_purchase_errors: "
          f"{round(time.time() - t0, 2)} s ({n_pairs} pairs)")

    # Round-6b/7/8 heavy families (VERDICT r07 #4). PageRank, triangles
    # and DSIR ride the N× facts already in `out`. The embedding-table
    # queries (SemDeDup census, Lloyd loop) get their OWN N× synthesis:
    # shifted vec_ids, so every vector gains N-1 exact twins — a planted
    # duplicate flood that stresses exactly what centroid blocking must
    # bound (in-cluster pair work), while `vec_id < 16` keeps the seed
    # set unchanged. Kept separate from `out` so the batched-ANN
    # amortization numbers above stay comparable across rounds.
    from building_permissions_etl_spark.plans import (round6b_queries,
                                                      round7_queries,
                                                      round8_queries)

    r678 = {}
    stage678 = lambda name, fn, sql: r678.__setitem__(name, fn)  # noqa: E731
    round6b_queries.contribute(stage678)
    round7_queries.contribute(stage678)
    round8_queries.contribute(stage678)
    for name in ("pagerank_trade_graph", "dsir_selection_census",
                 "triangle_count_trade_graph", "weekly_user_overlap_exact",
                 "weekly_anchor_interpolation", "quarterly_distinct_users",
                 "hll_quarterly_users_rollup", "priority_sample_by_lang"):
        timed(f"round678:{name}", lambda fn=r678[name]: fn(spark, out))

    emb_out = f"{out}_emb"
    shutil.rmtree(emb_out, ignore_errors=True)
    os.makedirs(emb_out)
    emb1 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    vshift = emb1.agg(F.max("vec_id")).first()[0] + 1
    vbig = emb1
    for i in range(1, n):
        vbig = vbig.unionByName(
            emb1.withColumn("vec_id", F.col("vec_id") + F.lit(i * vshift)))
    vbig.repartition(16).write.mode("overwrite").parquet(
        f"{emb_out}/embeddings.parquet")
    for name in ("semantic_dedup_census", "kmeans_lloyd_2iter"):
        timed(f"round678:{name} (N-plicate embeddings)",
              lambda fn=r678[name]: fn(spark, emb_out))
    shutil.rmtree(emb_out, ignore_errors=True)

    # Round-8d additions. Bloom/zorder/checksum/Pareto ride the N×
    # facts (linear: one scan + one bounded agg each; the Bloom build
    # side is the UNCHANGED customer dim, so the filter constant is
    # flat). RFM's global ntile input is one row per CUSTOMER — the
    # dim is not duplicated, so the window input is constant and only
    # the per-cust rollup grows. CUSUM and streaks ride N× events:
    # streaks get N× users at constant per-user depth (linear);
    # CUSUM's per-TYPE ordered window is the honest sequential cost —
    # 5 types × N× depth means the per-partition sort grows N×, the
    # single-key-partition ceiling the docstring documents.
    from building_permissions_etl_spark.plans import round8d_queries

    r8d = {}
    stage8d = lambda name, fn, sql: r8d.__setitem__(name, fn)  # noqa: E731
    round8d_queries.contribute(stage8d)
    for name in ("bloom_pruned_segment_revenue", "zorder_extent_pruning",
                 "table_checksum_rollup", "pareto_customer_concentration",
                 "rfm_segment_counts", "cusum_changepoint_by_type",
                 "active_day_streaks"):
        timed(f"round8d:{name}", lambda fn=r8d[name]: fn(spark, out))

    # Round-8e graph queries ride the N× facts only through the edge
    # DERIVATION (one fact shuffle); the iterative LPA / peel rounds run
    # on the fixed 25-node nation graph at any N — same profile as
    # triangles/pagerank. The seasonality screen is two aggregations on
    # N× events.
    from building_permissions_etl_spark.plans import round8e_queries

    r8e = {}
    stage8e = lambda name, fn, sql: r8e.__setitem__(name, fn)  # noqa: E731
    round8e_queries.contribute(stage8e)
    for name in ("lpa_trade_communities", "kcore_trade_graph",
                 "dow_seasonality_outliers"):
        timed(f"round8e:{name}", lambda fn=r8e[name]: fn(spark, out))

    # Round-9 additions. The Bloom register union and z-order extent
    # merge ride the N× orders (linear: two partial-agg scans + a
    # ≤1024/≤1024-row merge each — the registers/extents tables are
    # FIXED-size at any N, which is the whole maintenance point). The
    # shard-merge CUSUM rides N× events: per-(type, month) ordered
    # windows grow N× in DEPTH per shard at fixed shard count here
    # (time-duplicated copies), but unlike the single-pass form the
    # sequential unit is the shard, not the key's whole history — on
    # real time-growing data shard count grows and per-shard depth
    # stays flat, so the N× timing read alongside
    # round8d:cusum_changepoint_by_type quantifies what the merge buys.
    from building_permissions_etl_spark.plans import round9_queries

    r9 = {}
    stage9 = lambda name, fn, sql: r9.__setitem__(name, fn)  # noqa: E731
    round9_queries.contribute(stage9)
    # dedup_minhash_incremental rides the N× corpus: BOTH sides grow
    # N× here (the fixture split is id-mod), so the probe join's
    # candidate work grows with corpus×delta band collisions — the
    # corpus-side hot-bucket cap is what keeps the planted N-plicate
    # flood bounded, same argument as the self-join's cap row above.
    for name in ("cusum_shard_merge", "bloom_incremental_union",
                 "zorder_extent_merge", "dedup_minhash_incremental"):
        timed(f"round9:{name}", lambda fn=r9[name]: fn(spark, out))

    # Round-10 additions: the drift-monitor histogram family rides the
    # N× orders with the same profile as the round-9 maintained
    # tables — each snapshot is ONE partial-agg scan emitting a
    # ≤19-row artifact, the shard merge folds three such artifacts,
    # and PSI joins two of them; everything after the scans is
    # constant-size at any N, so all three must scale like a bare
    # column scan (sublinear wall-clock on 32 cores until the scan
    # saturates).
    from building_permissions_etl_spark.plans import round10_queries

    r10 = {}
    stage10 = lambda name, fn, sql: r10.__setitem__(name, fn)  # noqa: E731
    round10_queries.contribute(stage10)
    for name in ("histogram_snapshot_price", "histogram_shard_merge",
                 "psi_drift_monitor"):
        timed(f"round10:{name}", lambda fn=r10[name]: fn(spark, out))

    # Round-10 scale-shape rewrites. weighted_median's bucket pass
    # shuffles ≤ groups × n_buckets rows and its two ordered windows
    # walk ≤ max(n_buckets, bucket_width) rows at ANY N — the N×
    # timing should track the two column scans, where the replaced
    # single-pass form grew its 3-task window linearly in distinct
    # prices. basket_lift's one collect_set exchange grows linearly in
    # orders; pair generation and both count aggregates partial-
    # aggregate into ≤C(25,2) keys before any further exchange.
    from building_permissions_etl_spark.plans import round8b_queries

    r8b = {}
    stage8b = lambda name, fn, sql: r8b.__setitem__(name, fn)  # noqa: E731
    round8b_queries.contribute(stage8b)
    for name in ("weighted_median_unit_price", "basket_lift_brands"):
        timed(f"round10-rewrite:{name}", lambda fn=r8b[name]: fn(spark, out))

    # Round-11/12 persisted-artifact monitors at N×. Each family's
    # FIRST timed call charges the prep (one partial-agg scan of the
    # N× base + a ≤1024-row artifact write — linear in N, amortized
    # over every later run); the SECOND call is the design point:
    # artifact-only monitor/probe cost, which must be ~constant at any
    # N (psi: two ≤19-row artifact reads; histogram delta: one pushed
    # delta scan + artifact fold; bloom probe: ≤1024-row artifact read
    # + delta-only scan with the probe predicate inside codegen).
    from building_permissions_etl_spark.plans import (round11_queries,
                                                      round12_queries,
                                                      round13_queries)

    r1112 = {}
    stage1112 = lambda name, fn, sql: r1112.__setitem__(name, fn)  # noqa: E731
    round11_queries.contribute(stage1112)
    round12_queries.contribute(stage1112)
    round13_queries.contribute(stage1112)
    for tag, name in (
            ("round12", "psi_drift_persisted"),
            ("round12", "histogram_persisted_delta_update"),
            ("round12", "bloom_register_persisted_probe"),
            ("round12", "zorder_extent_persisted_prune"),
            # round 13: the partitioned layout's artifact-only call
            # must track the candidate fraction (directory skipping),
            # not N; the CUSUM probe's must track the delta scan only
            ("round13", "zorder_partitioned_file_skip"),
            ("round13", "zorder_layout_incremental_skip"),
            ("round13", "cusum_state_persisted_probe")):
        timed(f"{tag}:{name} (first call, incl. any prep)",
              lambda fn=r1112[name]: fn(spark, out))
        timed(f"{tag}:{name} (artifact-only)",
              lambda fn=r1112[name]: fn(spark, out))

    _planted_long_doc_repetition(spark)
    _planted_long_chain_components(spark)
    _crs_codegen_throughput(spark)
    shutil.rmtree(out, ignore_errors=True)


def _planted_long_doc_repetition(spark) -> None:
    """Adversarial repetition_stats probe: 100k-token docs. The r02 form
    (distinct×tokens per row) needed ~5×10^8 comparisons per doc here;
    the sort+run-length form is n·log n, so this must finish in seconds
    and scale ~linearly 10k → 100k."""
    import random

    from building_permissions_etl_spark.operators.corpus import repetition_stats

    random.seed(7)
    vocab = ["the"] + [f"w{j}" for j in range(5000)]
    for ntok in (10_000, 100_000):
        rows = [(i, " ".join(random.choice(vocab) for _ in range(ntok)))
                for i in range(8)]
        df = spark.createDataFrame(rows, "id long, text string")
        t0 = time.time()
        repetition_stats(df, "text", "id").write.format("noop").mode("overwrite").save()
        print(f"repetition_stats planted {ntok}-token docs x8: "
              f"{round(time.time() - t0, 2)} s")


def _planted_long_chain_components(spark) -> None:
    """Adversarial connected-components probe: one chain of n nodes
    (diameter n-1). Min-label propagation would need n rounds — far past
    any iteration budget; the large-star/small-star variant is O(log² n)
    rounds, so runtime must grow far slower than 10× for 10× nodes. Both
    chains are under the driver union-find's edge cap, so the probe calls
    the distributed loop directly."""
    from building_permissions_etl_spark.operators.dedup import _star_components

    for n in (10_000, 100_000):
        edges = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
        t0 = time.time()
        labels = _star_components(edges)
        n_in_min = labels.filter("label = 0").count()
        labels.unpersist()
        print(f"star_components chain n={n}: {round(time.time() - t0, 2)} s "
              f"({n_in_min}/{n} labeled to component min)")


def _crs_codegen_throughput(spark) -> None:
    """The EPSG:2180→WGS84 series as whole-stage-codegen SQL: per-row
    cost must be trig-bound nanoseconds, i.e. millions of rows/s on one
    machine and embarrassingly parallel at 100 TB."""
    from building_permissions_etl_spark.functions.crs import to_wgs84_sql

    lon, lat = to_wgs84_sql("x", "y")
    n = 20_000_000
    df = (
        spark.range(n)
        .selectExpr("CAST(250000 + (id * 7919) % 500000 AS DOUBLE) AS x",
                    "CAST(150000 + (id * 104729) % 600000 AS DOUBLE) AS y")
        .selectExpr(f"{lon} AS lon", f"{lat} AS lat")
        .selectExpr("sum(lon + lat) AS s")
    )
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    el = time.time() - t0
    print(f"crs_transform {n} rows: {round(el, 2)} s "
          f"({round(n / el / 1e6, 1)}M rows/s)")


if __name__ == "__main__":
    main()

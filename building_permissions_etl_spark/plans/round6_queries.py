"""Round-6 continuation queries: SCD2 history validation, gaps-and-
islands, cumulative distinct users, interval-overlap attribution,
referential-integrity audit, exact equi-depth histogram, incremental
delta-vs-corpus dedup, and a GROUP BY ALL shared-SQL probe.

These close the warehouse-hygiene surface around the SCD family (a
malformed history must be DETECTABLE, not just avoided — reference
dags/aggregates_python_helpers.py never versions dimensions at all) and
add the remaining classic analytic shapes (islands, running distinct,
interval overlap, equi-depth) plus the nightly-ingest dedup pattern a
training-data pipeline runs before appending a delta to a 100 TB
corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from building_permissions_etl_spark.catalog import load_table, register_views
from building_permissions_etl_spark.operators import aggregates as A
from building_permissions_etl_spark.operators import dedup as D
from building_permissions_etl_spark.operators import joins as J
from building_permissions_etl_spark.operators import scd as SCD
from building_permissions_etl_spark.operators import similarity as S


def _malformed_history(spark, sf):
    """Deterministic SCD2 history with SEEDED corruption, synthesized
    from the customer dim (date-typed intervals, pure column
    arithmetic so the oracle rebuilds it exactly):

      * every key: v1 = [1992-06-01, +100+(ck%900) days);
      * v2 starts at v1's end — except ck%7==0 keys start 10 days
        EARLY (overlap on v1) — and is open, except ck%13==0 keys
        close at their own start (non-positive interval);
      * ck%11==0 keys add an open v3 500 days later, so their open v2
        is open_not_last.
    """
    cust = load_table(spark, "customer", sf)
    ck = F.col("c_custkey")
    d0 = F.lit("1992-06-01").cast("date")
    split = (F.lit(100) + ck % 900).cast("int")
    v2_start = split - F.when(ck % 7 == 0, 10).otherwise(0)
    v1 = cust.select(
        ck.alias("k"), d0.alias("valid_from"),
        F.date_add(d0, split).alias("valid_to"),
    )
    v2 = cust.select(
        ck.alias("k"), F.date_add(d0, v2_start).alias("valid_from"),
        F.when(ck % 13 == 0, F.date_add(d0, v2_start))
        .otherwise(F.lit(None).cast("date")).alias("valid_to"),
    )
    v3 = cust.filter(ck % 11 == 0).select(
        ck.alias("k"), F.date_add(d0, split + 500).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    return v1.unionByName(v2).unionByName(v3)


def contribute(register) -> None:
    # ---- SCD2 structural validation -------------------------------------
    # validate_scd2_history over a deliberately-corrupted synthetic
    # history: per-kind violation counts. One window exchange on the dim
    # key; the oracle replays the identical lead() checks.
    def scd2_violations(spark, sf):
        hist = _malformed_history(spark, sf)
        return (
            SCD.validate_scd2_history(hist, "k")
            .groupBy("violation").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("violation")
        )

    register(
        "scd2_history_violations",
        scd2_violations,
        """
        WITH h AS (
          SELECT c_custkey AS k, DATE '1992-06-01' AS valid_from,
                 DATE '1992-06-01'
                   + CAST(100 + c_custkey % 900 AS INT) AS valid_to
          FROM customer
          UNION ALL
          SELECT c_custkey,
                 DATE '1992-06-01' + CAST(100 + c_custkey % 900
                   - CASE WHEN c_custkey % 7 = 0 THEN 10 ELSE 0 END AS INT),
                 CASE WHEN c_custkey % 13 = 0 THEN
                   DATE '1992-06-01' + CAST(100 + c_custkey % 900
                     - CASE WHEN c_custkey % 7 = 0 THEN 10 ELSE 0 END AS INT)
                 END
          FROM customer
          UNION ALL
          SELECT c_custkey, DATE '1992-06-01'
                   + CAST(600 + c_custkey % 900 AS INT), NULL
          FROM customer WHERE c_custkey % 11 = 0
        ), w AS (
          SELECT k, valid_from, valid_to,
                 lead(valid_from) OVER win AS nvf,
                 (lead(1) OVER win) IS NOT NULL AS has_next
          FROM h
          WINDOW win AS (PARTITION BY k
                         ORDER BY valid_from ASC NULLS FIRST,
                                  valid_to ASC NULLS LAST)
        ), v AS (
          SELECT 'null_valid_from' AS violation FROM w
          WHERE valid_from IS NULL
          UNION ALL
          SELECT 'non_positive_interval' FROM w
          WHERE valid_from IS NOT NULL AND valid_to IS NOT NULL
            AND valid_to <= valid_from
          UNION ALL
          SELECT 'open_not_last' FROM w
          WHERE valid_to IS NULL AND has_next
          UNION ALL
          SELECT 'overlap' FROM w
          WHERE valid_to IS NOT NULL AND nvf < valid_to
        )
        SELECT violation, CAST(count(*) AS BIGINT) AS n
        FROM v GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- gaps and islands ----------------------------------------------
    # Islands of consecutive active DAYS per user (the classic date -
    # row_number grouping trick: consecutive days share day - rn), then
    # the island-length histogram. Two exchanges: user_id for the
    # window, island length for the final histogram; distinct
    # (user, day) first so duplicate events never split an island.
    def islands(spark, sf):
        ev = load_table(spark, "events", sf)
        days = ev.select(
            "user_id", F.col("ts").cast("date").alias("d")
        ).distinct()
        w = Window.partitionBy("user_id").orderBy("d")
        grp = F.date_sub(F.col("d"), F.row_number().over(w))
        lens = (
            days.withColumn("grp", grp)
            .groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("island_len"))
        )
        return (
            lens.groupBy("island_len")
            .agg(F.count(F.lit(1)).alias("n_islands"))
            .orderBy("island_len")
        )

    register(
        "activity_islands",
        islands,
        """
        WITH d AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ), g AS (
          SELECT user_id,
                 d - CAST(row_number() OVER (PARTITION BY user_id
                                             ORDER BY d) AS INT) AS grp
          FROM d
        ), i AS (
          SELECT CAST(count(*) AS BIGINT) AS island_len
          FROM g GROUP BY user_id, grp
        )
        SELECT island_len, CAST(count(*) AS BIGINT) AS n_islands
        FROM i GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- cumulative distinct users -------------------------------------
    # Running COUNT(DISTINCT) over an ordered stream — not directly
    # expressible as a Spark window — decomposed scalably: each user
    # contributes on their FIRST day only (one groupBy on user_id), the
    # per-day new-user counts are a tiny frame, and the cumulative sum
    # windows over THAT (days, not events — the only single-partition
    # window touches ~#days rows).
    def running_distinct(spark, sf):
        ev = load_table(spark, "events", sf).select(
            "user_id", F.col("ts").cast("date").alias("d")
        )
        first_day = ev.groupBy("user_id").agg(F.min("d").alias("d"))
        new_per_day = first_day.groupBy("d").agg(
            F.count(F.lit(1)).alias("new_users"))
        all_days = ev.select("d").distinct()
        per_day = all_days.join(new_per_day, "d", "left").select(
            "d", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        w = Window.orderBy("d").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        return per_day.select(
            "d", "new_users",
            F.sum("new_users").over(w).alias("cum_distinct_users"),
        ).orderBy("d")

    register(
        "running_distinct_users",
        running_distinct,
        """
        WITH f AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY 1
        ), n AS (
          SELECT d, count(*) AS nu FROM f GROUP BY 1
        ), a AS (
          SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
        )
        SELECT a.d, CAST(coalesce(n.nu, 0) AS BIGINT) AS new_users,
               CAST(sum(coalesce(n.nu, 0)) OVER (
                 ORDER BY a.d ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT) AS cum_distinct_users
        FROM a LEFT JOIN n USING (d) ORDER BY d
        """,
    )

    # ---- interval-overlap campaign attribution -------------------------
    # Eight 45-day campaigns (literal arithmetic off spark.range / the
    # oracle's range()) overlap-joined against each order's 30-day
    # active interval; every campaign row kept (how='right'). The
    # campaign side broadcasts — the order side streams once, no
    # shuffle before the final 8-group aggregate.
    def campaign_overlap(spark, sf):
        orders = load_table(spark, "orders", sf).select(
            F.col("o_orderdate").cast("date").alias("os"),
        ).withColumn("oe", F.date_add("os", 30))
        c0 = F.lit("1994-01-01").cast("date")
        camps = spark.range(8).select(
            F.col("id").alias("campaign_id"),
            F.date_add(c0, (F.col("id") * 90).cast("int")).alias("cs"),
            F.date_add(c0, (F.col("id") * 90 + 45).cast("int")).alias("ce"),
        )
        j = J.interval_overlap_join(
            orders, camps, "os", "oe", "cs", "ce", how="right")
        return (
            j.groupBy("campaign_id")
            .agg(F.count("os").alias("n_orders"))
            .orderBy("campaign_id")
        )

    register(
        "campaign_overlap_orders",
        campaign_overlap,
        """
        WITH c AS (
          SELECT i AS campaign_id,
                 DATE '1994-01-01' + CAST(90 * i AS INT) AS cs,
                 DATE '1994-01-01' + CAST(90 * i + 45 AS INT) AS ce
          FROM unnest(range(0, 8)) AS t(i)
        ), o AS (
          SELECT CAST(o_orderdate AS DATE) AS os FROM orders
        )
        SELECT c.campaign_id, CAST(count(o.os) AS BIGINT) AS n_orders
        FROM c LEFT JOIN o ON o.os < c.ce AND c.cs < o.os + 30
        GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- referential-integrity audit -----------------------------------
    # The cross-table consistency report a warehouse runs after load:
    # orphaned facts (anti-join child→parent; expected 0 on consistent
    # fixtures — the ASSERTION is the point) and coverage gaps
    # (childless parents; legitimately nonzero). Four anti/semi joins,
    # each shuffling only its key projection; dims broadcast.
    def fk_audit(spark, sf):
        li = load_table(spark, "lineitem", sf).select("l_orderkey", "l_partkey")
        od = load_table(spark, "orders", sf).select("o_orderkey", "o_custkey")
        cust = load_table(spark, "customer", sf).select("c_custkey")

        def one(name, frame):
            return frame.agg(
                F.lit(name).alias("check_name"),
                F.count(F.lit(1)).alias("n"),
            ).select("check_name", "n")

        checks = [
            one("customers_without_orders",
                cust.join(od, cust.c_custkey == od.o_custkey, "left_anti")),
            one("orphan_lineitems",
                li.join(od, li.l_orderkey == od.o_orderkey, "left_anti")),
            one("orphan_orders",
                od.join(F.broadcast(cust), od.o_custkey == cust.c_custkey,
                        "left_anti")),
            one("parts_never_ordered",
                load_table(spark, "part", sf).select("p_partkey")
                .join(li, F.col("p_partkey") == li.l_partkey, "left_anti")),
        ]
        out = checks[0]
        for c in checks[1:]:
            out = out.unionByName(c)
        return out.orderBy("check_name")

    register(
        "fk_coverage_audit",
        fk_audit,
        """
        SELECT 'customers_without_orders' AS check_name,
               CAST(count(*) AS BIGINT) AS n
        FROM customer c WHERE NOT EXISTS
          (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        UNION ALL
        SELECT 'orphan_lineitems', CAST(count(*) AS BIGINT)
        FROM lineitem l WHERE NOT EXISTS
          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'orphan_orders', CAST(count(*) AS BIGINT)
        FROM orders o WHERE NOT EXISTS
          (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'parts_never_ordered', CAST(count(*) AS BIGINT)
        FROM part p WHERE NOT EXISTS
          (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
        ORDER BY check_name
        """,
    )

    # ---- exact equi-depth histogram ------------------------------------
    # Decile histogram of order value with EXACT ntile semantics but no
    # single-partition window over the fact table (equi_depth_buckets:
    # range-bucketed local ranks + a ~32-row prefix-sum). The oracle is
    # DuckDB's native ntile over the same total order.
    def equi_depth(spark, sf):
        od = load_table(spark, "orders", sf).select(
            "o_orderkey", "o_totalprice")
        b = A.equi_depth_buckets(od, "o_totalprice", "o_orderkey", 10)
        return (
            b.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.min("o_totalprice"), 2).alias("lo"),
                F.round(F.max("o_totalprice"), 2).alias("hi"),
            )
            .orderBy("bucket")
        )

    register(
        "equi_depth_histogram",
        equi_depth,
        """
        WITH t AS (
          SELECT o_totalprice,
                 ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
          FROM orders
        )
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi
        FROM t GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- incremental delta-vs-corpus dedup -----------------------------
    # The nightly-ingest pattern: docs with doc_id % 4 == 0 arrive as
    # the new batch against the already-deduped remainder; survivors =
    # first-in-batch AND unseen-in-corpus (exact content match, hashed
    # 8-byte exchange keys). The corpus is scanned once, never windowed.
    def incr_dedup(spark, sf):
        docs = load_table(spark, "documents", sf)
        corpus = docs.filter(F.col("doc_id") % 4 != 0)
        batch = docs.filter(F.col("doc_id") % 4 == 0)
        out = D.dedup_incremental_batch(corpus, batch, "text", "doc_id")
        return out.select("doc_id").orderBy("doc_id")

    register(
        "dedup_incremental_batch",
        incr_dedup,
        """
        WITH batch AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
        ), firsts AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY text
                                      ORDER BY doc_id) AS rn
            FROM batch
          ) WHERE rn = 1
        )
        SELECT f.doc_id FROM firsts f
        WHERE NOT EXISTS (
          SELECT 1 FROM documents c
          WHERE c.doc_id % 4 <> 0 AND c.text = f.text
        )
        ORDER BY f.doc_id
        """,
    )

    # ---- fact×fact interval overlap (bucketized) -----------------------
    # Errors concurrent with purchases: both sides are event-derived
    # 5-minute intervals — fact-sized, so no broadcast; the bucketized
    # join explodes each interval to its covered coarse buckets,
    # equi-joins on the bucket id, and re-checks the exact half-open
    # predicate, emitting each pair only in the bucket of its later
    # start (duplicate-free with no distinct). The oracle is the plain
    # theta join.
    def concurrent(spark, sf):
        ev = load_table(spark, "events", sf)
        w_us = 300 * 1_000_000
        us = F.unix_micros(F.col("ts"))
        purch = ev.filter(F.col("event_type") == "purchase").select(
            us.alias("ps"), (us + w_us).alias("pe"),
            F.hour("ts").cast("bigint").alias("purchase_hour"),
        )
        errs = ev.filter(F.col("event_type") == "error").select(
            us.alias("es"), (us + w_us).alias("ee"))
        j = J.bucketized_interval_join(
            purch, errs, "ps", "pe", "es", "ee", bucket_width=w_us)
        return (
            j.groupBy("purchase_hour")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("purchase_hour")
        )

    register(
        "concurrent_purchase_errors",
        concurrent,
        """
        WITH p AS (
          SELECT epoch_us(ts) AS ps, epoch_us(ts) + 300000000 AS pe,
                 date_part('hour', ts) AS purchase_hour
          FROM events WHERE event_type = 'purchase'
        ), e AS (
          SELECT epoch_us(ts) AS es, epoch_us(ts) + 300000000 AS ee
          FROM events WHERE event_type = 'error'
        )
        SELECT purchase_hour, CAST(count(*) AS BIGINT) AS n_pairs
        FROM p JOIN e ON p.ps < e.ee AND e.es < p.pe
        GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- snapshot diff census ------------------------------------------
    # Table-diff between two full states (the complement of the SCD
    # merges, which APPLY a known delta): a synthetic "tomorrow"
    # snapshot drops every 10th customer, shifts balances for every 7th,
    # and appends re-keyed copies of every 5th; snapshot_diff recovers
    # the delta as added/removed/changed/unchanged counts. The +10
    # balance shift is exact IEEE addition, so change detection is
    # bit-identical across engines.
    def snap_diff(spark, sf):
        cust = load_table(spark, "customer", sf).select(
            "c_custkey", "c_acctbal", "c_mktsegment")
        ck = F.col("c_custkey")
        new = (
            cust.filter(ck % 10 != 0)
            .withColumn(
                "c_acctbal",
                F.when(ck % 7 == 0, F.col("c_acctbal") + 10)
                .otherwise(F.col("c_acctbal")),
            )
            .unionByName(
                cust.filter(ck % 5 == 0).select(
                    (ck + 10_000_000).alias("c_custkey"),
                    "c_acctbal", "c_mktsegment"))
        )
        d = SCD.snapshot_diff(cust, new, "c_custkey",
                              ["c_acctbal", "c_mktsegment"])
        return (
            d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("change_type")
        )

    register(
        "snapshot_diff_census",
        snap_diff,
        """
        WITH oldsnap AS (
          SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        ), newsnap AS (
          SELECT c_custkey,
                 CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10
                      ELSE c_acctbal END AS c_acctbal,
                 c_mktsegment
          FROM customer WHERE c_custkey % 10 <> 0
          UNION ALL
          SELECT c_custkey + 10000000, c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 5 = 0
        ), d AS (
          SELECT CASE WHEN o.c_custkey IS NULL THEN 'added'
                      WHEN n.c_custkey IS NULL THEN 'removed'
                      WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
                        OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
                        THEN 'changed'
                      ELSE 'unchanged' END AS change_type
          FROM oldsnap o FULL OUTER JOIN newsnap n
            ON o.c_custkey = n.c_custkey
        )
        SELECT change_type, CAST(count(*) AS BIGINT) AS n
        FROM d GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- time-weighted average -----------------------------------------
    # Monitoring-style TWA per user: each reading holds until the next
    # one, so its weight is the gap to the successor (last reading
    # carries no duration). All weights and values ride as exact
    # integers (milli-units × whole seconds) so the per-user sums are
    # order-independent; only the final ratio is floating.
    def twa(spark, sf):
        ev = load_table(spark, "events", sf)
        us = F.unix_micros(F.col("ts"))
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        staged = (
            ev.select(
                "user_id", "ts", "event_id",
                F.round(F.col("value") * 1000).cast("bigint").alias("m"),
                us.alias("us"),
            )
            .withColumn("dt_us", F.lead("us").over(w) - F.col("us"))
            .withColumn("dt_s", F.expr("dt_us div 1000000"))
        )
        return (
            staged.filter(F.col("dt_s").isNotNull() & (F.col("dt_s") > 0))
            .groupBy("user_id")
            .agg(
                F.round(
                    F.sum(F.col("m") * F.col("dt_s")).cast("double")
                    / F.sum("dt_s").cast("double") / 1000.0, 6,
                ).alias("twa"),
            )
            .orderBy("user_id")
        )

    register(
        "time_weighted_value",
        twa,
        """
        WITH t AS (
          SELECT user_id, CAST(round(value * 1000) AS BIGINT) AS m,
                 (lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id)
                  - epoch_us(ts)) // 1000000 AS dt_s
          FROM events
        )
        SELECT user_id,
               round(CAST(sum(m * dt_s) AS DOUBLE)
                     / CAST(sum(dt_s) AS DOUBLE) / 1000.0, 6) AS twa
        FROM t WHERE dt_s IS NOT NULL AND dt_s > 0
        GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- robust (MAD) outlier census -----------------------------------
    # Median-absolute-deviation outliers per event type — the robust
    # twin of value_outliers_zscore. Exact arithmetic throughout: values
    # in integer milli-units, so the interpolated medians land on exact
    # binary fractions (halves, then quarters) and the 3×MAD comparison
    # cannot flip between engines. Two aggregate passes with broadcast
    # joins back; at 100 TB swap percentile for approx_percentile and
    # accept the sketch (documented rows-only trade).
    def mad(spark, sf):
        ev = load_table(spark, "events", sf)
        staged = ev.select(
            "event_type",
            F.round(F.col("value") * 1000).cast("bigint").alias("m"))
        med = staged.groupBy("event_type").agg(
            F.percentile(F.col("m"), F.lit(0.5)).alias("med"))
        dev = staged.join(F.broadcast(med), "event_type").select(
            "event_type", F.abs(F.col("m") - F.col("med")).alias("dev"))
        madt = dev.groupBy("event_type").agg(
            F.percentile(F.col("dev"), F.lit(0.5)).alias("mad"))
        return (
            dev.join(F.broadcast(madt), "event_type")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1)
                      .otherwise(0)).cast("bigint").alias("n_outliers"),
            )
            .orderBy("event_type")
        )

    register(
        "mad_outliers_by_type",
        mad,
        """
        WITH s AS (
          SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS m
          FROM events
        ), med AS (
          SELECT event_type, quantile_cont(m, 0.5) AS med
          FROM s GROUP BY 1
        ), d AS (
          SELECT s.event_type, abs(s.m - med.med) AS dev
          FROM s JOIN med USING (event_type)
        ), madt AS (
          SELECT event_type, quantile_cont(dev, 0.5) AS mad
          FROM d GROUP BY 1
        )
        SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN d.dev > 3 * madt.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM d JOIN madt USING (event_type)
        GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- minhash estimator calibration ---------------------------------
    # The quality diagnostic behind every LSH threshold choice: for each
    # candidate pair the banded pipeline surfaces, compare the minhash
    # Jaccard ESTIMATE (fraction of equal signature components) against
    # the EXACT shingle-set Jaccard, and histogram the absolute error in
    # deciles. Runs on portable_hash64 so DuckDB replicates the whole
    # sketch; both engines compute est (multiples of 1/64) and exact
    # (int/int division) as identical doubles, so the floor(err*10)
    # bucket cannot flip. Shape: the banded candidate join (never
    # all-pairs) plus two gram-set joins back — grams ride only to
    # candidate rows.
    def calibration(spark, sf):
        from building_permissions_etl_spark.functions.portable import (
            portable_hash64,
        )

        docs = load_table(spark, "documents", sf)
        pairs = D.minhash_lsh_pairs(
            docs, "text", "doc_id", k=64, bands=16, min_est_jaccard=0.5,
            base_hash=portable_hash64, max_bucket=D.DEFAULT_MAX_BUCKET,
        )
        grams = docs.select(
            F.col("doc_id"), D.word_shingles(F.col("text"), 3).alias("ng"))
        j = (
            pairs
            .join(grams.select(F.col("doc_id").alias("id_a"),
                               F.col("ng").alias("ng_a")), "id_a")
            .join(grams.select(F.col("doc_id").alias("id_b"),
                               F.col("ng").alias("ng_b")), "id_b")
        )
        inter = F.size(F.array_intersect("ng_a", "ng_b"))
        exact = inter.cast("double") / (
            F.size("ng_a") + F.size("ng_b") - inter).cast("double")
        err = F.abs(F.col("est_jaccard") - exact)
        return (
            j.select(F.floor(err * 10).cast("bigint").alias("err_decile"))
            .groupBy("err_decile")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("err_decile")
        )

    from building_permissions_etl_spark.plans import sketch_oracles as SK
    from building_permissions_etl_spark.plans.extensions import _SHINGLES3

    register(
        "minhash_estimate_calibration",
        calibration,
        f"""
        WITH cand AS (
          {SK.minhash_lsh_sql(_SHINGLES3, k=64, bands=16, min_est=0.5,
                              max_bucket=D.DEFAULT_MAX_BUCKET)}
        ), g AS (
          SELECT doc_id, {_SHINGLES3} AS ng FROM documents
        ), e AS (
          SELECT c.est_jaccard,
                 CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
                   / CAST(len(a.ng) + len(b.ng)
                          - len(list_intersect(a.ng, b.ng)) AS DOUBLE)
                   AS exact
          FROM cand c
          JOIN g a ON a.doc_id = c.id_a
          JOIN g b ON b.doc_id = c.id_b
        )
        SELECT CAST(floor(abs(est_jaccard - exact) * 10) AS BIGINT)
                 AS err_decile,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM e GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- one-pass k-means assignment census ----------------------------
    # The Lloyd-iteration assignment step with deterministic seeds (the
    # 16 lowest-id vectors — both engines read the SAME seed vectors
    # from the table, so no literal centroids in the SQL): every vector
    # takes the argmin squared-L2 (rounded 6, seed_id tiebreak) against
    # the seed set, and the census reports cluster sizes. Round 14
    # (guide §2.4): delegated to similarity.assign_nearest_seed, whose
    # literal-seed path makes the whole assignment one projection — the
    # 16 seeds are collected at construction (bounded pushed-filter
    # read) and inlined, so the only exchange left is the census
    # aggregate (the former shape cross-joined the broadcast seed frame
    # and min_by-aggregated N fat rows).
    def kmeans_census(spark, sf):
        emb = load_table(spark, "embeddings", sf)
        seeds = emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("seed_id"), F.col("embedding").alias("sv"))
        assigned = S.assign_nearest_seed(emb, "embedding", "vec_id", seeds)
        return (
            assigned.groupBy("seed_id")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.round(F.min("dist2"), 6).alias("closest_dist2"),
            )
            .orderBy("seed_id")
        )

    register(
        "kmeans_assign_census",
        kmeans_census,
        """
        WITH s AS (
          SELECT vec_id AS seed_id, embedding AS sv FROM embeddings
          WHERE vec_id < 16
        ), d AS (
          SELECT e.vec_id, s.seed_id,
                 round(list_sum(list_transform(range(1, 65),
                   i -> (CAST(e.embedding[i] AS DOUBLE)
                         - CAST(s.sv[i] AS DOUBLE))
                        * (CAST(e.embedding[i] AS DOUBLE)
                           - CAST(s.sv[i] AS DOUBLE)))), 6) AS dist
          FROM embeddings e, s
        ), a AS (
          SELECT seed_id, dist FROM (
            SELECT d.*, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist, seed_id) AS rn
            FROM d
          ) WHERE rn = 1
        )
        SELECT seed_id, CAST(count(*) AS BIGINT) AS n_vectors,
               round(min(dist), 6) AS closest_dist2
        FROM a GROUP BY 1 ORDER BY 1
        """,
    )

    _contribute_group_by_all(register)


# Shared SQL (identical text on both engines): GROUP BY ALL resolution —
# every non-aggregate select item becomes a grouping key. Both engines
# support the sugar; the hash compare value-checks that Spark resolves
# it to the same grouping as DuckDB. Integer-cent sums keep the compare
# exact (no float reassociation).
_GROUP_BY_ALL_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM lineitem
GROUP BY ALL
ORDER BY l_returnflag, l_linestatus
"""


def _contribute_group_by_all(register) -> None:
    def group_by_all(spark, sf):
        register_views(spark, sf)
        return spark.sql(_GROUP_BY_ALL_SQL)

    register("group_by_all_revenue", group_by_all, _GROUP_BY_ALL_SQL)

"""Registry contributions: flagship pipeline + its operator building
blocks (SURVEY.md §2.1 S7, §2.2, §2.3, §2.4) over the fixture tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from building_permissions_etl_spark.catalog import load_table
from building_permissions_etl_spark.operators import aggregates as A
from building_permissions_etl_spark.operators import filters as Fl
from building_permissions_etl_spark.operators import joins as J
from building_permissions_etl_spark.plans.flagship import (
    flagship_merge_shape,
    flagship_oracle_sql,
    flagship_single_pass,
)


def contribute(register) -> None:
    register(
        "flagship_monthly_pivot",
        lambda spark, sf: flagship_single_pass(spark, sf),
        flagship_oracle_sql(),
    )
    # Reference-parity shape (3 pivots + full-outer merge) — same oracle.
    register(
        "flagship_merge_shape",
        lambda spark, sf: flagship_merge_shape(spark, sf),
        flagship_oracle_sql(),
    )

    # --- A1: single-window pivot count, explicit cell list -------------
    def pivot_90d(spark, sf):
        li = load_table(spark, "lineitem", sf)
        windowed = Fl.days_lookback(li, "l_shipdate", 90)
        cells = windowed.withColumn(
            "cell", F.concat_ws("_", "l_returnflag", "l_linestatus")
        )
        from building_permissions_etl_spark.plans.flagship import CELLS

        out = A.pivot_counts(
            cells.select(F.col("l_suppkey").alias("suppkey"), "cell"),
            "suppkey", "cell", CELLS,
        )
        for c in CELLS:
            out = out.withColumnRenamed(c, f"cnt_{c.lower()}")
        return out.orderBy("suppkey")

    from building_permissions_etl_spark.plans.flagship import CELLS

    cell_sql = ", ".join(
        f"CAST(count(CASE WHEN l_returnflag='{c.split('_')[0]}' AND "
        f"l_linestatus='{c.split('_')[1]}' THEN 1 END) AS BIGINT) AS cnt_{c.lower()}"
        for c in CELLS
    )
    register(
        "pivot_counts_90d",
        pivot_90d,
        f"""
        SELECT l_suppkey AS suppkey, {cell_sql}
        FROM lineitem
        WHERE l_shipdate >= (SELECT max(l_shipdate) - INTERVAL 90 DAY FROM lineitem)
        GROUP BY l_suppkey ORDER BY suppkey
        """,
    )

    # --- A2: marginal counts with explicit value list -------------------
    def marginals(spark, sf):
        li = load_table(spark, "lineitem", sf).select(
            F.col("l_suppkey").alias("suppkey"), F.col("l_returnflag").alias("rf")
        )
        out = A.pivot_counts(li, "suppkey", "rf", ["A", "N", "R"])
        for v in ["A", "N", "R"]:
            out = out.withColumnRenamed(v, f"rf_{v.lower()}")
        return out.orderBy("suppkey")

    register(
        "marginal_counts",
        marginals,
        """
        SELECT l_suppkey AS suppkey,
               CAST(count(CASE WHEN l_returnflag='A' THEN 1 END) AS BIGINT) AS rf_a,
               CAST(count(CASE WHEN l_returnflag='N' THEN 1 END) AS BIGINT) AS rf_n,
               CAST(count(CASE WHEN l_returnflag='R' THEN 1 END) AS BIGINT) AS rf_r
        FROM lineitem GROUP BY l_suppkey ORDER BY suppkey
        """,
    )

    # --- F1: half-open range filter (strict > and <) --------------------
    register(
        "range_filter_halfopen",
        lambda spark, sf: Fl.half_open_range(
            load_table(spark, "orders", sf), "o_orderdate",
            "1998-01-01 00:00:00", "1999-01-01 00:00:00",
        ).select("o_orderkey", "o_orderdate", "o_orderstatus"),
        """
        SELECT o_orderkey, o_orderdate, o_orderstatus FROM orders
        WHERE o_orderdate > TIMESTAMP '1998-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        """,
    )

    # --- F2: upper-bound-only (full-load mode) ---------------------------
    register(
        "upper_bound_filter",
        lambda spark, sf: Fl.upper_bound_only(
            load_table(spark, "orders", sf), "o_orderdate", "1996-01-01 00:00:00"
        ).select("o_orderkey", "o_orderdate"),
        """
        SELECT o_orderkey, o_orderdate FROM orders
        WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        """,
    )

    # --- F3 + A7: dropna + audit metrics in one pass ---------------------
    def audit(spark, sf):
        ev = load_table(spark, "events", sf)
        return ev.agg(
            F.count(F.lit(1)).alias("total_rows"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("error_rows"),
            F.count(F.when(F.col("event_type") == "signup", 1)).alias("signup_rows"),
            F.round(
                F.count(F.when(F.col("event_type") == "error", 1))
                * 100.0 / F.count(F.lit(1)), 4
            ).alias("pct_error"),
        )

    register(
        "audit_metrics",
        audit,
        """
        SELECT CAST(count(*) AS BIGINT) AS total_rows,
               CAST(count(CASE WHEN event_type='error' THEN 1 END) AS BIGINT) AS error_rows,
               CAST(count(CASE WHEN event_type='signup' THEN 1 END) AS BIGINT) AS signup_rows,
               ROUND(count(CASE WHEN event_type='error' THEN 1 END) * 100.0 / count(*), 4) AS pct_error
        FROM events
        """,
    )

    # --- F4: not-in-set sentinel filter ----------------------------------
    register(
        "not_in_set_filter",
        lambda spark, sf: Fl.not_in_set(
            load_table(spark, "events", sf), "event_type", ["error", "signup"]
        ).select("event_id", "event_type"),
        """
        SELECT event_id, event_type FROM events
        WHERE event_type NOT IN ('error', 'signup')
        """,
    )

    # --- F6: days-lookback from max date in data --------------------------
    register(
        "days_lookback_window",
        lambda spark, sf: Fl.days_lookback(
            load_table(spark, "events", sf), "ts", 7
        ).select("event_id", "ts", "event_type"),
        """
        SELECT event_id, ts, event_type FROM events
        WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
        """,
    )

    # --- F7 + C1: prefix drill-down ---------------------------------------
    register(
        "prefix_filter_drilldown",
        lambda spark, sf: Fl.prefix_filter(
            load_table(spark, "part", sf), "p_brand", "Brand#1"
        ).select("p_partkey", "p_brand", F.substring("p_brand", 7, 2).alias("brand_code")),
        """
        SELECT p_partkey, p_brand, substr(p_brand, 7, 2) AS brand_code
        FROM part WHERE p_brand LIKE 'Brand#1%'
        """,
    )

    # --- J1: full-outer merge of two window aggregates --------------------
    def outer_merge(spark, sf):
        ev = load_table(spark, "events", sf)
        w7 = Fl.days_lookback(ev, "ts", 7).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("cnt_7d"))
        w1 = Fl.days_lookback(ev, "ts", 1).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("cnt_1d"))
        return J.outer_merge_zero_fill([w7, w1], "user_id").orderBy("user_id")

    register(
        "outer_merge_windows",
        outer_merge,
        """
        WITH mx AS (SELECT max(ts) AS m FROM events),
        w7 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt_7d FROM events, mx
               WHERE ts >= m - INTERVAL 7 DAY GROUP BY user_id),
        w1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt_1d FROM events, mx
               WHERE ts >= m - INTERVAL 1 DAY GROUP BY user_id)
        SELECT COALESCE(w7.user_id, w1.user_id) AS user_id,
               COALESCE(cnt_7d, 0) AS cnt_7d,
               COALESCE(cnt_1d, 0) AS cnt_1d
        FROM w7 FULL OUTER JOIN w1 ON w7.user_id = w1.user_id
        ORDER BY user_id
        """,
    )

    # --- J2: semi-join (keep known keys) -----------------------------------
    def semi(spark, sf):
        orders = load_table(spark, "orders", sf)
        # customers in mktsegment BUILDING form the "dim"
        dim = load_table(spark, "customer", sf).filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        return J.keep_known_keys(orders, dim, "o_custkey", "c_custkey").select(
            "o_orderkey", "o_custkey"
        )

    register(
        "semi_join_known_keys",
        semi,
        """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING')
        """,
    )

    # --- J2 anti side: unknown keys (false_records) -------------------------
    def anti(spark, sf):
        orders = load_table(spark, "orders", sf)
        dim = load_table(spark, "customer", sf).filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        return J.unknown_keys(orders, dim, "o_custkey", "c_custkey").select(
            "o_orderkey", "o_custkey"
        )

    register(
        "anti_join_unknown_keys",
        anti,
        """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING')
        """,
    )

    # --- J3+U1: dim completion (zero rows for missing keys) -----------------
    def completion(spark, sf):
        orders = load_table(spark, "orders", sf)
        cust = load_table(spark, "customer", sf)
        nation = load_table(spark, "nation", sf)
        per_nation = (
            orders.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                        orders.o_custkey == cust.c_custkey)
            .groupBy(F.col("c_nationkey").cast("bigint").alias("nationkey"))
            .agg(F.count(F.lit(1)).alias("order_cnt"))
        )
        completed = J.complete_dim_keys(
            per_nation,
            nation.select(F.col("n_nationkey").cast("bigint").alias("nationkey")),
            "nationkey", "nationkey", fill_values={},
        )
        return completed.orderBy("nationkey")

    register(
        "dim_completion_zero_rows",
        completion,
        """
        SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey,
               COALESCE(o.order_cnt, 0) AS order_cnt
        FROM nation n LEFT JOIN (
            SELECT c.c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS order_cnt
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey
        ) o ON n.n_nationkey = o.nationkey
        ORDER BY nationkey
        """,
    )

    # --- J5: fuzzy theta-join, deterministic first match --------------------
    def fuzzy(spark, sf):
        # supplier names fuzzy-matched inside customer names (both are
        # 'NameNNN'-ish synthetic strings; 'miasto ⊂ JPT_NAZWA_' analog).
        nation = load_table(spark, "nation", sf)
        region = load_table(spark, "region", sf)
        # match region-name token inside nation name, case-insensitive
        left = nation.select(
            F.col("n_nationkey").cast("bigint").alias("n_key"),
            F.substring(F.col("n_name"), 1, 3).alias("tok"),
        )
        return J.fuzzy_first_match(
            left, region.select(F.col("r_regionkey").cast("bigint").alias("r_key"),
                                "r_name"),
            "tok", "r_name", "r_key", "n_key",
        ).orderBy("n_key")

    register(
        "fuzzy_first_match",
        fuzzy,
        """
        WITH matched AS (
          SELECT CAST(n.n_nationkey AS BIGINT) AS n_key,
                 substr(n.n_name, 1, 3) AS tok,
                 CAST(r.r_regionkey AS BIGINT) AS r_key,
                 row_number() OVER (
                   PARTITION BY n.n_nationkey
                   ORDER BY (CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END),
                            r.r_regionkey
                 ) AS rn
          FROM nation n LEFT JOIN region r
            ON lower(r.r_name) LIKE '%' || lower(substr(n.n_name, 1, 3)) || '%'
        )
        SELECT n_key, tok, r_key FROM matched WHERE rn = 1 ORDER BY n_key
        """,
    )

    # --- §2.10: the terc-correction decision tree, oracle-checked ----------
    # Permission-shaped columns derived deterministically from customer +
    # nation, exercising every branch: valid/bad-prefix 7-digit, 6-digit
    # zero-pad, float artifact, null/'nan'/'' with jn fallback, fuzzy city
    # match, garbage. The oracle re-implements the tree independently in
    # SQL (unit tests pin each branch besides).
    def terc_tree(spark, sf):
        from building_permissions_etl_spark.operators.terc import correct_terc

        cust = load_table(spark, "customer", sf)
        nation = load_table(spark, "nation", sf)
        dim = nation.select(
            F.concat(F.lit("02"), F.lpad((F.col("n_nationkey") % 100).cast("string"), 2, "0")).alias("JPT_KOD_JE"),
            F.col("n_name").alias("JPT_NAZWA_"),
        )
        k = F.col("c_custkey")
        src = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
            k.alias("id"),
            F.when(k % 8 == 0, F.lit(None).cast("string"))
            .when(k % 8 == 1, "nan").when(k % 8 == 2, "")
            .when(k % 8 == 3, "1465011").when(k % 8 == 4, "9965011")
            .when(k % 8 == 5, "465011").when(k % 8 == 6, "1465011.0")
            .otherwise("abc").alias("terc"),
            F.when(k % 3 == 0, "1465xyz").otherwise(F.lit(None).cast("string")).alias("jednostki_numer"),
            F.when(k % 3 == 1, F.substring(F.lower("n_name"), 2, 3))
            .otherwise(F.lit(None).cast("string")).alias("miasto"),
        )
        counties = [tuple(r) for r in dim.collect()]
        return correct_terc(src, counties).select("id", "terc", "untypical").orderBy("id")

    _VV = "('02','04','06','08','10','12','14','16','18','20','22','24','26','28','30','32')"
    register(
        "terc_decision_tree",
        terc_tree,
        f"""
        WITH dim AS (
          SELECT '02' || lpad(CAST(n_nationkey % 100 AS VARCHAR), 2, '0') AS kod,
                 n_name AS nazwa
          FROM nation
        ),
        src AS (
          SELECT c_custkey AS id,
            CASE c_custkey % 8 WHEN 0 THEN NULL WHEN 1 THEN 'nan' WHEN 2 THEN ''
                 WHEN 3 THEN '1465011' WHEN 4 THEN '9965011' WHEN 5 THEN '465011'
                 WHEN 6 THEN '1465011.0' ELSE 'abc' END AS terc,
            CASE WHEN c_custkey % 3 = 0 THEN '1465xyz' END AS jn,
            CASE WHEN c_custkey % 3 = 1 THEN substr(lower(n_name), 2, 3) END AS miasto
          FROM customer JOIN nation ON c_nationkey = n_nationkey
        ),
        canon AS (
          SELECT id, jn, miasto,
            CASE WHEN terc IS NOT NULL AND regexp_matches(terc, '^\\d+(\\.0)?$')
                 THEN regexp_replace(terc, '\\.0$', '') ELSE terc END AS c
          FROM src
        ),
        s1 AS (
          SELECT id,
            CASE WHEN (c IS NULL OR c = '' OR c = 'nan') THEN
              CASE WHEN jn IS NOT NULL AND jn <> 'nan' THEN substr(jn, 1, 4)
                   WHEN (SELECT min(kod) FROM dim
                         WHERE miasto IS NOT NULL AND miasto <> 'nan'
                           AND contains(lower(nazwa), lower(miasto))) IS NOT NULL
                   THEN (SELECT min(kod) FROM dim
                         WHERE miasto IS NOT NULL AND miasto <> 'nan'
                           AND contains(lower(nazwa), lower(miasto)))
                   ELSE 'Unknown' END
            ELSE c END AS t1,
            CASE WHEN (c IS NULL OR c = '' OR c = 'nan') THEN
              CASE WHEN jn IS NOT NULL AND jn <> 'nan' THEN 'Matched'
                   WHEN (SELECT min(kod) FROM dim
                         WHERE miasto IS NOT NULL AND miasto <> 'nan'
                           AND contains(lower(nazwa), lower(miasto))) IS NOT NULL
                   THEN 'Matched'
                   ELSE 'Unknown' END
            END AS u1
          FROM canon
        )
        SELECT id,
          CASE WHEN regexp_matches(t1, '^\\d{{6}}$') THEN '0' || t1 ELSE t1 END AS terc,
          CASE WHEN regexp_matches(t1, '^\\d{{7}}$')
               THEN (CASE WHEN substr(t1, 1, 2) NOT IN {_VV} THEN 'Unknown2' ELSE u1 END)
               WHEN regexp_matches(t1, '^\\d{{6}}$')
               THEN (CASE WHEN substr('0' || t1, 1, 2) NOT IN {_VV} THEN 'Unknown2' ELSE u1 END)
               WHEN regexp_matches(t1, '^\\d{{4}}$') AND u1 = 'Matched' THEN u1
               WHEN u1 = 'Unknown' THEN u1
               ELSE 'Unknown3' END AS untypical
        FROM s1 ORDER BY id
        """,
    )

    _contribute_unpivot(register)

    # --- J6: dim-summary left join, missing → 0 -----------------------------
    def dim_summary(spark, sf):
        region = load_table(spark, "region", sf).select(
            F.col("r_regionkey").cast("bigint").alias("regionkey"), "r_name"
        )
        nation = load_table(spark, "nation", sf)
        summary = nation.groupBy(
            F.col("n_regionkey").cast("bigint").alias("regionkey")
        ).agg(F.count(F.lit(1)).alias("nation_cnt"))
        return J.dim_summary_left_join(region, summary, "regionkey").orderBy("regionkey")

    register(
        "dim_summary_left_join",
        dim_summary,
        """
        SELECT CAST(r.r_regionkey AS BIGINT) AS regionkey, r.r_name,
               COALESCE(s.nation_cnt, 0) AS nation_cnt
        FROM region r LEFT JOIN (
          SELECT CAST(n_regionkey AS BIGINT) AS regionkey,
                 CAST(count(*) AS BIGINT) AS nation_cnt
          FROM nation GROUP BY n_regionkey
        ) s ON r.r_regionkey = s.regionkey
        ORDER BY regionkey
        """,
    )


def _contribute_unpivot(register) -> None:
    """Wide→long inverse of the pivot (DataFrame.unpivot / SQL UNPIVOT):
    melts the zero-filled pivot cells back to (key, cell, cnt) rows.
    Registered from contribute()."""
    from building_permissions_etl_spark.operators import aggregates as A
    from building_permissions_etl_spark.operators import filters as Fl
    from building_permissions_etl_spark.plans.flagship import CELLS

    def unpivot_cells(spark, sf):
        li = load_table(spark, "lineitem", sf)
        windowed = Fl.days_lookback(li, "l_shipdate", 90)
        cells = windowed.withColumn(
            "cell", F.concat_ws("_", "l_returnflag", "l_linestatus")
        )
        wide = A.pivot_counts(
            cells.select(F.col("l_suppkey").alias("suppkey"), "cell"),
            "suppkey", "cell", CELLS,
        )
        return (
            wide.unpivot("suppkey", CELLS, "cell", "cnt")
            .orderBy("suppkey", "cell")
        )

    # derived from the SAME constant the Spark side unpivots — a
    # hardcoded twin list would silently drift if CELLS ever changes
    cell_selects = " UNION ALL ".join(
        f"SELECT suppkey, '{c}' AS cell, {c} AS cnt FROM wide"
        for c in CELLS
    )
    register(
        "unpivot_cells_long",
        unpivot_cells,
        f"""
        WITH mx AS (SELECT max(l_shipdate) AS m FROM lineitem),
        win AS (
          SELECT l.l_suppkey AS suppkey,
                 l.l_returnflag || '_' || l.l_linestatus AS cell
          FROM lineitem l CROSS JOIN mx
          WHERE l.l_shipdate >= mx.m - INTERVAL 90 DAY
        ),
        wide AS (
          SELECT suppkey,
            CAST(count(CASE WHEN cell='A_F' THEN 1 END) AS BIGINT) AS A_F,
            CAST(count(CASE WHEN cell='A_O' THEN 1 END) AS BIGINT) AS A_O,
            CAST(count(CASE WHEN cell='N_F' THEN 1 END) AS BIGINT) AS N_F,
            CAST(count(CASE WHEN cell='N_O' THEN 1 END) AS BIGINT) AS N_O,
            CAST(count(CASE WHEN cell='R_F' THEN 1 END) AS BIGINT) AS R_F,
            CAST(count(CASE WHEN cell='R_O' THEN 1 END) AS BIGINT) AS R_O
          FROM win GROUP BY suppkey
        )
        SELECT suppkey, cell, cnt FROM ({cell_selects})
        ORDER BY suppkey, cell
        """,
    )

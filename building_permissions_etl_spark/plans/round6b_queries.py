"""Round-6 second batch: iterative graph analytics, semantic dedup,
importance-based data selection, one-pass table profiling, blocked
entity resolution, and a Benford digit audit.

These extend two surfaces the registry grades as first-class: the
LLM-training-data pipeline (SemDeDup-style cluster-blocked embedding
dedup — Abbas et al. 2023 — and DSIR-style hashed-n-gram importance
selection — Xie et al. 2023) and warehouse hygiene (column profiling,
fuzzy entity resolution, first-digit fraud screening). The PageRank
entry is the one genuinely ITERATIVE dataflow shape the registry lacked
with an oracle: fixed-point integer arithmetic makes six synchronous
iterations bit-identical across engines, so the DuckDB oracle checks an
iterative algorithm end-to-end instead of settling for a rows-only
check.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from building_permissions_etl_spark.catalog import load_table
from building_permissions_etl_spark.functions.portable import PORTABLE_HASH_SQL
from building_permissions_etl_spark.operators import corpus as C
from building_permissions_etl_spark.operators import dedup as D
from building_permissions_etl_spark.operators import graph as G
from building_permissions_etl_spark.operators import joins as J
from building_permissions_etl_spark.operators import ranking as R
from building_permissions_etl_spark.operators import similarity as S
from building_permissions_etl_spark.operators import validation as V

_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"
_DOT = ("list_sum(list_transform(range(1, 65), "
        "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")


def _cos(a: str, b: str) -> str:
    return (f"({_DOT.format(a=a, b=b)}) / "
            f"greatest(sqrt({_DOT.format(a=a, b=a)})"
            f" * sqrt({_DOT.format(a=b, b=b)}), 1e-12)")


# Edge list of the nation-level trade graph: supplier nation → customer
# nation, weighted by shipped line count. The Spark side builds the same
# relation with broadcast dims; only the lineitem⋈orders equi-join
# shuffles.
_TRADE_EDGES_SQL = """
SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
       CAST(count(*) AS BIGINT) AS w
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_nationkey <> c.c_nationkey
GROUP BY 1, 2
"""


def contribute(register) -> None:
    # ---- fixed-point PageRank over the trade graph ----------------------
    # Six synchronous iterations in integer fixed-point (1e-12 mass
    # units): rank → out-edge contribution join → dst aggregation, the
    # canonical per-iteration shape of distributed graph analytics. The
    # oracle replays the identical integer recurrence as six unrolled
    # CTEs, so this is the registry's only ITERATIVE algorithm with a
    # full value-hash check. The operator caches the normalized edge
    # list, so the fact join materializes ONCE and all 6 iterations
    # read the InMemoryRelation (plan + runtime-pass-count pinned in
    # tests/test_graph.py — round 6 shipped without the cache and
    # re-ran this join 12x per query).
    def pagerank(spark, sf):
        li = load_table(spark, "lineitem", sf).select("l_orderkey", "l_suppkey")
        od = load_table(spark, "orders", sf).select("o_orderkey", "o_custkey")
        cust = load_table(spark, "customer", sf).select(
            "c_custkey", "c_nationkey")
        sup = load_table(spark, "supplier", sf).select(
            "s_suppkey", "s_nationkey")
        nat = load_table(spark, "nation", sf).select("n_nationkey")
        edges = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .join(F.broadcast(cust), od.o_custkey == cust.c_custkey)
            .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .filter(F.col("s_nationkey") != F.col("c_nationkey"))
            .groupBy(F.col("s_nationkey").alias("src"),
                     F.col("c_nationkey").alias("dst"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        )
        pr = G.pagerank_fixed_point(
            edges, nat, node_col="n_nationkey", n_iter=6)
        w = Window.orderBy(F.desc("pr_fixed"), "n_nationkey")
        return (
            pr.select(
                F.col("n_nationkey").alias("nationkey"), "pr_fixed",
                F.row_number().over(w).cast("bigint").alias("rnk"),
            )
            .orderBy("nationkey")
        )

    _pr_sql = G.pagerank_fixed_point_sql(
        _TRADE_EDGES_SQL, "SELECT n_nationkey AS id FROM nation", n_iter=6)
    register(
        "pagerank_trade_graph",
        pagerank,
        f"""
        WITH base AS ({_pr_sql})
        SELECT id AS nationkey, pr_fixed,
               CAST(row_number() OVER (ORDER BY pr_fixed DESC, id)
                    AS BIGINT) AS rnk
        FROM base ORDER BY nationkey
        """,
    )

    # ---- SemDeDup: cluster-blocked semantic dedup ------------------------
    # Assignment to the 16 deterministic seed centroids is the BLOCKING
    # step (pairwise cosine runs only within a cluster — the property
    # that makes semantic dedup tractable at corpus scale); a vector is
    # removed when a lower-id cluster-mate sits within the cosine ball
    # (min-id-wins, the deterministic twin of SemDeDup's ε-greedy keep).
    # Census: per-cluster population and removals.
    def semantic_dedup(spark, sf):
        emb = load_table(spark, "embeddings", sf)
        seeds = emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("seed_id"), F.col("embedding").alias("sv"))
        assigned = S.assign_nearest_seed(emb, "embedding", "vec_id", seeds)
        pairs = D.embedding_neardup_pairs(
            assigned, "embedding", "vec_id", block_col="seed_id",
            min_cosine=0.25)
        removed = pairs.select(F.col("id_b").alias("vec_id")).distinct()
        return (
            assigned.join(
                removed.withColumn("__rm", F.lit(1)), "vec_id", "left")
            .groupBy("seed_id")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.count("__rm").cast("bigint").alias("n_removed"),
            )
            .orderBy("seed_id")
        )

    register(
        "semantic_dedup_census",
        semantic_dedup,
        f"""
        WITH s AS (SELECT vec_id AS seed_id, embedding AS sv
                   FROM embeddings WHERE vec_id < 16),
        d AS (
          SELECT e.vec_id, e.embedding, s.seed_id,
                 round(list_sum(list_transform(range(1, 65),
                   i -> (CAST(e.embedding[i] AS DOUBLE)
                         - CAST(s.sv[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE)
                         - CAST(s.sv[i] AS DOUBLE)))), 6) AS dist2
          FROM embeddings e, s),
        a AS (SELECT vec_id, embedding, seed_id FROM (
           SELECT d.*, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist2, seed_id) AS rn
           FROM d) WHERE rn = 1),
        rm AS (
          SELECT DISTINCT y.vec_id
          FROM a x JOIN a y ON x.seed_id = y.seed_id AND x.vec_id < y.vec_id
          WHERE {_cos('x.embedding', 'y.embedding')} >= 0.25)
        SELECT a.seed_id, CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(count(rm.vec_id) AS BIGINT) AS n_removed
        FROM a LEFT JOIN rm ON a.vec_id = rm.vec_id
        GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- DSIR: hashed-n-gram importance selection ------------------------
    # Per-language census of the top-25% documents by target-affinity
    # score (target = English docs; 256 hashed unigram buckets; exact
    # integer feature sums, one double division — see
    # operators/ranking.py:dsir_scores for the log-ratio trade).
    def dsir_selection(spark, sf):
        docs = load_table(spark, "documents", sf).withColumn(
            "__is_en", F.col("lang") == "en")
        scores = R.dsir_scores(docs, "text", "doc_id", "__is_en")
        scored = docs.select("doc_id", "lang").join(
            scores.withColumnRenamed("id", "doc_id"), "doc_id")
        sel = C.top_fraction_per_group(
            scored, "lang", [F.desc("score")], "doc_id", fraction=0.25)
        return (
            sel.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_selected"),
                F.round(F.min("score"), 6).alias("min_score"),
                F.round(F.max("score"), 6).alias("max_score"),
                F.sum("target_hits").cast("bigint").alias("sum_target_hits"),
            )
            .orderBy("lang")
        )

    register(
        "dsir_selection_census",
        dsir_selection,
        f"""
        WITH t AS (SELECT doc_id, lang, unnest({_TOKS}) AS term
                   FROM documents),
        h AS (SELECT doc_id, lang,
                     {PORTABLE_HASH_SQL.format(x='term')} % 256 AS b
              FROM t),
        tg AS (SELECT b, count(*) AS c FROM h WHERE lang = 'en' GROUP BY 1),
        al AS (SELECT b, count(*) AS c FROM h GROUP BY 1),
        sc AS (SELECT h.doc_id, h.lang,
                 CAST(sum(coalesce(tg.c, 0)) AS BIGINT) AS target_hits,
                 CAST(sum(al.c) AS BIGINT) AS total_hits
               FROM h LEFT JOIN tg USING (b) JOIN al USING (b)
               GROUP BY 1, 2),
        r AS (SELECT lang, target_hits,
                CAST(target_hits AS DOUBLE) / CAST(total_hits AS DOUBLE)
                  AS score,
                row_number() OVER (PARTITION BY lang
                  ORDER BY CAST(target_hits AS DOUBLE)
                           / CAST(total_hits AS DOUBLE) DESC, doc_id) AS rn,
                count(*) OVER (PARTITION BY lang) AS n
              FROM sc)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_selected,
               round(min(score), 6) AS min_score,
               round(max(score), 6) AS max_score,
               CAST(sum(target_hits) AS BIGINT) AS sum_target_hits
        FROM r WHERE rn <= ceil(n * 0.25) GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- one-pass column profile ----------------------------------------
    # The post-load audit in long form: count / nulls / exact distinct /
    # min / max for six orders columns from ONE agg pass (the
    # multi-distinct lands as a single expand aggregate). The date
    # column is normalized to its calendar day first, so min/max render
    # identically as ISO strings on both engines.
    def profile(spark, sf):
        od = load_table(spark, "orders", sf).withColumn(
            "o_orderdate", F.col("o_orderdate").cast("date").cast("string"))
        return V.profile_columns(
            od,
            numeric_cols=["o_custkey", "o_orderkey", "o_totalprice"],
            string_cols=["o_orderdate", "o_orderpriority", "o_orderstatus"],
        )

    _profile_parts = [
        f"""SELECT '{c}' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               round(CAST(min({c}) AS DOUBLE), 6) AS min_num,
               round(CAST(max({c}) AS DOUBLE), 6) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str,
               CAST(NULL AS VARCHAR) AS max_str
        FROM orders"""
        for c in ("o_custkey", "o_orderkey", "o_totalprice")
    ] + [
        f"""SELECT '{c}', CAST(count(*) AS BIGINT),
               CAST(count(*) - count({expr}) AS BIGINT),
               CAST(count(DISTINCT {expr}) AS BIGINT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               min({expr}), max({expr})
        FROM orders"""
        for c, expr in (
            ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"),
            ("o_orderpriority", "o_orderpriority"),
            ("o_orderstatus", "o_orderstatus"),
        )
    ]
    register(
        "column_profile_orders",
        profile,
        " UNION ALL ".join(_profile_parts) + " ORDER BY column_name",
    )

    # ---- blocked entity resolution ---------------------------------------
    # Fuzzy re-matching of deterministically dirtied customer names
    # (three seeded corruption classes: prefix abbreviation, suffix
    # noise, dropped character) against the clean dim. Blocking on the
    # last four digits of the embedded key keeps candidates equi-joined
    # — never all-pairs; Levenshtein ≤ 4 inside a block is exactly
    # specified on both engines. Census per corruption class.
    def entity_resolution(spark, sf):
        cust = load_table(spark, "customer", sf)
        ck = F.col("c_custkey")
        dirty_name = (
            F.when(ck % 3 == 0,
                   F.regexp_replace("c_name", "Customer#", "Cust#"))
            .when(ck % 3 == 1, F.concat(F.col("c_name"), F.lit("_x")))
            .otherwise(F.expr(
                "concat(substring(c_name, 1, 2), "
                "substring(c_name, 4, length(c_name)))"))
        )

        def block_of(name_col):
            digits = F.regexp_replace(name_col, "[^0-9]", "")
            return F.substring(digits, -4, 4)

        dirty = cust.select(
            "c_custkey", (ck % 3).cast("bigint").alias("cls"),
            dirty_name.alias("dirty_name"),
        ).withColumn("block", block_of(F.col("dirty_name")))
        clean = cust.select("c_name").withColumn(
            "block", block_of(F.col("c_name")))
        m = J.blocked_levenshtein_match(
            dirty, clean, "dirty_name", "c_name", max_dist=4)
        return (
            m.groupBy("cls")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.countDistinct("c_custkey").alias("n_matched_dirty"),
                F.min("lev").cast("bigint").alias("min_lev"),
                F.max("lev").cast("bigint").alias("max_lev"),
            )
            .orderBy("cls")
        )

    register(
        "entity_resolution_blocked",
        entity_resolution,
        """
        WITH dirty AS (
          SELECT c_custkey, c_custkey % 3 AS cls,
                 CASE c_custkey % 3
                   WHEN 0 THEN replace(c_name, 'Customer#', 'Cust#')
                   WHEN 1 THEN c_name || '_x'
                   ELSE substr(c_name, 1, 2) || substr(c_name, 4)
                 END AS dirty_name
          FROM customer),
        db AS (SELECT *,
                 substr(regexp_replace(dirty_name, '[^0-9]', '', 'g'),
                        length(regexp_replace(dirty_name, '[^0-9]', '', 'g'))
                        - 3, 4) AS block
               FROM dirty),
        cb AS (SELECT c_name,
                 substr(regexp_replace(c_name, '[^0-9]', '', 'g'),
                        length(regexp_replace(c_name, '[^0-9]', '', 'g'))
                        - 3, 4) AS block
               FROM customer),
        m AS (
          SELECT d.cls, d.c_custkey,
                 levenshtein(d.dirty_name, c.c_name) AS lev
          FROM db d JOIN cb c ON d.block = c.block
          WHERE levenshtein(d.dirty_name, c.c_name) <= 4)
        SELECT cls, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_matched_dirty,
               CAST(min(lev) AS BIGINT) AS min_lev,
               CAST(max(lev) AS BIGINT) AS max_lev
        FROM m GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- Benford first-digit audit ----------------------------------------
    # Leading-digit distribution of order totals vs the Benford
    # expectation — the classic synthetic-data / fraud screen. The digit
    # comes from the INTEGER cents rendering (never a double→string
    # cast, which the engines format differently); expected shares are
    # identical 6-dp literals on both sides, so the deviation column is
    # one exact subtraction.
    _exp = {d: round(math.log10(1 + 1 / d), 6) for d in range(1, 10)}

    def benford(spark, sf):
        od = load_table(spark, "orders", sf)
        cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
        digit = F.substring(cents.cast("string"), 1, 1)
        expected = F.col("digit")
        mapping = None
        for d, p in _exp.items():
            mapping = (F.when(expected == str(d), F.lit(p)) if mapping is None
                       else mapping.when(expected == str(d), F.lit(p)))
        g = (
            od.select(digit.alias("digit"))
            .groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
        )
        total = F.sum("n").over(Window.partitionBy())
        share_raw = F.col("n").cast("double") / total.cast("double")
        return g.select(
            "digit", "n",
            F.round(share_raw, 6).alias("share"),
            mapping.alias("expected"),
            F.round(share_raw - mapping, 6).alias("deviation"),
        ).orderBy("digit")

    _case = " ".join(f"WHEN '{d}' THEN {p}" for d, p in _exp.items())
    register(
        "benford_first_digit",
        benford,
        f"""
        WITH c AS (
          SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS digit
          FROM orders),
        g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1)
        SELECT digit, n,
               round(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE), 6)
                 AS share,
               CAST(CASE digit {_case} END AS DOUBLE) AS expected,
               round(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
                     - CAST(CASE digit {_case} END AS DOUBLE), 6)
                 AS deviation
        FROM g ORDER BY digit
        """,
    )

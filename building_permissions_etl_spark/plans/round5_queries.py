"""Round-5 continuation queries: temporal dimension reads, interval-frame
rolling windows, quality-policy dedup survivors, batched ANN, and the
per-group curriculum cut.

These extend the warehouse surface past the reference's static-dimension
joins (reference dags/aggregates_python_helpers.py keeps one version per
dim row): a fact table reading an SCD2 dimension needs a point-in-time
join, corpus dedup wants a keep-the-best survivor policy rather than
min-id, and offline retrieval scores many queries per corpus scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from building_permissions_etl_spark.catalog import load_table, register_views
from building_permissions_etl_spark.operators import corpus as C
from building_permissions_etl_spark.operators import dedup as D
from building_permissions_etl_spark.operators import scd as SCD
from building_permissions_etl_spark.operators import similarity as S
from building_permissions_etl_spark.plans.extensions import _SHINGLES3, _cos


def _customer_versions(spark, sf):
    """Deterministic two-version SCD2 history synthesized from the
    customer dim: version 1 runs from 1992-06-01 to a per-key split
    date (custkey-dependent, spanning the fact date range), version 2
    is open-ended with a marked segment. Pure column arithmetic — the
    oracle rebuilds the identical history in SQL."""
    cust = load_table(spark, "customer", sf)
    split = F.expr(
        "timestamp'1992-06-01' + make_dt_interval(cast(c_custkey % 1461 as int))"
    )
    base = F.lit("1992-06-01").cast("timestamp")
    v1 = cust.select(
        F.col("c_custkey").alias("o_custkey"),
        base.alias("valid_from"),
        split.alias("valid_to"),
        F.col("c_mktsegment").alias("segment"),
    )
    v2 = cust.select(
        F.col("c_custkey").alias("o_custkey"),
        split.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.concat(F.lit("V2-"), F.col("c_mktsegment")).alias("segment"),
    )
    return v1.unionByName(v2)


def contribute(register) -> None:
    # ---- point-in-time SCD2 dimension read -----------------------------
    # Each order picks the customer-segment version valid at its order
    # date; orders before the key's first version surface as NULL segment
    # (the left leg of the temporal join). One broadcast outer join.
    def pit(spark, sf):
        orders = load_table(spark, "orders", sf).select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
        dim = _customer_versions(spark, sf)
        joined = SCD.point_in_time_join(
            orders, dim, key="o_custkey", ts_col="o_orderdate"
        )
        return (
            joined.groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .orderBy("segment")
        )

    register(
        "scd2_point_in_time_join",
        pit,
        """
        WITH dim AS (
          SELECT c_custkey,
                 TIMESTAMP '1992-06-01' AS valid_from,
                 TIMESTAMP '1992-06-01'
                   + to_days(CAST(c_custkey % 1461 AS INT)) AS valid_to,
                 c_mktsegment AS segment
          FROM customer
          UNION ALL
          SELECT c_custkey,
                 TIMESTAMP '1992-06-01'
                   + to_days(CAST(c_custkey % 1461 AS INT)),
                 NULL, 'V2-' || c_mktsegment
          FROM customer
        )
        SELECT d.segment, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o LEFT JOIN dim d
          ON o.o_custkey = d.c_custkey
         AND o.o_orderdate >= d.valid_from
         AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
        GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- rolling 7-day interval-frame window ---------------------------
    # Value-based RANGE frame (not ROWS): every order counts the orders
    # its customer placed in the preceding 7 days inclusive. Ordering is
    # the integer day number so the frame arithmetic is engine-exact;
    # max() is order-insensitive, so no float-reassociation risk.
    def rolling(spark, sf):
        od = load_table(spark, "orders", sf)
        day = F.unix_date(F.col("o_orderdate").cast("date"))
        w = (
            Window.partitionBy("o_custkey").orderBy(day)
            .rangeBetween(-7, 0)
        )
        return od.select(
            "o_orderkey",
            F.count(F.lit(1)).over(w).alias("n_7d"),
            F.round(F.max("o_totalprice").over(w), 2).alias("max_price_7d"),
        ).orderBy("o_orderkey")

    register(
        "rolling_7d_order_stats",
        rolling,
        """
        SELECT o_orderkey,
               CAST(count(*) OVER w AS BIGINT) AS n_7d,
               round(max(o_totalprice) OVER w, 2) AS max_price_7d
        FROM orders
        WINDOW w AS (
          PARTITION BY o_custkey
          ORDER BY date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE))
          RANGE BETWEEN 7 PRECEDING AND CURRENT ROW
        )
        ORDER BY o_orderkey
        """,
    )

    # ---- quality-policy dedup survivors --------------------------------
    # Same pair graph as dedup_cluster_survivors (auto pair-gen, same
    # blocks) but the survivor is the LONGEST doc per cluster (tie → min
    # id) — the keep-the-best policy real corpus dedup applies. The
    # oracle reuses the recursive-closure clustering and picks per-label
    # argmax by (n_chars desc, doc_id).
    def survivors_longest(spark, sf):
        docs = load_table(spark, "documents", sf).withColumn(
            "block", F.concat_ws(
                "_", F.coalesce("lang", F.lit("~null~")),
                F.expr("n_chars div 50"))
        )
        pairs = D.ngram_jaccard_pairs_auto(
            docs, "text", "doc_id", block_col="block", n=3, min_jaccard=0.05
        )
        surv = D.dedup_survivors_by(
            docs, pairs, "doc_id", [F.col("n_chars").desc()]
        )
        return surv.select("doc_id").orderBy("doc_id")

    register(
        "dedup_survivors_longest",
        survivors_longest,
        f"""
        WITH RECURSIVE t AS (
          SELECT doc_id, lang, n_chars // 50 AS lb, {_SHINGLES3} AS ng
          FROM documents
        ),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM t a JOIN t b
            ON coalesce(a.lang, '~null~') = coalesce(b.lang, '~null~')
           AND a.lb = b.lb AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
                / (len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng)))
                >= 0.05
        ),
        sym AS (
          SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        reach(src, dst) AS (
          SELECT s, d FROM sym
          UNION
          SELECT r.src, s.d FROM reach r JOIN sym s ON r.dst = s.s
        ),
        labels AS (
          SELECT src AS id, least(src, min(dst)) AS label
          FROM reach GROUP BY src
        ),
        best AS (
          SELECT id FROM (
            SELECT l.id,
                   row_number() OVER (PARTITION BY l.label
                                      ORDER BY d.n_chars DESC, l.id) AS rn
            FROM labels l JOIN documents d ON d.doc_id = l.id
          ) WHERE rn = 1
        )
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM labels)
           OR doc_id IN (SELECT id FROM best)
        ORDER BY doc_id
        """,
    )

    # ---- batched exact ANN ---------------------------------------------
    # Top-5 neighbors for eight query vectors in ONE corpus scan: the
    # query build is broadcast, scores round before ranking on both
    # engines, per-query window keeps rank <= k.
    _QIDS = list(range(8))

    def batch_topk(spark, sf):
        emb = load_table(spark, "embeddings", sf)
        return S.topk_bruteforce_batch(
            emb, "embedding", "vec_id", _QIDS, k=5
        )

    _in = ", ".join(str(q) for q in _QIDS)
    register(
        "ann_batch_topk",
        batch_topk,
        f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id IN ({_in})
        ), scored AS (
          SELECT q.query_id, e.vec_id AS id,
                 round({_cos('e.embedding', 'q.qv')}, 6) AS score
          FROM embeddings e, q WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, id, score FROM (
          SELECT query_id, id, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, id) AS rn
          FROM scored
        ) WHERE rn <= 5
        ORDER BY query_id, score DESC, id
        """,
    )

    # ---- per-group curriculum cut --------------------------------------
    # Keep the longest half of each language (rank-based membership:
    # row_number under (n_chars desc, doc_id) <= ceil(n/2)), report the
    # per-language census of the kept set.
    def curriculum(spark, sf):
        docs = load_table(spark, "documents", sf)
        kept = C.top_fraction_per_group(
            docs, "lang", [F.col("n_chars").desc()], "doc_id", 0.5
        )
        return (
            kept.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.min("n_chars").cast("bigint").alias("min_chars"),
            )
            .orderBy("lang")
        )

    register(
        "curriculum_top_half",
        curriculum,
        """
        WITH r AS (
          SELECT lang, doc_id, n_chars,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY n_chars DESC, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM documents
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(min(n_chars) AS BIGINT) AS min_chars
        FROM r WHERE rn <= ceil(n * 0.5)
        GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- paragraph-level corpus dedup + reassembly ---------------------
    # C4/Dolma boilerplate rule over 16-token paragraph units: repeated
    # paragraphs keep only their first (doc_id, chunk_idx) occurrence;
    # documents reassemble from survivors in original order.
    def para_dedup(spark, sf):
        docs = load_table(spark, "documents", sf)
        return C.paragraph_dedup(docs, "text", "doc_id", budget=16) \
            .orderBy("doc_id")

    from building_permissions_etl_spark.plans.extensions import _TOKS

    register(
        "paragraph_dedup_reassembly",
        para_dedup,
        f"""
        WITH c AS (
          SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
                 array_to_string(t[(i - 1) * 16 + 1 : (i - 1) * 16 + 16], ' ')
                   AS chunk_text
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents),
               unnest(range(1, CAST(ceil(len(t) / 16.0) AS BIGINT) + 1)) AS u(i)
          WHERE len(t) > 0
        ), kept AS (
          SELECT doc_id, chunk_idx, chunk_text FROM (
            SELECT c.*, row_number() OVER (PARTITION BY chunk_text
                                           ORDER BY doc_id, chunk_idx) AS rn
            FROM c
          ) WHERE rn = 1
        ), reasm AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                 string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text
          FROM kept GROUP BY 1
        )
        SELECT t.doc_id, t.n_paragraphs,
               coalesce(r.n_kept, 0) AS n_kept,
               coalesce(r.clean_text, '') AS clean_text
        FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs
              FROM c GROUP BY 1) t
        LEFT JOIN reasm r USING (doc_id)
        ORDER BY doc_id
        """,
    )

    # ---- binary-asset content dedup ------------------------------------
    # Image/audio corpora dedup by CONTENT HASH of the bytes, never by
    # decoding: survivors = lowest asset_id per identical payload, the
    # window keyed on (xxhash64, md5) so the exchange stays fixed-width.
    # The oracle hashes the text the synthetic payload encodes (md5 over
    # a VARCHAR hashes its utf-8 bytes — the same bytes).
    def asset_dedup(spark, sf):
        from building_permissions_etl_spark.operators import multimodal as M

        assets = M.assets_from_documents(load_table(spark, "documents", sf))
        totals = assets.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n_assets"))
        surv = (
            M.dedup_assets_exact(assets).groupBy("kind")
            .agg(F.count(F.lit(1)).alias("n_survivors"))
        )
        return (
            totals.join(surv, "kind", "left")
            .select(
                "kind", "n_assets",
                F.coalesce("n_survivors", F.lit(0)).alias("n_survivors"),
            )
            .orderBy("kind")
        )

    register(
        "asset_dedup_by_content",
        asset_dedup,
        """
        WITH a AS (
          SELECT doc_id AS asset_id,
                 CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                 md5(text) AS h
          FROM documents
        ), s AS (
          SELECT kind, CAST(count(*) AS BIGINT) AS n_survivors FROM (
            SELECT kind,
                   row_number() OVER (PARTITION BY h ORDER BY asset_id) AS rn
            FROM a
          ) WHERE rn = 1 GROUP BY 1
        )
        SELECT t.kind, t.n_assets, coalesce(s.n_survivors, 0) AS n_survivors
        FROM (SELECT kind, CAST(count(*) AS BIGINT) AS n_assets
              FROM a GROUP BY 1) t
        LEFT JOIN s ON s.kind = t.kind
        ORDER BY t.kind
        """,
    )

    # ---- quality-filter funnel report ----------------------------------
    # The attrition report every curation pipeline prints: marginal pass
    # counts per Gopher rule plus the sequential survivor counts, in ONE
    # aggregate pass over the staged rule flags.
    def funnel(spark, sf):
        from building_permissions_etl_spark.operators import textstats as T

        g = T.gopher_rules(load_table(spark, "documents", sf),
                           "text", "doc_id")
        b = lambda c: F.coalesce(F.col(c), F.lit(False)).cast("int")  # noqa: E731
        return g.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(b("rule_words")).alias("pass_words"),
            F.sum(b("rule_word_len")).alias("pass_word_len"),
            F.sum(b("rule_stopwords")).alias("pass_stopwords"),
            F.sum(b("rule_words") * b("rule_word_len")).alias("after_words_len"),
            F.sum(b("keep")).alias("n_kept"),
        )

    register(
        "quality_funnel_report",
        funnel,
        f"""
        WITH g AS (
          SELECT (word_count BETWEEN 30 AND 90) AS rule_words,
                 (mean_word_len BETWEEN 3.5 AND 5.0) AS rule_word_len,
                 (stop_hits >= 2) AS rule_stopwords
          FROM (
            SELECT CAST(len(t) AS INT) AS word_count,
                   round(list_sum(list_transform(t,
                         x -> CAST(len(x) AS DOUBLE)))
                         / greatest(len(t), 1), 4) AS mean_word_len,
                   CAST(len(list_filter(t, x -> x IN ('a', 'the'))) AS INT)
                     AS stop_hits
            FROM (SELECT {_TOKS} AS t FROM documents)
          )
        )
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CAST(coalesce(rule_words, FALSE) AS INT)) AS BIGINT)
                 AS pass_words,
               CAST(sum(CAST(coalesce(rule_word_len, FALSE) AS INT)) AS BIGINT)
                 AS pass_word_len,
               CAST(sum(CAST(coalesce(rule_stopwords, FALSE) AS INT)) AS BIGINT)
                 AS pass_stopwords,
               CAST(sum(CAST(coalesce(rule_words, FALSE) AS INT)
                        * CAST(coalesce(rule_word_len, FALSE) AS INT))
                    AS BIGINT) AS after_words_len,
               CAST(sum(CAST((coalesce(rule_words, FALSE)
                              AND coalesce(rule_word_len, FALSE)
                              AND coalesce(rule_stopwords, FALSE)) AS INT))
                    AS BIGINT) AS n_kept
        FROM g
        """,
    )

    # ---- CDC changelog compaction --------------------------------------
    # A deterministic I/U/D changelog synthesized from orders (op and
    # sequence derived from the key; several ops per key), compacted to
    # the latest non-delete snapshot. The oracle replays the same
    # last-writer-wins window.
    def changelog(spark, sf):
        od = load_table(spark, "orders", sf)
        log = od.select(
            (F.col("o_orderkey") % 1000).alias("k"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderkey").alias("seq"),
            F.when(F.col("o_orderkey") % 17 == 0, "D")
            .when(F.col("o_orderkey") % 3 == 0, "U")
            .otherwise("I").alias("op"),
            F.col("o_orderstatus").alias("status"),
        )
        snap = SCD.compact_changelog(log, "k", "ts", "op", tiebreak=["seq"])
        return snap.orderBy("k")

    register(
        "changelog_snapshot",
        changelog,
        """
        WITH log AS (
          SELECT o_orderkey % 1000 AS k, o_orderdate AS ts,
                 o_orderkey AS seq,
                 CASE WHEN o_orderkey % 17 = 0 THEN 'D'
                      WHEN o_orderkey % 3 = 0 THEN 'U'
                      ELSE 'I' END AS op,
                 o_orderstatus AS status
          FROM orders
        )
        SELECT k, ts, seq, status FROM (
          SELECT log.*, row_number() OVER (PARTITION BY k
                                           ORDER BY ts DESC, seq DESC) AS rn
          FROM log
        ) WHERE rn = 1 AND op <> 'D'
        ORDER BY k
        """,
    )

    # ---- incremental aggregate maintenance -----------------------------
    # The additive-agg refresh pattern: yesterday's aggregate table plus
    # today's delta re-aggregate to the same result as a full recompute
    # (counts and integer-cent sums compose; the oracle IS the full
    # recompute, so the algebra itself is value-checked). At 100 TB the
    # base is the stored agg table — only the delta is scanned.
    def incr_agg(spark, sf):
        od = load_table(spark, "orders", sf)
        cents = F.round(F.col("o_totalprice") * 100).cast("long")
        cut = F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")

        def agg(frame):
            return frame.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(cents).alias("sum_cents"),
            )

        base, delta = agg(od.filter(cut)), agg(od.filter(~cut))
        return (
            base.unionByName(delta)
            .groupBy("o_orderstatus")
            .agg(F.sum("n_orders").alias("n_orders"),
                 F.sum("sum_cents").alias("sum_cents"))
            .orderBy("o_orderstatus")
        )

    register(
        "incremental_agg_merge",
        incr_agg,
        """
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM orders GROUP BY 1 ORDER BY 1
        """,
    )

    # ---- last-touch attribution ----------------------------------------
    # Each purchase attributes to the user's most recent preceding click
    # within a 30-minute window (the standard last-touch rule). One
    # running-last window over the per-user stream — no self-join, no
    # as-of shuffle beyond the user key; purchases with no qualifying
    # click report as unattributed.
    def attribution(spark, sf):
        ev = load_table(spark, "events", sf)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id") \
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        last_click = F.last(
            F.when(F.col("event_type") == "click", F.col("ts")),
            ignorenulls=True,
        ).over(w)
        purchases = (
            ev.withColumn("__lc", last_click)
            .filter(F.col("event_type") == "purchase")
            .withColumn(
                "attributed",
                F.col("__lc").isNotNull()
                & ((F.unix_timestamp("ts") - F.unix_timestamp("__lc"))
                   <= 1800),
            )
        )
        return (
            purchases.groupBy("attributed")
            .agg(F.count(F.lit(1)).alias("n_purchases"))
            .orderBy("attributed")
        )

    register(
        "last_touch_attribution",
        attribution,
        """
        WITH t AS (
          SELECT event_type, ts,
                 max(CASE WHEN event_type = 'click' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS lc
          FROM events
        )
        SELECT (lc IS NOT NULL AND date_diff('second', lc, ts) <= 1800)
                 AS attributed,
               CAST(count(*) AS BIGINT) AS n_purchases
        FROM t WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY 1
        """,
    )

    _contribute_lateral(register)
    _contribute_null_aware(register)


# Shared SQL (identical text on both engines, like the recursive CTE):
# correlated LATERAL subquery with ORDER BY + LIMIT — per-nation top-2
# customers. Spark decorrelates the lateral limit into a ranked window
# over one customer scan (no nested-loop re-execution per outer row);
# DuckDB executes the same text natively, so the decorrelation itself is
# value-checked.
_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
"""


def _contribute_lateral(register) -> None:
    def lateral_q(spark, sf):
        register_views(spark, sf)
        return spark.sql(_LATERAL_SQL)

    register("lateral_top2_per_nation", lateral_q, _LATERAL_SQL)


# Shared SQL: ANSI NOT IN over a subquery CONTAINING NULLs — the
# null-aware anti-join. A NULL in the IN-list makes `x NOT IN (...)`
# NULL (never true) for every non-matching x, so only rows matching
# nothing AND a null-free list survive; engines that compile this to a
# plain anti join silently return extra rows. Spark plans a
# NullAwareAntiJoin / broadcast null-aware anti; DuckDB executes the
# same text with ANSI semantics — the hash compare proves the
# three-valued logic end to end. The negative-balance customers supply
# the NULLs only for odd nations, so both branches are exercised.
_NULL_AWARE_SQL = """
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n
FROM orders o
WHERE o.o_custkey NOT IN (
  SELECT CASE WHEN c.c_acctbal < 0 AND c.c_nationkey % 2 = 1 THEN NULL
              ELSE c.c_custkey END
  FROM customer c
  WHERE c.c_nationkey = 3
)
GROUP BY 1 ORDER BY 1
"""


def _contribute_null_aware(register) -> None:
    def null_aware(spark, sf):
        register_views(spark, sf)
        return spark.sql(_NULL_AWARE_SQL)

    register("not_in_null_aware", null_aware, _NULL_AWARE_SQL)

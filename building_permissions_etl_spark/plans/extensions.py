"""Registry contributions: LLM-data-pipeline extension operators (M7) —
dedup, similarity search, text analysis, multimodal plumbing over the
``documents`` / ``embeddings`` fixture tables.

Oracle policy: everything whose semantics are ANSI/DuckDB-expressible
gets a value-checked oracle (exact dedup, n-gram Jaccard, embedding
cosine — verified bit-exact between Spark's sequential double
``aggregate`` and DuckDB's ``list_transform``+``list_sum``). The sketch
family (MinHash-LSH, OPH, SimHash, winnowing) registers on
``portable_hash64`` (md5-prefix — bit-identical in DuckDB), so the
ENTIRE sketch pipeline is replicated in independent SQL by
``plans/sketch_oracles.py`` and value-checked end-to-end — no recall
assumption anywhere. The xxhash64 production default of those operators
stays pinned by unit tests (tests/test_dedup.py asserts recall/precision
against exact Jaccard on planted near-duplicates). IVF similarity
registers its PORTABLE twin (deterministic centroid literals + native
double argmax; trained production path pinned by tests/test_similarity.py).
Only one genuinely non-replicable op remains rows-only: HLL
approx-distinct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from building_permissions_etl_spark.catalog import load_table
from building_permissions_etl_spark.functions.portable import (
    PORTABLE_HASH_SQL,
    portable_hash64,
)
from building_permissions_etl_spark.operators import dedup as D
from building_permissions_etl_spark.operators import multimodal as M
from building_permissions_etl_spark.operators import similarity as S
from building_permissions_etl_spark.operators import textstats as T
from building_permissions_etl_spark.plans import sketch_oracles as SK

_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"
_SHINGLES3 = (
    "CASE WHEN len({t}) >= 3 THEN "
    "list_distinct(list_transform(range(1, len({t}) - 1), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])) "
    "WHEN len({t}) > 0 THEN [array_to_string({t}, ' ')] ELSE [] END"
).format(t=_TOKS)

_DOT = ("list_sum(list_transform(range(1,65), "
        "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")


def _cos(a: str, b: str) -> str:
    return (f"({_DOT.format(a=a, b=b)}) / "
            f"greatest(sqrt({_DOT.format(a=a, b=a)})"
            f" * sqrt({_DOT.format(a=b, b=b)}), 1e-12)")


# Session-scoped ANN index cache: the expensive build (centroid training,
# full-corpus assignment/bucketing, persist) runs once per (session, sf);
# every subsequent registered-query call is probe-only.
_ANN_CACHE: dict = {}


def _ivf_portable_index(spark, sf):
    key = ("ivf_portable", spark.sparkContext.applicationId, sf)
    if key not in _ANN_CACHE:
        _ANN_CACHE[key] = S.build_ivf_index_portable(
            load_table(spark, "embeddings", sf), "embedding",
            n_cells=16, dim=64,
        )
    return _ANN_CACHE[key]


def _lsh_index(spark, sf):
    key = ("lsh", spark.sparkContext.applicationId, sf)
    if key not in _ANN_CACHE:
        _ANN_CACHE[key] = S.build_lsh_index(
            load_table(spark, "embeddings", sf), "embedding", "vec_id",
            n_planes=8, dim=64,
        )
    return _ANN_CACHE[key]


def contribute(register) -> None:
    # ---------------- dedup family ------------------------------------
    register(
        "dedup_exact",
        lambda spark, sf: D.dedup_exact(
            load_table(spark, "documents", sf), "text", "doc_id"
        ).select("doc_id", "lang", "source", "n_chars").orderBy("doc_id"),
        """
        SELECT doc_id, lang, source, n_chars FROM (
          SELECT doc_id, lang, source, n_chars,
                 row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM documents
        ) WHERE rn = 1 ORDER BY doc_id
        """,
    )

    # Sketch family: registry variants run on portable_hash64 so DuckDB
    # replicates the full pipeline (sketch_oracles.py) — value-checked,
    # no recall assumption. Production default stays xxhash64 (faster;
    # same code path, pinned by tests/test_dedup.py).
    register(
        "dedup_minhash_lsh",
        lambda spark, sf: D.minhash_lsh_pairs(
            load_table(spark, "documents", sf), "text", "doc_id",
            k=64, bands=16, min_est_jaccard=0.5, base_hash=portable_hash64,
            max_bucket=D.DEFAULT_MAX_BUCKET,
        ),
        SK.minhash_lsh_sql(_SHINGLES3, k=64, bands=16, min_est=0.5,
                           max_bucket=D.DEFAULT_MAX_BUCKET),
    )

    register(
        "dedup_minhash_oph",
        lambda spark, sf: D.minhash_oph_pairs(
            load_table(spark, "documents", sf), "text", "doc_id",
            k=64, bands=16, min_est_jaccard=0.5, base_hash=portable_hash64,
            max_bucket=D.DEFAULT_MAX_BUCKET,
        ),
        SK.minhash_oph_sql(_SHINGLES3, k=64, bands=16, min_est=0.5,
                           max_bucket=D.DEFAULT_MAX_BUCKET),
    )

    register(
        "dedup_simhash",
        lambda spark, sf: D.simhash_pairs(
            load_table(spark, "documents", sf), "text", "doc_id",
            max_hamming=3, base_hash=portable_hash64,
            max_bucket=D.DEFAULT_MAX_BUCKET,
        ),
        SK.simhash_sql(_TOKS, max_hamming=3, max_bucket=D.DEFAULT_MAX_BUCKET),
    )

    # Block key = lang × length-bucket: near-dups have near-equal length,
    # and the bucket bounds the O(n²/blocks) self-join (~8× fewer pairs
    # than lang alone at sf0.1). At 100 TB the block key would be an LSH
    # band; this is the exact-verify shape. PARITY-ONLY TWIN: this entry
    # deliberately pins the quadratic array_intersect form so the driver
    # value-checks that specific physical shape; the production-shaped
    # registrations are dedup_ngram_inverted (df-cutoff inverted index)
    # and the survivors queries below, which route through
    # ngram_jaccard_pairs_auto.
    def ngram_jaccard(spark, sf):
        docs = load_table(spark, "documents", sf).withColumn(
            "block", F.concat_ws(
                "_", F.coalesce("lang", F.lit("~null~")),
                F.expr("n_chars div 50"))
        )
        return D.ngram_jaccard_pairs(
            docs, "text", "doc_id", block_col="block", n=3, min_jaccard=0.05
        )

    register(
        "dedup_ngram_jaccard",
        ngram_jaccard,
        f"""
        WITH t AS (
          SELECT doc_id, lang, n_chars // 50 AS lb, {_SHINGLES3} AS ng
          FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.ng, b.ng))) AS jaccard
        FROM t a JOIN t b ON coalesce(a.lang, '~null~') = coalesce(b.lang, '~null~') AND a.lb = b.lb
                         AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.ng, b.ng))) >= 0.05
        ORDER BY id_a, id_b
        """,
    )

    # Raw-corpus shape: block on lang ALONE (unbounded occupancy — the
    # case where the quadratic explodes, SCALE.md §10) via the inverted
    # index with a document-frequency cutoff. Semantics: exact Jaccard
    # over the df-filtered shingle universe; the oracle applies the same
    # cutoff, so values (not just counts) are engine-checked.
    register(
        "dedup_ngram_inverted",
        lambda spark, sf: D.ngram_jaccard_pairs_inverted(
            load_table(spark, "documents", sf), "text", "doc_id",
            block_col="lang", n=3, min_jaccard=0.05, max_df=100,
        ),
        f"""
        WITH t AS (
          SELECT doc_id, lang AS block, {_SHINGLES3} AS ng FROM documents
        ),
        p AS (SELECT doc_id, block, unnest(ng) AS sh FROM t),
        dfc AS (
          SELECT block, sh FROM p GROUP BY block, sh HAVING count(*) <= 100
        ),
        kept AS (SELECT p.* FROM p JOIN dfc USING (block, sh)),
        sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
        i AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS i
          FROM kept a JOIN kept b
            ON a.block = b.block AND a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
        FROM i JOIN sz sa ON sa.doc_id = i.id_a
               JOIN sz sb ON sb.doc_id = i.id_b
        WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.05
        ORDER BY id_a, id_b
        """,
    )

    # Vector-column profiling: per-label L2-norm stats. Per-row norm is a
    # sequential index-order fold with per-element DOUBLE casts on BOTH
    # engines (same discipline as _DOT), so min/max — which surface one
    # row's exact value — are bit-identical; row-level parallel summation
    # only enters at avg, where round(6) absorbs reassociation error.
    def emb_norm_stats(spark, sf):
        emb = load_table(spark, "embeddings", sf)
        sq = F.aggregate(
            F.transform("embedding",
                        lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return (
            emb.select("label", F.sqrt(sq).alias("l2"))
            .groupBy("label")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.round(F.avg("l2"), 6).alias("avg_norm"),
                F.round(F.min("l2"), 6).alias("min_norm"),
                F.round(F.max("l2"), 6).alias("max_norm"),
            )
            .orderBy("label")
        )

    register(
        "embedding_norm_stats",
        emb_norm_stats,
        """
        WITH t AS (
          SELECT label,
                 sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
          FROM embeddings)
        SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
               round(avg(l2), 6) AS avg_norm,
               round(min(l2), 6) AS min_norm,
               round(max(l2), 6) AS max_norm
        FROM t GROUP BY 1 ORDER BY 1
        """,
    )

    register(
        "dedup_embedding_cosine",
        lambda spark, sf: D.embedding_neardup_pairs(
            load_table(spark, "embeddings", sf), "embedding", "vec_id",
            block_col="label", min_cosine=0.4,
        ),
        f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_cos('a.embedding', 'b.embedding')} AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_cos('a.embedding', 'b.embedding')} >= 0.4
        ORDER BY id_a, id_b
        """,
    )

    # Pairs → connected components → survivors: the full dedup tail.
    # Pair source is the SQL-expressible n-gram Jaccard blocking, so the
    # oracle can rebuild the clusters with a recursive transitive closure.
    def cluster_survivors(spark, sf):
        docs = load_table(spark, "documents", sf).withColumn(
            "block", F.concat_ws(
            "_", F.coalesce("lang", F.lit("~null~")),
            F.expr("n_chars div 50"))
        )
        # auto pair-gen: quadratic while the measured max block
        # occupancy stays tight, inverted index past 500 — the
        # registered production shape must not pin the quadratic
        # (identical rows either way for min_jaccard>0, so the
        # recursive-closure oracle is shape-independent).
        pairs = D.ngram_jaccard_pairs_auto(
            docs, "text", "doc_id", block_col="block", n=3, min_jaccard=0.05
        )
        return (
            D.dedup_survivors(docs, pairs, "doc_id")
            .select("doc_id").orderBy("doc_id")
        )

    _survivors_sql = f"""
        WITH RECURSIVE t AS (
          SELECT doc_id, lang, n_chars // 50 AS lb, {_SHINGLES3} AS ng
          FROM documents
        ),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM t a JOIN t b
            ON coalesce(a.lang, '~null~') = coalesce(b.lang, '~null~') AND a.lb = b.lb AND a.doc_id < b.doc_id
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
        )
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> label)
        ORDER BY doc_id
        """
    register("dedup_cluster_survivors", cluster_survivors, _survivors_sql)

    # Embedding-based dedup tail: cosine near-dup pairs → connected
    # components → survivors, all SQL-expressible so the whole composed
    # pipeline is value-checked (same recursive-closure oracle pattern
    # as the n-gram tail).
    def embedding_survivors(spark, sf):
        emb = load_table(spark, "embeddings", sf)
        pairs = D.embedding_neardup_pairs(
            emb, "embedding", "vec_id", block_col="label", min_cosine=0.4
        )
        return (
            D.dedup_survivors(emb, pairs, "vec_id")
            .select("vec_id").orderBy("vec_id")
        )

    register(
        "embedding_dedup_survivors",
        embedding_survivors,
        f"""
        WITH RECURSIVE pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE {_cos('a.embedding', 'b.embedding')} >= 0.4
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
        )
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT id FROM labels WHERE id <> label)
        ORDER BY vec_id
        """,
    )

    # ---------------- similarity search --------------------------------
    register(
        "similarity_topk_bruteforce",
        lambda spark, sf: S.topk_bruteforce(
            load_table(spark, "embeddings", sf), "embedding", "vec_id",
            query_id=0, k=10,
        ),
        f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id, round({_cos('embedding', 'qv')}, 6) AS score
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY score DESC, id LIMIT 10
        """,
    )

    # ANN indexes are built ONCE per (session, sf) and cached; the
    # registered queries only probe the persisted index — no training
    # action, no UDF stage, no corpus re-bucketing per call
    # (plan-asserted in tests/test_similarity.py).
    register(
        "similarity_topk_lsh",
        lambda spark, sf: S.query_lsh(
            _lsh_index(spark, sf), "embedding", "vec_id",
            query_id=0, k=10, hamming_probe=2,
        ),
        SK.lsh_topk_sql(
            S._hyperplanes(8, 64), query_id=0, k=10, hamming_probe=2, dim=64
        ),
    )

    # Registry variant runs the PORTABLE IVF (deterministic centroid
    # literals + native double argmax assignment — same pattern as the
    # portable-hash sketch family), so the whole IVF path is value-checked
    # against independent SQL. The TRAINED production path
    # (build_ivf_index/query_ivf: numpy k-means + Arrow-batched
    # assignment) stays pinned by tests/test_similarity.py.
    register(
        "similarity_topk_ivf",
        lambda spark, sf: S.query_ivf_portable(
            *_ivf_portable_index(spark, sf), "embedding", "vec_id",
            query_id=0, k=10, n_probe=4,
        ),
        SK.ivf_topk_sql(
            S._hyperplanes(16, 64, seed=S.PORTABLE_IVF_SEED),
            query_id=0, k=10, n_probe=4, dim=64,
        ),
    )

    # ---------------- text analysis ------------------------------------
    # quality_filter: composite score over the stats + threshold — the
    # training-pipeline filter stage. The oracle recomputes the features
    # and score from scratch.
    register(
        "text_quality_filter",
        lambda spark, sf: T.quality_filter(
            load_table(spark, "documents", sf), "text", "doc_id", min_score=0.9
        ).orderBy("id"),
        f"""
        WITH s AS (
          SELECT doc_id AS id,
            CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
            round(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                  AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
            round(CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
                  AS DOUBLE) / greatest(length(text), 1), 6) AS upper_ratio,
            round(CAST(len(list_filter({_TOKS},
                  t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t)))
                  AS DOUBLE) / greatest(len({_TOKS}), 1), 6) AS stopword_ratio
          FROM documents
        ),
        scored AS (
          SELECT id, n_tokens,
            round(CAST(
                  0.4 * (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
                + 0.2 * (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END)
                + 0.2 * (CASE WHEN stopword_ratio >= 0.01 THEN 1.0 ELSE 0.0 END)
                + 0.2 * (CASE WHEN upper_ratio <= 0.3 THEN 1.0 ELSE 0.0 END)
                AS DOUBLE), 6) AS quality_score
          FROM s
        )
        SELECT id, quality_score, n_tokens FROM scored
        WHERE quality_score >= 0.9 ORDER BY id
        """,
    )

    register(
        "text_quality_stats",
        lambda spark, sf: T.quality_stats(
            load_table(spark, "documents", sf), "text", "doc_id"
        ).orderBy("id"),
        f"""
        SELECT doc_id AS id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
          round(CASE WHEN len({_TOKS}) > 0 THEN
            CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
              / len({_TOKS}) ELSE 0.0 END, 6) AS avg_token_len,
          round(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
          round(CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
                AS DOUBLE) / greatest(length(text), 1), 6) AS upper_ratio,
          round(CAST(len(list_filter({_TOKS},
                t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t)))
                AS DOUBLE) / greatest(len({_TOKS}), 1), 6) AS stopword_ratio
        FROM documents ORDER BY id
        """,
    )

    lang_score = {
        lang: ("len(list_filter(" + _TOKS + ", t -> list_contains(["
               + ", ".join(f"'{m}'" for m in markers) + "], t)))")
        for lang, markers in sorted(T.LANG_MARKERS.items())
    }
    best = "greatest(" + ", ".join(lang_score.values()) + ")"
    guess_chain = "'und'"
    for lang in sorted(lang_score, reverse=True):
        guess_chain = (f"CASE WHEN {lang_score[lang]} = {best} THEN '{lang}' "
                       f"ELSE {guess_chain} END")
    register(
        "language_id",
        lambda spark, sf: T.language_id(
            load_table(spark, "documents", sf), "text", "doc_id"
        ).orderBy("id"),
        f"""
        SELECT doc_id AS id,
               CASE WHEN {best} > 0 THEN {guess_chain} ELSE 'und' END AS lang_guess,
               CAST({best} AS BIGINT) AS marker_hits
        FROM documents ORDER BY id
        """,
    )

    register(
        "token_counts",
        lambda spark, sf: T.token_counts(
            load_table(spark, "documents", sf), "text", "doc_id"
        ).orderBy("id"),
        f"""
        SELECT doc_id AS id,
               CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '{T.BPE_TOKEN_REGEX}')) AS BIGINT)
                 AS bpe_tokens
        FROM documents ORDER BY id
        """,
    )

    register(
        "doc_fingerprint",
        lambda spark, sf: T.doc_fingerprint(
            load_table(spark, "documents", sf), "text", "doc_id",
            base_hash=portable_hash64,
        ).orderBy("id"),
        SK.fingerprint_sql(_TOKS, window=4),
    )

    # ---------------- multimodal plumbing -------------------------------
    # Flattened to f0..f7 doubles: the fake featureizer is defined by
    # exact double arithmetic, so the whole mapInPandas decode path is
    # value-checked against SQL (and array cells would break the
    # driver's canonicalizer anyway).
    register(
        "multimodal_features",
        lambda spark, sf: M.extract_features(
            M.assets_from_documents(load_table(spark, "documents", sf)), fake=True
        ).select(
            "asset_id", "kind", "n_bytes",
            *[F.element_at("features", i + 1).alias(f"f{i}")
              for i in range(M.N_FEATURES)],
        ).orderBy("asset_id"),
        SK.multimodal_features_sql(M.N_FEATURES),
    )

    # Frame-sample plumbing check: the oracle recomputes the frame count
    # law (one frame per 64-byte window, capped at 16) from the payload
    # length — verifying the mapInPandas explode produced exactly the
    # right cardinality per asset.
    register(
        "multimodal_frame_sample",
        lambda spark, sf: M.frame_sample(
            M.assets_from_documents(load_table(spark, "documents", sf))
        ).groupBy("asset_id").agg(F.count(F.lit(1)).alias("n_frames"))
        .orderBy("asset_id"),
        """
        SELECT doc_id AS asset_id,
               CAST(least(16, greatest(1, octet_length(encode(text)) // 64))
                    AS BIGINT) AS n_frames
        FROM documents
        WHERE text IS NOT NULL  -- Spark's explode skips null payloads
        ORDER BY asset_id
        """,
    )

    _contribute_corpus(register)

    # Resize plumbing check: output dims and the post-stride byte count
    # are pure integer arithmetic on (width, height, payload length) —
    # the oracle replicates the stride law exactly, so the batchwise
    # payload rewrite is verified by its observable effects.
    register(
        "multimodal_resize",
        lambda spark, sf: M.resize_assets(
            M.assets_from_documents(load_table(spark, "documents", sf))
        ).select(
            "asset_id", "kind", "width", "height",
            F.length("payload").alias("n_bytes"),
        ).orderBy("asset_id"),
        """
        WITH a AS (
          SELECT doc_id AS asset_id,
                 CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                 CAST(n_chars % 1024 AS BIGINT) AS w,
                 CAST(n_chars % 768 AS BIGINT) AS h,
                 octet_length(encode(text)) AS len
          FROM documents
        ),
        s AS (
          -- stride = max(1, ((w or 1) * (h or 1)) // (224*224) or 1):
          -- Python's `x or 1` maps 0 to 1 at each step
          SELECT asset_id, kind, w, h, len,
                 greatest(1, CASE WHEN ((CASE WHEN w = 0 THEN 1 ELSE w END)
                                        * (CASE WHEN h = 0 THEN 1 ELSE h END))
                                       // 50176 = 0 THEN 1
                                  ELSE ((CASE WHEN w = 0 THEN 1 ELSE w END)
                                        * (CASE WHEN h = 0 THEN 1 ELSE h END))
                                       // 50176 END) AS stride
          FROM a
        )
        SELECT asset_id, kind,
               least(w, 224) AS width, least(h, 224) AS height,
               CAST((len + stride - 1) // stride AS INT) AS n_bytes
        FROM s ORDER BY asset_id
        """,
    )


def _contribute_corpus(register) -> None:
    """Corpus-level text queries (registered from contribute())."""
    from building_permissions_etl_spark.operators.dedup import tokens
    from building_permissions_etl_spark.operators.scale import fan_out

    # Vocabulary: corpus-wide token counts, top 100. explode → count is
    # the canonical shuffle-with-map-side-combine shape; at 100 TB the
    # partial aggregation collapses each partition's token stream before
    # the exchange, so shuffle volume is bounded by |vocab| per partition.
    def vocabulary(spark, sf):
        docs = load_table(spark, "documents", sf)
        return (
            fan_out(docs)
            .select(F.explode(tokens(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.desc("freq"), "token")
            .limit(100)
        )

    register(
        "corpus_vocabulary_top100",
        vocabulary,
        f"""
        SELECT token, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        GROUP BY token ORDER BY freq DESC, token LIMIT 100
        """,
    )

    # Stratified sample: fixed fraction per language, deterministic via
    # content hash (not RNG) so the sample is reproducible across runs,
    # engines, and retries — which also makes it oracle-checkable, unlike
    # sampleBy. The hash is portable_hash64 over the id, so DuckDB draws
    # the IDENTICAL sample; thresholds are integers in [0, 10000) —
    # no float-boundary ambiguity. At scale: a narrow filter, no shuffle.
    fractions = {"en": 5000, "de": 2500, "fr": 2500, "es": 1000, "zh": 1000}

    def stratified(spark, sf):
        docs = load_table(spark, "documents", sf)
        thr = F.create_map(*[F.lit(x) for kv in fractions.items() for x in kv])
        bucket = F.pmod(portable_hash64(F.col("doc_id").cast("string")),
                        F.lit(10000))
        keep = bucket < F.coalesce(thr[F.col("lang")], F.lit(0))
        return docs.filter(keep).select("doc_id", "lang").orderBy("doc_id")

    _bucket_sql = (PORTABLE_HASH_SQL.format(x="CAST(doc_id AS VARCHAR)")
                   + " % 10000")
    _thr_sql = "".join(
        f"WHEN '{lang}' THEN {thr} " for lang, thr in sorted(fractions.items())
    )
    register(
        "stratified_sample_by_lang",
        stratified,
        f"""
        SELECT doc_id, lang FROM documents
        WHERE {_bucket_sql} < (CASE lang {_thr_sql}ELSE 0 END)
        ORDER BY doc_id
        """,
    )

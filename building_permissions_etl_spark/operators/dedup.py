"""Deduplication operators for large-scale training-data pipelines (M7).

Five strategies, all built for the 100 TB case:

  * exact          — hash-bucketed groupBy: shuffle key is xxhash64(text),
                     never the full document text, so shuffle volume is
                     8 bytes + ids per row, not the corpus;
  * minhash_lsh    — shingle → k minhashes → b bands; candidate pairs come
                     from equi-joining band signatures (a shuffle on small
                     fixed-width keys). No pairwise n² anywhere;
  * simhash        — 64-bit fingerprint; near-dup candidates via banded
                     chunks (pigeonhole: hamming ≤ 3 ⇒ some 16-bit chunk
                     equal), verified by exact hamming distance;
  * ngram_jaccard  — exact Jaccard over word 3-gram sets, blocked by a
                     cheap key (lang) to bound the self-join;
  * embedding near-dup — exact cosine over embeddings within blocks; the
                     LSH-bucketed variant lives in similarity.py.

Everything below is native Column expressions (split / transform /
array_min / xxhash64 / bitwise ops) — no Python in the hot path.
"""

from __future__ import annotations

import threading as _threading
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from building_permissions_etl_spark.functions.expr import let
from building_permissions_etl_spark.operators.scale import fan_out

# Deterministic seeds for the k minhash permutations h_i(x) = (a_i*x+b_i) mod p.
# p = 2^31-1 keeps a*h+b < 2^62: overflow-safe even under ANSI mode (Spark 4
# default), where long wrap-around is an error, not a feature.
MERSENNE_P = (1 << 31) - 1

def _eager_final_release_ok(df: DataFrame) -> bool:
    """May the LAST checkpoint generation be freed before returning,
    when the returned frame's recompute path runs through it?

    On a local master: yes — executor loss is process death by contract,
    so a returned MEMORY_AND_DISK cache whose only recompute source is
    the freed checkpoint adds no new failure mode (the cache spills to
    disk rather than dropping blocks).

    On a real cluster: no — an executor failure can drop cache blocks
    whose ONLY recompute path is the freed checkpoint, turning a
    recoverable recompute into a missing-block error. There the final
    generation is left alive instead: bounded residue of ONE checkpoint
    per operator call, freed when the context dies. (Mid-loop releases
    of SUPERSEDED generations are unconditional — by then a newer
    self-contained checkpoint is fully materialized, so nothing's
    recompute path runs through the freed blocks.)
    """
    try:
        return df.sparkSession.sparkContext.master.startswith("local")
    except Exception:
        return False


# Final-generation checkpoint releases retained on a CLUSTER master,
# where eager release is unsafe (the cached result's recompute path runs
# through the checkpoint — see _eager_final_release_ok). One entry per
# distributed connected-components call; empty on a local master. GROWTH
# CONTRACT: on a cluster this list grows by exactly one closure (the
# last checkpoint generation and the pairs' checkpoint + two py4j refs)
# per distributed call until release_retained_checkpoints() is invoked —
# long-lived cluster drivers running many graphs MUST call it between
# batches or accept two retained checkpoints per call. Appends and
# drains are serialized by _RETAINED_LOCK so concurrent driver threads
# cannot race the list; the closures themselves are idempotent-unsafe
# (pop-then-call under the lock guarantees each runs once).
_RETAINED_LOCK = _threading.Lock()
_RETAINED_FINAL_RELEASES: list = []


def release_retained_checkpoints() -> int:
    """Free the final-generation localCheckpoint blocks retained by
    prior distributed ``connected_components`` calls on a cluster
    master. Call once the returned label frames have been
    fully consumed (or re-materialized elsewhere): a released
    checkpoint cannot back recompute, so cached labels that lose blocks
    to executor failure afterwards would error instead of recovering.
    Returns the number of checkpoint generations released. No-op (0) on
    a local master, where releases are already eager per-result."""
    n = 0
    while True:
        with _RETAINED_LOCK:
            if not _RETAINED_FINAL_RELEASES:
                return n
            release = _RETAINED_FINAL_RELEASES.pop()
        release()
        n += 1


def _local_checkpoint_tracked(df: DataFrame):
    """Eager localCheckpoint returning ``(ck_df, release)``.

    ``df.localCheckpoint`` persists at the RDD level — the blocks are
    invisible to the CacheManager, so no DataFrame-API call can ever free
    them and back-to-back iterative queries accumulate residue until the
    context dies (observed: a default 1 GiB local driver OOMs running the
    full registry sweep). ``release()`` reaches the checkpoint RDD through
    the analyzed LogicalRDD and unpersists its blocks directly.

    A released checkpoint's data is GONE (lineage is truncated), so call
    ``release()`` only once a newer generation is fully materialized.
    That adds no new failure mode: recompute-after-block-loss was already
    impossible for a local checkpoint (executor loss is fatal by
    contract), and materialized caches spill to disk rather than drop.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        jrdd = ck._jdf.queryExecution().analyzed().rdd()
    except Exception:   # non-classic backend: fall back to GC residue
        jrdd = None
    released = [False]

    def release() -> None:
        if released[0] or jrdd is None:
            return
        released[0] = True
        try:
            jrdd.unpersist(False)
        except Exception:
            pass
    return ck, release


def _perm_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs — a simple LCG expansion of the seed so
    runs are reproducible with no RNG state at plan-build time."""
    params, x = [], seed
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (MERSENNE_P - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MERSENNE_P
        params.append((a, b))
    return params


def tokens(col: Column) -> Column:
    """Whitespace tokens, lowercased, empty strings dropped."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the text column (set semantics); whole
    doc as a single gram when shorter than ``n`` tokens, so short docs
    still participate; an EMPTY/whitespace-only doc yields an empty
    array — the former single-'' gram made every empty doc "share" a
    gram with every other empty doc, flagging them as contaminated /
    near-duplicate despite zero content. The token subtree is let-bound
    so tokenization runs once per row, not once per position (this is
    the single n-gram builder — ``corpus.word_ngrams`` aliases it)."""
    toks = tokens(col)
    return let(toks, lambda tk: F.when(
        F.size(tk) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
        )),
    ).when(
        F.size(tk) > 0, F.array(F.concat_ws(" ", tk))
    ).otherwise(F.array().cast("array<string>")))


# Hot-bucket safety valve for the banded pair generation: a
# boilerplate-heavy corpus can put millions of documents into one band
# bucket, and the within-bucket pairing is quadratic in the bucket
# size. Buckets larger than this are dropped BEFORE any pair exists. A
# document in an over-cap bucket loses only that one band — its other
# bands still generate candidates — and a bucket this hot is
# near-always an exact-duplicate flood, which the exact-dedup-first
# pipeline stage removes anyway (SCALE.md §10).
#
# Shape: the cap is a window count over the bucket partitioning inside
# ``_bucket_pairs``, filtering hot buckets' rows BEFORE the collect
# (round 14; the former count+broadcast-anti-join shape recomputed the
# whole signature pipeline per side to find the hot set).
DEFAULT_MAX_BUCKET = 1000


def _bucket_pairs(banded: DataFrame, keys: list[str], max_bucket: int | None,
                  pair_cols: list[str],
                  score: Callable[[Column, Column], Column] | None = None,
                  score_name: str = "score") -> DataFrame:
    """Ordered within-bucket pairs WITHOUT a self-join: group the banded
    rows by bucket key, drop over-cap buckets on the grouped row, and
    generate the pairs from the collected array.

    The former shape — ``banded.alias("a").join(banded.alias("b"), key
    equality & a.id < b.id)`` with ``_cap_buckets`` in front — made
    Catalyst compute the ENTIRE signature pipeline four times per query
    (each join side once, plus the hot-bucket aggregate once per side;
    locally the join planned as a broadcast, so not even ReusedExchange
    could fold the sides). One groupBy computes the pipeline once and
    replaces both the pair-join exchange and the cap's anti-join: the
    cap is a window count over the SAME bucket partitioning, dropping a
    hot bucket's rows before any array exists — identical
    drop-the-whole-bucket semantics (guide §2.3 "aggregate before you
    shuffle", §2.4 "remove shuffles outright"; measured 1.8-2.0× on the
    LSH/OPH queries at sf0.1 with identical rows).

    Per-bucket memory is bounded by ``max_bucket``: the window buffer is
    spillable row storage (never the collected array — review r14: a
    post-collect size filter would first materialize the adversarial
    million-row bucket in one collect_list buffer), and the window's
    hash partitioning satisfies the groupBy's required distribution, so
    the cap adds a sort but no exchange. Returns one row per unordered
    pair with
    columns ``{c}_a``/``{c}_b`` for each of ``pair_cols``; the first
    pair col must be the id. ``array_sort`` orders the collected
    structs by that id, so emitting only (i, j>i) index pairs yields
    each pair once; the explicit strict-``<`` filter afterwards keeps
    the old join's semantics bit-for-bit at the edges (null ids never
    pair — a null comparison was never true in the join either).

    ``score``: optional ``(x_struct, y_struct) -> Column`` evaluated
    INSIDE the pair-generation lambda (round 15, guide §5): with it the
    flattened per-bucket array carries ``(id_a, id_b, score_name)`` —
    ~24 B per pair — instead of duplicating every non-id pair col into
    both struct halves. Without it, a k=64 bigint-signature payload at
    the default ``max_bucket=1000`` materializes C(1000, 2) structs of
    two k-long arrays (~0.5 GB) in ONE generated row before the
    explode. The score value is bit-identical either way — it is the
    same expression over the same collected struct fields, just
    evaluated per pair at emission instead of per exploded row.
    """
    payload = F.struct(*[F.col(c) for c in pair_cols])
    src = banded
    if max_bucket:
        # Cap BEFORE collecting (review r14): a size filter on the
        # collected row would first materialize the whole over-cap
        # bucket in one collect_list buffer — the adversarial
        # million-row bucket this cap exists for, concentrated in one
        # in-memory array. The window count streams through a SPILLABLE
        # buffer on the same (already required) bucket partitioning and
        # drops hot buckets' rows before any array exists; the window's
        # hash partitioning satisfies the groupBy below, so no second
        # exchange appears.
        w = Window.partitionBy(*[F.col(k) for k in keys])
        src = (banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
               .filter(F.col("__bsz") <= max_bucket).drop("__bsz"))
    grp = src.groupBy(*[F.col(k) for k in keys]).agg(
        F.collect_list(payload).alias("xs"))
    first = pair_cols[0]
    if score is not None:
        def emit(x, y):
            return F.struct(
                x[first].alias(f"{first}_a"),
                y[first].alias(f"{first}_b"),
                score(x, y).alias(score_name),
            )
    else:
        def emit(x, y):
            return F.struct(
                *([x[c].alias(f"{c}_a") for c in pair_cols]
                  + [y[c].alias(f"{c}_b") for c in pair_cols]))
    pairs = let(
        F.array_sort("xs"),
        lambda s: F.flatten(F.transform(
            s,
            lambda x, i: F.transform(
                F.slice(s, i + F.lit(2), F.size(s)),
                lambda y: emit(x, y),
            ),
        )),
    )
    ex = grp.select(F.explode(pairs).alias("p")).select("p.*")
    return ex.filter(F.col(f"{first}_a") < F.col(f"{first}_b"))


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest-id row per identical text.

    Shuffles on (xxhash64(text), text-length) — cheap fixed-width keys.
    The full text rides along only inside each hash bucket's window, and
    is compared inside the partition to make hash collisions harmless.
    """
    w = Window.partitionBy(F.xxhash64(F.col(text_col)), F.col(text_col)).orderBy(
        F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_signature(
    col: Column, k: int = 64, shingle_n: int = 3, base_hash=None
) -> Column:
    """Array of k minhash values for the text column.

    Base hash is xxhash64 (JVM built-in, vectorized) by default;
    ``base_hash`` swaps in another Column-level hash —
    ``functions.portable.portable_hash64`` makes the whole signature
    reproducible in DuckDB so the registry variant is value-checked by an
    independent engine. The k permutations are affine maps mod a Mersenne
    prime, computed with array_min over the shingle-hash array — one pass
    over shingles per permutation, all codegen, no UDF.
    """
    hash_fn = base_hash or F.xxhash64
    base = F.transform(
        word_shingles(col, shingle_n),
        lambda s: F.pmod(hash_fn(s), F.lit(MERSENNE_P)),
    )
    # let-bind the tokenize→shingle→hash subtree so it evaluates ONCE per
    # row: HOFs are interpreted (no codegen subexpression elimination), so
    # the naive form — k separate array_min(transform(base, …)) columns —
    # re-evaluates the shingle pipeline per permutation (measured ~30×
    # slower at sf0.1). ONE aggregate pass over the shingle hashes then
    # maintains all k minima in an array accumulator (zip_with + least) —
    # measured 2× faster than k separate array_min passes, bit-identical.
    # a, b, h < 2^31 ⇒ a*h+b < 2^62: exact modular arithmetic, no long
    # overflow even under ANSI mode. Also A/B'd against an Arrow pandas-
    # UDF (numpy broadcast over JVM-computed shingle hashes): the JVM
    # aggregate wins (5.1 s vs 5.6 s on 50k docs) — serialization eats
    # numpy's gain, so the expression path stays.
    params = _perm_params(k)
    a_arr = F.array(*[F.lit(a) for a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, b in params])
    idx = F.sequence(F.lit(1), F.lit(k))
    return let(
        base,
        lambda hs: F.aggregate(
            hs,
            F.array_repeat(F.lit(MERSENNE_P).cast("long"), k),
            lambda acc, h: F.zip_with(
                acc, idx,
                lambda m, i: F.least(
                    m,
                    F.pmod(
                        F.element_at(a_arr, i) * h + F.element_at(b_arr, i),
                        F.lit(MERSENNE_P),
                    ),
                ),
            ),
        ),
    )


def _minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    bands: int,
    shingle_n: int,
    base_hash,
) -> DataFrame:
    """(id, sig, band, bh) — the banded signature table shared by the
    self-join and the delta-vs-corpus paths. Shingle-less
    (empty/whitespace) docs carry NO signal: their signature would be
    the untouched all-sentinel init array, pairing every empty doc
    with every other at est 1.0, so they are dropped here (the oracle's
    list_min over an empty list yields null sigs — excluded there too,
    so both engines agree: empty docs never pair)."""
    r = k // bands
    df = df.filter(F.size(tokens(F.col(text_col))) > 0)
    sigs = df.select(
        F.col(id_col).alias("id"),
        minhash_signature(F.col(text_col), k, shingle_n, base_hash).alias("sig"),
    )
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.slice("sig", b * r + 1, r))).alias("bh"),
                ),
            )
        ).alias("bs"),
    ).select("id", "sig", F.col("bs.band").alias("band"), F.col("bs.bh").alias("bh"))


def minhash_lsh_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
    base_hash=None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental (delta-vs-corpus) NEAR-dup probe: for each batch
    document, the existing-corpus documents sharing at least one LSH
    band, estimator-verified — the sketch counterpart of
    ``dedup_incremental_batch``'s exact probe, and the nightly-ingest
    shape for near-dedup: the corpus is never self-joined, only the
    delta is signed and banded against it. Returns
    (batch_id, corpus_id, est_jaccard), batch_id ascending.

    Scale shape: cost ∝ |delta| signature work + one equi-join on the
    fixed-width (band, band-hash) key against the corpus's banded
    signature table. At 100 TB that table is PERSISTED and appended
    per ingest (the ANN build/query-split rule applied to dedup) —
    building it in-plan here stands in for reading it. The hot-bucket
    cap applies to the CORPUS side only (a flooded corpus bucket is
    boilerplate; a batch doc landing in it gains nothing from 10^4
    candidate pairs), bounding per-batch-doc fan-out exactly like the
    self-join path bounds per-bucket pairing.
    """
    # The corpus side is GROUPED per bucket before the join: the former
    # row-level shape computed the corpus signature pipeline twice (once
    # as the join side, once inside _cap_buckets' hot aggregate); one
    # groupBy computes it once, the cap becomes a window-count filter on
    # the bucket partitioning (identical drop-the-bucket semantics,
    # applied before any array exists), and the join probes one row per
    # corpus bucket instead of one per corpus row (guide §2.3/§2.4 —
    # same restructure as _bucket_pairs, adapted to the two-sided
    # probe).
    c_banded = _minhash_banded(fan_out(corpus), text_col, id_col, k, bands,
                               shingle_n, base_hash)
    if max_bucket:
        # cap BEFORE collecting, same rationale as _bucket_pairs
        # (review r14): a flooded corpus bucket must never materialize
        # as one collect_list array; the spillable window count drops
        # its rows first, on the partitioning the groupBy needs anyway
        wb = Window.partitionBy("band", "bh")
        c_banded = (c_banded
                    .withColumn("__bsz", F.count(F.lit(1)).over(wb))
                    .filter(F.col("__bsz") <= max_bucket).drop("__bsz"))
    c_grouped = (
        c_banded
        .groupBy("band", "bh")
        .agg(F.collect_list(F.struct("id", "sig")).alias("cs"))
    )
    b_banded = _minhash_banded(fan_out(batch), text_col, id_col, k, bands,
                               shingle_n, base_hash)
    ex = (
        b_banded.join(c_grouped, ["band", "bh"])
        .select(F.col("id").alias("batch_id"), F.col("sig").alias("sig_a"),
                F.explode("cs").alias("c"))
        .select("batch_id", F.col("c.id").alias("corpus_id"),
                "sig_a", F.col("c.sig").alias("sig_b"))
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(k)
    # est before the dedup exchange: duplicates of a (batch, corpus)
    # pair carry identical sigs, so filter-then-dedup == dedup-then-
    # filter while the shuffle carries doubles, not signature arrays
    return (
        ex.select("batch_id", "corpus_id", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .dropDuplicates(["batch_id", "corpus_id"])
        .orderBy("batch_id", "corpus_id")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
    base_hash=None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    rows = b bands per doc → groupBy (band_idx, band_hash) buckets →
    pairs within buckets → dedup pairs → estimate Jaccard as the fraction
    of equal minhash components. Returns (id_a, id_b, est_jaccard) with
    id_a < id_b. The join key is (band index, 64-bit band hash): fixed
    width regardless of document size, and buckets above ``max_bucket``
    are dropped before pairing (see ``DEFAULT_MAX_BUCKET``) — together
    these are the properties that hold at 100 TB.
    """
    df = fan_out(df)  # signature computation is the per-row hot loop
    banded = _minhash_banded(df, text_col, id_col, k, bands, shingle_n,
                             base_hash)
    # One grouped pass replaces the self-join + hot-bucket anti-join
    # (see _bucket_pairs): the signature pipeline above is computed
    # ONCE instead of four times. est is computed INSIDE the pair
    # emission (round 15), so neither the flattened pair array nor the
    # dropDuplicates exchange ever carries two k-long signature arrays
    # per pair — (id_a, id_b, double) end to end. Duplicates of a pair
    # (one per shared band) have identical sigs, hence identical est,
    # so filter-then-dedup returns the same rows as the former
    # dedup-then-filter (guide §2.3 shuffle fewer bytes, §5 no giant
    # single-row arrays).
    est = _sig_est(k)
    pairs = _bucket_pairs(banded, ["band", "bh"], max_bucket, ["id", "sig"],
                          score=est, score_name="est_jaccard")
    return (
        pairs
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def _sig_est(k: int):
    """Pair-score lambda: fraction of equal signature components —
    the same zip_with/aggregate expression the call sites previously
    applied to the exploded ``sig_a``/``sig_b`` columns."""
    def est(x, y):
        return F.aggregate(
            F.zip_with(x["sig"], y["sig"],
                       lambda p, q: (p == q).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.lit(k)
    return est


def minhash_oph_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
    base_hash=None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """One-permutation-hashing near-dup pairs — the shuffle-based twin of
    ``minhash_lsh_pairs`` (Li, Owen & Zhang, NIPS 2012).

    Instead of k permutation passes per row (interpreted HOFs), shingle
    hashes EXPLODE to (doc, h) rows and ONE grouped min per (doc,
    h mod k) bin computes the whole signature in whole-stage codegen with
    map-side partial aggregation — measured 1.6× faster than the HOF
    aggregate at 50k docs, and the gap widens with document length.
    Empty bins (short docs) are filled by rotation densification
    (Shrivastava & Li, ICML 2014): the nearest non-empty bin to the
    right (circular) plus an offset-mixed constant. Densification is
    content-only, so identical documents keep identical signatures and
    the estimator stays unbiased for short documents.

    est_jaccard is the OPH estimator: fraction of equal bins. Candidate
    generation is the same fixed-width band-hash equi-join as the
    classic path.
    """
    r = k // bands
    hash_fn = base_hash or F.xxhash64
    base = F.transform(
        word_shingles(F.col(text_col), shingle_n),
        lambda s: F.pmod(hash_fn(s), F.lit(MERSENNE_P)),
    )
    ex = fan_out(df).select(F.col(id_col).alias("id"), F.explode(base).alias("h"))
    bins = ex.groupBy("id", F.pmod("h", F.lit(k)).alias("b")).agg(
        F.min("h").alias("m")
    )
    packed = bins.groupBy("id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "m"))).alias("bm")
    )
    # dense k-array via capped rotation densification: bin i borrows the
    # first non-empty bin within 8 steps to the right (circular), mixed
    # with the step so borrowed values from different distances can't
    # alias; past the cap it falls back to the global min bin value mixed
    # with i. Both paths are CONTENT-only (identical docs ⇒ identical
    # signatures). The cap matters: a full k-step probe builds a k²-node
    # expression that blows past codegen limits (measured 45 s vs ~3 s
    # for the whole pairs job at sf0.1).
    PROBE = 8
    MIX = 0x9E3779B1

    def dense(i: Column) -> Column:
        probes = [
            F.element_at(F.col("bm"), F.pmod(i + j, F.lit(k)).cast("bigint"))
            + F.lit(j * MIX)
            for j in range(PROBE)
        ]
        probes.append(F.array_min(F.map_values("bm")) + i.cast("long") * F.lit(MIX))
        return F.coalesce(*probes)

    # ONE lambda evaluated k times — an unrolled per-bin expression array
    # is k× the plan size and measured 5× slower end-to-end
    sig = F.transform(F.sequence(F.lit(0), F.lit(k - 1)), dense)
    sigs = packed.select("id", sig.alias("sig"))
    banded = sigs.select(
        "id", "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.slice("sig", b * r + 1, r))).alias("bh"),
                ),
            )
        ).alias("bs"),
    ).select("id", "sig", F.col("bs.band").alias("band"), F.col("bs.bh").alias("bh"))
    # grouped in-bucket pairing — one signature computation, no
    # self-join, cap as a grouped-size filter; est computed inside the
    # pair emission so no pair struct ever carries two k-long
    # signatures (see _bucket_pairs and the LSH path's note)
    pairs = _bucket_pairs(banded, ["band", "bh"], max_bucket, ["id", "sig"],
                          score=_sig_est(k), score_name="est_jaccard")
    return (
        pairs
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def simhash64(col: Column, base_hash=None) -> Column:
    """64-bit SimHash of the token multiset.

    bit_i(fp) = sign of Σ_tokens (bit_i(hash(token)) ? +1 : -1).
    Bit sums are computed with one aggregate over the token-hash array per
    bit — 64 codegen'd expressions, no UDF, no shuffle. Default hash is
    xxhash64; pass ``portable_hash64`` for the engine-portable (60
    effective bits) DuckDB-checkable variant.
    """
    hash_fn = base_hash or F.xxhash64
    hs = F.transform(tokens(col), lambda t: hash_fn(t))
    # bit 63 is the sign bit: 1<<63 doesn't fit a long literal; its
    # two's-complement value is min-long
    bitvals = F.array(*[
        F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(64)
    ])
    idx = F.sequence(F.lit(0), F.lit(63))

    def body(hsb: Column) -> Column:
        # ONE aggregate pass over the token hashes maintaining all 64
        # bit-sums in an int array (the naive 64-aggregates form rescans
        # the token pipeline per bit).
        sums = F.aggregate(
            hsb,
            F.array_repeat(F.lit(0), 64),
            lambda acc, h: F.zip_with(
                acc, idx,
                lambda s, i: s + F.when(F.getbit(h, i) == 1, 1).otherwise(-1),
            ),
        )
        # fold sign bits into the long fingerprint; bits are disjoint so
        # addition == bitwise OR and can't overflow
        return F.aggregate(
            F.zip_with(sums, bitvals,
                       lambda s, bv: F.when(s > 0, bv).otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return let(hs, body)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    base_hash=None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Candidates via 4×16-bit chunk banding (pigeonhole: ≤3 differing bits
    ⇒ at least one of 4 chunks identical), then exact hamming verify.
    Chunk buckets above ``max_bucket`` are dropped before pairing (see
    ``DEFAULT_MAX_BUCKET``).
    """
    sigs = fan_out(df).select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col), base_hash).alias("fp")
    )
    chunks = sigs.select(
        "id",
        "fp",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftright("fp", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("cv"),
                )
                for i in range(4)
            ])
        ).alias("c"),
    ).select("id", "fp", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv"))
    # grouped in-bucket pairing — one fingerprint computation, no
    # self-join (see _bucket_pairs); hamming computed inside the pair
    # emission, so the pair structs carry (id_a, id_b, bigint) and the
    # dedup exchange never sees both fingerprints (identical fps per
    # duplicate pair ⇒ identical hamming, so filter-then-dedup rows ==
    # dedup-then-filter rows)
    pairs = _bucket_pairs(
        chunks, ["chunk", "cv"], max_bucket, ["id", "fp"],
        score=lambda x, y: hamming64(x["fp"], y["fp"]).cast("bigint"),
        score_name="hamming")
    return (
        pairs
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    min_jaccard: float = 0.05,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for pairs within a block.

    The block key bounds the self-join (lang, source, length-bucket, or an
    LSH band at scale). Jaccard is |A∩B| / |A∪B| over distinct n-gram
    sets — integer set sizes, so the double division is engine-exact and
    DuckDB-oracle-checkable.

    Shape note (measured): the inverted-index form
    (``ngram_jaccard_pairs_inverted``) produces identical pairs but ran
    ~1.4× SLOWER at sf0.1 — with tight blocks (~50 docs) the per-block
    quadratic is tiny and array_intersect beats the explode+shuffle of
    every posting. On large/unbounded blocks (a raw corpus blocked by
    lang) the quadratic explodes (83 s at 10×, SCALE.md §10) and the
    inverted index with a document-frequency cutoff is the right shape —
    ``ngram_jaccard_pairs_auto`` picks per measured block occupancy.
    """
    sets = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        word_shingles(F.col(text_col), n).alias("ng"),
    )
    a, b = sets.alias("a"), sets.alias("b")
    # |A∪B| = |A|+|B|-|A∩B|: one intersect per pair (let-bound so it isn't
    # evaluated twice), no union materialization — halves per-pair work in
    # the O(n²/blocks) hot loop.
    jacc = let(
        F.array_intersect(F.col("a.ng"), F.col("b.ng")),
        lambda iv: F.size(iv).cast("double")
        / (F.size(F.col("a.ng")) + F.size(F.col("b.ng")) - F.size(iv)).cast("double"),
    )
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jacc.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .orderBy("id_a", "id_b")
    )


def ngram_jaccard_pairs_inverted(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    min_jaccard: float = 0.05,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard via an inverted index — the raw-corpus
    scale shape (cf. the docstring of ``ngram_jaccard_pairs``).

    Shingles EXPLODE to postings (block, shingle, id); candidate pairs
    come from equi-joining postings on (block, shingle), so total pair
    work is Σ_shingle C(df, 2) instead of Σ_block C(block_size, 2) —
    bounded by the document-frequency cutoff instead of quadratic in
    block occupancy. |A∩B| is the per-pair count of co-occurring
    shingles; |A∪B| = |A| + |B| − |A∩B| with sizes joined onto the
    (much smaller) pair table, never onto the postings.

    ``max_df`` drops shingles occurring in more than ``max_df`` documents
    of a block BEFORE pairing. The hot set is found with a partial-agg
    groupBy (shuffle carries (block, shingle, count) — bytes per shingle)
    and removed from the shingle ARRAYS with a broadcast
    ``array_except`` before the explode, so hot postings never exist at
    all — a window-count formulation would funnel every hot shingle's
    postings through one partition first, which is exactly the skew this
    operator exists to avoid. With a cutoff the semantics are exact
    Jaccard over the df-filtered shingle universe (a shingle in
    thousands of documents is boilerplate, not signal); with
    ``max_df=None`` results are identical to ``ngram_jaccard_pairs``
    whenever ``min_jaccard > 0`` (pairs sharing zero shingles are the
    only delta, and both variants filter them out).

    Plan shape (re-profiled round 5, re-shaped round 14): each posting
    carries its doc's post-filter set size, so |A| and |B| ride THROUGH
    the pair generation and come out of the same aggregate as |A∩B|
    (``min`` over a constant) — the former separate per-doc size
    aggregate re-expanded the whole shingle subtree twice more and added
    two joins onto the pair table. Round 14 (guide §2.4, the
    ``_bucket_pairs`` restructure): WITH a ``max_df`` cutoff, pairs come
    from GROUPING the postings by (block, shingle) and emitting ordered
    pairs from the collected array instead of the postings self-join —
    locally the join planned as BroadcastHashJoin, so the whole
    shingle+hot-filter pipeline was computed once per side (8 scans in
    the explain; now 2: the hot-set count and the postings); every group
    is ≤ ``max_df`` postings by construction, so the per-row pair array
    is bounded, and a null block never pairs (the explicit filter
    mirrors the old join's null-equality semantics). WITHOUT a cutoff a
    shingle's group is unbounded and a grouped pair array would
    materialize C(n, 2) structs in one row, so the self-join shape is
    kept — it emits the identical pairs as streamable rows.
    """
    sets = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        word_shingles(F.col(text_col), n).alias("ng"),
    )
    if max_df:
        hot_lists = (
            sets.select("id", "block", F.explode("ng").alias("sh"))
            .groupBy("block", "sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .groupBy("block")
            .agg(F.collect_list("sh").alias("__hot"))
        )
        sets = sets.join(F.broadcast(hot_lists), "block", "left").select(
            "id", "block",
            F.when(F.col("__hot").isNull(), F.col("ng"))
            .otherwise(F.array_except("ng", "__hot")).alias("ng"),
        )
    postings = sets.select(
        "id", "block", F.size("ng").alias("sz"), F.explode("ng").alias("sh")
    )
    if max_df:
        # hot shingles were removed from the arrays above, so every
        # (block, shingle) group holds <= max_df postings — the grouped
        # generation's per-row pair array is bounded by C(max_df, 2)
        pair_rows = _bucket_pairs(
            postings.filter(F.col("block").isNotNull()),
            ["block", "sh"], None, ["id", "sz"])
        inter = (
            pair_rows
            .groupBy(F.col("id_a"), F.col("id_b"))
            .agg(
                F.count(F.lit(1)).alias("__i"),
                F.min("sz_a").alias("__sza"),
                F.min("sz_b").alias("__szb"),
            )
        )
    else:
        # no df cutoff -> a shingle's group size is unbounded, and a
        # grouped pair ARRAY would materialize C(n, 2) structs in one
        # row (review r14); the self-join emits the same pairs as
        # distributed, streamable rows instead
        a, b = postings.alias("a"), postings.alias("b")
        inter = (
            a.join(b, (F.col("a.block") == F.col("b.block"))
                   & (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(
                F.count(F.lit(1)).alias("__i"),
                F.min("a.sz").alias("__sza"),
                F.min("b.sz").alias("__szb"),
            )
        )
    return (
        inter.select(
            "id_a", "id_b",
            (F.col("__i").cast("double")
             / (F.col("__sza") + F.col("__szb") - F.col("__i")).cast("double")
             ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .orderBy("id_a", "id_b")
    )


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    min_jaccard: float = 0.05,
    max_df: int | None = None,
    switch_block_size: int = 500,
) -> DataFrame:
    """Pick the n-gram Jaccard shape by measured block occupancy.

    One bounded pre-pass (partial-agg groupBy: the shuffle carries
    (block, count) — bytes per block — and the driver fetches a single
    max) decides: blocks all under ``switch_block_size`` → the
    array-intersect quadratic (measured ~1.4× faster on tight blocks);
    any block over it → the inverted index, whose pair work is bounded
    by document frequency instead of block occupancy (83 s → near-linear
    on the 10× raw-corpus sweep, SCALE.md §10). Both shapes return
    identical rows for ``min_jaccard > 0`` when ``max_df`` is None, so
    the choice is a physical-plan decision, not a semantic one. A
    ``max_df`` cutoff CHANGES the semantics (Jaccard over the
    df-filtered shingle universe) and only the inverted shape implements
    it, so setting it forces that shape — auto-selecting the quadratic
    would silently ignore the cutoff and make results depend on the
    day's block occupancy.
    """
    if max_df is not None:
        return ngram_jaccard_pairs_inverted(
            df, text_col, id_col, block_col, n, min_jaccard, max_df
        )
    top = df.groupBy(F.col(block_col)).agg(F.count(F.lit(1)).alias("__bsz")) \
            .agg(F.max("__bsz")).first()[0]
    if top is not None and top > switch_block_size:
        return ngram_jaccard_pairs_inverted(
            df, text_col, id_col, block_col, n, min_jaccard, max_df
        )
    return ngram_jaccard_pairs(df, text_col, id_col, block_col, n, min_jaccard)


# Connected components: ONE algorithm, large-star/small-star (Kiveris et
# al., "Connected Components in MapReduce and Beyond", SoCC 2014), with a
# size-based driver shortcut. Near-dup pair graphs are usually TINY
# relative to the corpus (pairs are the near-duplicates, bounded by
# banding/blocking caps), so the edge list is first probed with
# limit(cap+1): if the whole graph fits under the cap it is labeled on
# the driver with union-find (attach-larger-root-to-smaller, so every
# root IS its component minimum — bit-identical labels to the star
# loop) in O(E α(E)); running distributed rounds of several shuffles
# each over a few hundred edges is pure scheduling overhead.
#
# This is the same fits-in-one-place reasoning as a broadcast join, with
# the same bound discipline: the probe collects at most cap+1 edge rows
# (100k ≈ a few MB — far under spark.driver.maxResultSize), and past the
# cap the probe's partial work is bounded by one early-terminated
# CollectLimit pass over the pair plan.
CC_LOCAL_EDGE_CAP = 100_000

# Round guard of the star loop. It converges in O(log² n) rounds on any
# topology (a 300-node chain takes 10), so reaching 64 means the edge
# set failed to stabilize — an error, never a silently partial labeling.
_CC_MAX_ROUNDS = 64


def _cc_small_graph_labels(pairs: DataFrame, id_a: str,
                           id_b: str) -> DataFrame | None:
    """(id, label) via driver union-find iff the edge list fits under
    ``CC_LOCAL_EDGE_CAP`` rows, else None. Replicates the star loop's exact
    semantics: only ids appearing in ``pairs`` are returned, label =
    min id reachable; a NULL endpoint is a node labeled NULL and never
    merges anything (null join keys match nothing in the loop);
    self-loops carry no connectivity."""
    proj = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    head = proj.limit(CC_LOCAL_EDGE_CAP + 1).collect()
    if len(head) > CC_LOCAL_EDGE_CAP:
        return None
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:    # path compression
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    saw_null = False
    for u, v in head:
        if u is None or v is None:
            saw_null = saw_null or u is None or v is None
            if u is not None:
                nodes.add(u)
            if v is not None:
                nodes.add(v)
            continue
        nodes.add(u)
        nodes.add(v)
        if u == v:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            # larger root attaches under smaller ⇒ every root is its
            # component's minimum, matching the loops' min-label fixpoint
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    rows = [(x, find(x)) for x in nodes]
    if saw_null:
        rows.append((None, None))   # the loops' single (null, null) row
    dtype = proj.schema[0].dataType
    from pyspark.sql.types import StructField, StructType
    schema = StructType([StructField("id", dtype), StructField("label", dtype)])
    return pairs.sparkSession.createDataFrame(rows, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster near-dup pairs into components: (id, label) with label =
    min id reachable. Only ids that appear in ``pairs`` are returned —
    singleton documents never enter the pair graph and survive dedup by
    construction.

    Graphs whose edge list fits under ``CC_LOCAL_EDGE_CAP`` rows are
    labeled on the driver (``_cc_small_graph_labels``); larger ones run
    the distributed large-star/small-star loop (``_star_components``).
    Both produce identical labels.
    """
    local = _cc_small_graph_labels(pairs, id_a, id_b)
    if local is not None:
        return local
    return _star_components(pairs, id_a, id_b)


def _star_components(pairs: DataFrame, id_a: str = "id_a",
                     id_b: str = "id_b") -> DataFrame:
    """Distributed half of ``connected_components``: alternating
    large-star/small-star rounds (Kiveris et al., SoCC 2014). Each round
    reattaches whole neighborhoods to their neighborhood minimum,
    halving depth: O(log² n) rounds on ANY topology, each round two
    groupBy+join passes over the current edge set, whose size never
    grows beyond the input edge count.

      * large-star: every node u sends its strictly-larger neighbors to
        m = min(Γ(u) ∪ {u})  → edges (v, m) for v ∈ Γ(u), v > u;
      * small-star: on big→small oriented edges, every node u reattaches
        its smaller neighbors (and itself) to m = min(Γ≤(u) ∪ {u}).

    Convergence is detected by edge-set stability (count + hash-sum in
    ONE aggregate); a loop that reaches ``_CC_MAX_ROUNDS`` raises.

    Bounded plans: the caller's pairs and every round's edge set are cut
    with an eager localCheckpoint, so each round is planned over a leaf
    of constant size. (The rewrite references the prior plan ~5 times
    per round and Catalyst's tree traversals revisit shared subtrees, so
    an uncut plan's analysis cost is exponential in rounds.) Checkpoint blocks are NOT
    unpersistable through the DataFrame API (RDD-level persist, invisible
    to the CacheManager), so each generation is freed through its RDD
    handle (``_local_checkpoint_tracked``) as soon as the next one is
    materialized. After the final labels are cached and counted the last
    generation and the pairs' checkpoint are freed too: on a local master
    this leaves ZERO checkpoint residue; on a cluster master both stay
    alive as the cached labels' recompute path, under one retained
    release (see ``_eager_final_release_ok``). Exception paths free the
    live checkpoints immediately — nothing is returned, so they can have
    no consumer.
    """
    # ONE evaluation of the caller's pair plan (the union-find probe is
    # the only other): its (u, v) projection is checkpointed and feeds
    # the first round, the ids and the starting signature
    raw, raw_release = _local_checkpoint_tracked(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")))
    ck_release = None

    def _signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    try:
        # the rounds compare big→small, self-loop-free edge sets; the
        # first round reads the raw pairs directly, because self-loops,
        # duplicates and NULL endpoints never reach its large-star output
        # (self-loops carry no connectivity; their ids still get labels
        # via the `ids` union below)
        sig = _signature(
            raw.filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )
        ids = raw.select(F.explode(F.array("u", "v")).alias("id")).distinct()
        edges = raw
        for _ in range(_CC_MAX_ROUNDS):
            sym = edges.union(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            mins = sym.groupBy("u").agg(
                F.least(F.min("v"), F.col("u")).alias("m")
            )
            large = (
                sym.filter(F.col("v") > F.col("u"))
                .join(mins, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct()
            )
            # large output is already big→small oriented (m <= u < v)
            smins = large.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                large.join(smins, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(smins.select("u", F.col("m").alias("v")))
                .filter(F.col("u") != F.col("v"))
                .distinct()
            )
            superseded = ck_release
            edges, ck_release = _local_checkpoint_tracked(small)
            if superseded is not None:
                superseded()
            new_sig = _signature(edges)
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f"connected components did not converge in "
                f"{_CC_MAX_ROUNDS} large-star/small-star rounds"
            )
        children = edges.select(F.col("u").alias("id"), F.col("v").alias("label"))
        roots = ids.join(children, "id", "left_anti").withColumn(
            "label", F.col("id")
        )
        labels = children.union(roots).cache()
        labels.count()
        # labels are now fully materialized in their own (disk-spilling)
        # cache — the last edge generation is dead weight and releasable
        # (eagerly on local; on a cluster master it stays as the cached
        # labels' recompute path until the caller frees it via
        # release_retained_checkpoints()).
        last, first = ck_release, raw_release

        def release() -> None:
            last()
            first()
        if _eager_final_release_ok(labels):
            release()
        else:
            with _RETAINED_LOCK:
                _RETAINED_FINAL_RELEASES.append(release)
        ck_release = raw_release = None
    finally:
        # exception path: nothing is returned, so the live checkpoints
        # have no possible consumer — free them immediately
        for live in (ck_release, raw_release):
            if live is not None:
                live()
    return labels


def dedup_survivors(
    df: DataFrame, pairs: DataFrame, id_col: str,
    id_a: str = "id_a", id_b: str = "id_b",
) -> DataFrame:
    """Keep one row per near-dup cluster (the min id) plus every row not
    in any pair. The standard pairs → components → survivors tail."""
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("label")).select("id")
    return df.join(
        losers, df[id_col] == losers.id, "left_anti"
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    min_cosine: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks (exact)."""
    from building_permissions_etl_spark.functions.vectors import dot, norm

    # Norms are precomputed once per ROW before the self-join, so the
    # per-PAIR work in the O(n²/blocks) loop is one dot product — same
    # float ops and order as sqrt(ΣX²)·sqrt(ΣY²) in the oracle.
    vecs = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= min_cosine)
        .orderBy("id_a", "id_b")
    )


def dedup_survivors_by(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_by,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep the BEST row per near-dup cluster by an explicit ordering —
    the survivor policy real corpus dedup wants (keep the longest /
    highest-quality duplicate), vs ``dedup_survivors``'s min-id rule.

    ``order_by`` is a list of Column expressions over ``df`` (e.g.
    ``[F.col("n_chars").desc()]``); ``id_col`` ascending is always
    appended so ties break deterministically. Rows in no pair are their
    own singleton cluster and always survive.

    Shape: components labels join back onto the corpus (one shuffle on
    id), then ONE window shuffle on the cluster label picks row_number 1
    — partial nothing, but the label space is ≈ corpus-sized with tiny
    partitions, so no skew; a 100 TB corpus pays exactly two exchanges
    beyond the pair generation.
    """
    comp = connected_components(pairs, id_a, id_b).withColumnRenamed(
        "id", "__cc_id")
    labeled = df.join(comp, df[id_col] == F.col("__cc_id"), "left")
    label = F.coalesce(F.col("label"), df[id_col])
    w = Window.partitionBy(label).orderBy(*order_by, F.col(id_col).asc())
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__cc_id", "label", "__rn")
    )


def dedup_incremental_batch(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental (delta-vs-corpus) exact dedup: keep only the batch
    rows whose text is the first occurrence WITHIN the batch (lowest
    id) and absent from the existing corpus — the nightly-ingest shape,
    where the corpus is already deduplicated and only the new delta is
    filtered before appending.

    Scale shape: within-batch first-occurrence is ``dedup_exact``'s
    window keyed on (xxhash64(text), text) — fixed-width 8-byte
    exchange keys, collision-safe because the text rides inside the
    bucket; the corpus probe is a LEFT ANTI join on the same
    (hash, text) pair, so the 100 TB corpus side is column-pruned to
    its text projection and shuffles on the 8-byte hash (AQE picks a
    broadcast when the BATCH side is small enough to invert the build).
    The corpus is scanned once and is never windowed or rewritten —
    cost scales with |delta| + one corpus scan, not with re-deduping
    the union.
    """
    h = F.xxhash64(F.col(text_col))
    firsts = dedup_exact(batch, text_col, id_col)
    seen = corpus.select(h.alias("__h"), F.col(text_col).alias("__t"))
    out = firsts.join(
        seen,
        on=(F.xxhash64(F.col(text_col)) == F.col("__h"))
        & (F.col(text_col) == F.col("__t")),
        how="left_anti",
    )
    return out

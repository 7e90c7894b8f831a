"""Join operators (SURVEY.md §2.3 J1-J6).

Dimension sides are tiny (powiaty ≈ 380 rows; nation = 25) and are always
``broadcast()`` — every join here is broadcast-hash or broadcast-nested-
loop; none shuffles the fact side. The reference expressed J2/J3 as pandas
left/right merges followed by null-probes (helpers:573-633); the direct
relational forms are semi/anti joins.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from building_permissions_etl_spark.functions.expr import sql_ident
from building_permissions_etl_spark.functions.text import ci_contains


def outer_merge_zero_fill(dfs: list[DataFrame], key: str) -> DataFrame:
    """J1: n-way full-outer equi-join on ``key``; missing counts → 0, int
    (helpers:535-553). The reference's NaN→float→int round-trip is replaced
    by ``na.fill(0)`` on never-float longs."""
    merged = reduce(lambda a, b: a.join(b, on=key, how="full_outer"), dfs)
    count_cols = [c for c in merged.columns if c != key]
    return merged.na.fill(0, subset=count_cols)


def keep_known_keys(fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str) -> DataFrame:
    """J2/J4: drop fact rows whose key has no dim match — one broadcast
    left-semi join instead of left-join + null-probe + isin (helpers:573-587)."""
    return fact.join(
        F.broadcast(dim.select(dim_key)),
        fact[fact_key] == dim[dim_key],
        "left_semi",
    )


def unknown_keys(fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str) -> DataFrame:
    """The ``false_records`` side of J2 (helpers:578-583): fact keys ∉ dim."""
    return fact.join(
        F.broadcast(dim.select(dim_key)),
        fact[fact_key] == dim[dim_key],
        "left_anti",
    )


def complete_dim_keys(
    agg: DataFrame,
    dim: DataFrame,
    agg_key: str,
    dim_key: str,
    fill_values: dict[str, Column],
) -> DataFrame:
    """J3+U1: append zero rows for dim keys absent from the aggregate
    (counties with no permits, helpers:589-633).

    ``fill_values`` supplies non-count constants (e.g. injection_date);
    every other aggregate column is filled with 0. Output key set ==
    dim key set, constructively (SURVEY.md §5 item 3).
    """
    missing = dim.select(F.col(dim_key).alias(agg_key)).join(
        agg.select(agg_key), on=agg_key, how="left_anti"
    )
    zero_cols = []
    for c in agg.columns:
        if c == agg_key:
            continue
        if c in fill_values:
            zero_cols.append(fill_values[c].alias(c))
        else:
            zero_cols.append(F.lit(0).cast(dict(agg.dtypes)[c]).alias(c))
    zeros = missing.select(F.col(agg_key), *zero_cols)
    return agg.unionByName(zeros)


def complete_via_left_join(
    agg: DataFrame,
    dim: DataFrame,
    agg_key: str,
    dim_key: str,
    fill_values: dict[str, str],
) -> DataFrame:
    """J2+J3+U1 fused into ONE join: ``dim LEFT JOIN agg`` yields exactly
    the dim key set (the semi-join restriction and the zero-row completion
    at once), with absent counts coalesced to 0.

    Semantically equal to ``keep_known_keys`` → ``complete_dim_keys`` but
    evaluates the aggregate subtree ONCE — the union form references
    ``agg`` twice (once directly, once under the anti-join), and Spark
    duplicates the whole upstream plan unless it is cached. At 100 TB that
    is a second full scan+shuffle; this shape is the one to run.

    ``fill_values`` maps a column to its filler as a SQL literal (e.g.
    ``sql_str(date)``); every other column is filled with 0. The schema is
    read once and the coalesce/cast list is ONE ``selectExpr``: a wide
    aggregate costs one py4j round trip per column (the list transfer),
    not a ``dtypes`` re-read and several ``F.*`` calls per column.
    """
    out = dim.select(F.col(dim_key).alias(agg_key)).join(agg, on=agg_key, how="left")
    return out.selectExpr(sql_ident(agg_key), *[
        f"CAST(coalesce({sql_ident(c)}, {fill_values.get(c, '0')}) AS {t})"
        f" AS {sql_ident(c)}"
        for c, t in agg.dtypes if c != agg_key
    ])


def fuzzy_first_match(
    left: DataFrame,
    dim: DataFrame,
    left_text: str,
    dim_text: str,
    dim_key: str,
    row_id: str,
) -> DataFrame:
    """J5: fuzzy theta-join — left ``text`` substring-matched case-
    insensitively inside dim names; first match wins (helpers:271-280).

    The reference's ``iloc[0]`` pick is file-order-dependent; we pin a
    deterministic first match by ordering on ``dim_key`` (SURVEY.md §2.5 —
    the engine's one required Window primitive). Broadcast-nested-loop on a
    tiny dim: the fact side stays un-shuffled.
    """
    matched = left.join(
        F.broadcast(dim.select(dim_key, dim_text)),
        ci_contains(F.col(dim_text), F.col(left_text)),
        "left",
    )
    w = Window.partitionBy(row_id).orderBy(F.col(dim_key).asc_nulls_last())
    return (
        matched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", dim_text)
    )


def dim_summary_left_join(dim: DataFrame, summary: DataFrame, key: str) -> DataFrame:
    """J6: dim left-join summary counts, missing → 0 (nb:21/23/25)."""
    out = dim.join(summary, on=key, how="left")
    count_cols = [c for c in summary.columns if c != key]
    return out.na.fill(0, subset=count_cols)


def interval_overlap_join(
    facts: DataFrame,
    intervals: DataFrame,
    f_start: str,
    f_end: str,
    i_start: str,
    i_end: str,
    how: str = "inner",
) -> DataFrame:
    """Interval×interval OVERLAP join: pair a fact row with every
    interval it intersects under half-open semantics
    (``f_start < i_end AND i_start < f_end``) — campaign attribution,
    maintenance-window exclusion, release-exposure tagging. Distinct
    from the point-in-interval shape (``scd.point_in_time_join``): both
    sides carry an extent, and one fact may legitimately match several
    intervals.

    Scale shape: ``intervals`` is dim-sized by contract (campaigns,
    windows, releases — never a second fact table) and is broadcast, so
    the fact side streams ONCE with no shuffle; the non-equi predicate
    makes this a BroadcastNestedLoopJoin carrying a BroadcastExchange —
    the declared tiny-side pattern, bounded by |intervals| work per fact
    row. For two fact-sized interval sets, bucketize both sides to
    coarse time buckets, equi-join on the bucket, and re-check the
    exact predicate instead. ``how``: 'inner', or 'right' to keep
    zero-overlap intervals (aggregation reports usually want every
    campaign row). Column names must be disjoint (checked) — a silent
    duplicate would break downstream by-name selection.
    """
    if how not in ("inner", "right"):
        raise ValueError(f"how must be 'inner' or 'right', got {how!r}")
    clash = sorted(set(facts.columns) & set(intervals.columns))
    if clash:
        raise ValueError(
            f"fact and interval columns collide on {clash}; rename before "
            f"joining"
        )
    cond = (
        (F.col(f"f.{f_start}") < F.col(f"i.{i_end}"))
        & (F.col(f"i.{i_start}") < F.col(f"f.{f_end}"))
    )
    joined = facts.alias("f").join(
        F.broadcast(intervals.alias("i")), on=cond,
        how="inner" if how == "inner" else "right_outer",
    )
    return joined.select(
        *[F.col(f"i.{c}") for c in intervals.columns],
        *[F.col(f"f.{c}") for c in facts.columns],
    )


def bucketized_interval_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width: int,
) -> DataFrame:
    """Interval×interval overlap join for TWO FACT-SIZED sides — the
    scale path ``interval_overlap_join`` names: neither side broadcasts,
    so a nested-loop is off the table. Both sides explode to the coarse
    time buckets their interval covers, candidates come from an
    EQUI-join on the bucket id (a plain shuffled hash join that scales
    like any other), and the exact half-open predicate
    (``l_start < r_end AND r_start < l_end``) re-checks in place.

    A pair overlapping several buckets would duplicate; instead of a
    distinct over the output, each pair is emitted ONLY in the bucket
    containing ``greatest(l_start, r_start)`` — an overlapping pair's
    later start lies in exactly one covered-by-both bucket, so the join
    is duplicate-free by construction with no extra exchange.

    Interval columns must be NUMERIC (epoch seconds/micros, day
    numbers) with ``end > start`` (half-open; empty/inverted intervals
    are dropped). ``bucket_width`` trades explode factor (an interval
    covers ``len/width + 1`` buckets) against bucket occupancy (pair
    work within a bucket) — pick it near the typical interval length.
    At 100 TB this is the standard spatial/temporal bin join: shuffle
    volume is rows × covered-buckets, never rows².
    """
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    clash = sorted(set(left.columns) & set(right.columns))
    if clash:
        raise ValueError(
            f"left and right columns collide on {clash}; rename before "
            f"joining"
        )
    w = F.lit(int(bucket_width))

    def buckets(df, s, e):
        return df.filter(F.col(e) > F.col(s)).withColumn(
            "__bkt",
            F.explode(F.sequence(
                F.floor(F.col(s) / w), F.floor((F.col(e) - 1) / w)
            )),
        )

    lb = buckets(left, l_start, l_end).alias("l")
    rb = buckets(right, r_start, r_end).alias("r")
    ls, le = F.col(f"l.{l_start}"), F.col(f"l.{l_end}")
    rs, re_ = F.col(f"r.{r_start}"), F.col(f"r.{r_end}")
    cond = (
        (F.col("l.__bkt") == F.col("r.__bkt"))
        & (ls < re_) & (rs < le)
        & (F.floor(F.greatest(ls, rs) / w) == F.col("l.__bkt"))
    )
    return lb.join(rb, on=cond, how="inner").select(
        *[F.col(f"l.{c}") for c in left.columns],
        *[F.col(f"r.{c}") for c in right.columns],
    )


def blocked_levenshtein_match(
    dirty: DataFrame,
    clean: DataFrame,
    dirty_name: str,
    clean_name: str,
    block_col: str = "block",
    max_dist: int = 4,
) -> DataFrame:
    """Entity resolution by blocked fuzzy matching: candidate pairs come
    ONLY from an equi-join on a caller-supplied blocking key (both
    inputs must already carry ``block_col``); within a block, a pair
    matches when the Levenshtein edit distance between the name columns
    is ≤ ``max_dist``. Returns every dirty row's columns plus the
    matched clean name and ``lev`` distance (one row per surviving
    candidate pair — callers pick a survivor policy downstream).

    This is the standard scale shape for fuzzy entity matching: the
    quadratic distance computation is confined to within-block
    candidates (the blocking key bounds block size the way LSH bands
    bound bucket size in the dedup family) and the join itself is a
    plain equi-join — shuffle or broadcast by planner choice, never a
    cross product. Edit distance is exactly specified, so both engines
    agree bit-for-bit on every pair.
    """
    c = clean.select(
        F.col(block_col).alias("__cb"),
        F.col(clean_name).alias("matched_name"),
    )
    lev = F.levenshtein(F.col(dirty_name), F.col("matched_name"))
    return (
        dirty.join(c, dirty[block_col] == c["__cb"])
        .withColumn("lev", lev)
        .filter(F.col("lev") <= max_dist)
        .drop("__cb")
    )

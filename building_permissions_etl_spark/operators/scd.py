"""Slowly-changing-dimension maintenance: SCD1 (overwrite) and SCD2
(versioned history) upserts, expressed as pure DataFrame set algebra.

The reference's sink surface stops at append + two-way schema evolution
(`sources/sinks.py`; reference dags/aggregates_python_helpers.py write
path); a warehouse user of the same engine also needs MERGE semantics
for dimension tables. Spark has no MERGE on plain parquet, so both
operators compute the post-merge STATE as a DataFrame — the caller
writes it back with the partitioned sink (overwrite), which is also the
only transactional choice on immutable files.

Scale shape: the update batch is almost always dims-sized (≪ fact) —
both operators take it as a separate frame (SCD1 broadcasts it; SCD2
needs a full outer join, which Spark cannot broadcast, and shuffles on
the key); the current table is scanned ONCE; change detection is a null-safe
column comparison (eqNullSafe), never a row-serialized hash. With a
table-format sink (Iceberg/Delta) the same frames feed MERGE INTO
directly; the state computation here is the engine-portable core.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _any_tracked_differs(tracked: Sequence[str]) -> Column:
    """True when any tracked attribute changed, null-safely: NULL→value
    and value→NULL are changes; NULL→NULL is not."""
    cond = F.lit(False)
    for c in tracked:
        cond = cond | ~F.col(f"cur.{c}").eqNullSafe(F.col(f"upd.{c}"))
    return cond


def _reject_duplicate_keys(updates: DataFrame, key: str) -> None:
    """MERGE semantics: a batch with two rows for one key is ambiguous —
    the merge join would silently multiply the matched dimension rows and
    the caller's overwrite would persist the corruption. One bounded
    action per merge call (the batch is dims-sized by contract)."""
    dup = (updates.groupBy(key).count().filter(F.col("count") > 1)
           .limit(1).collect())
    if dup:
        raise ValueError(
            f"update batch has duplicate {key!r} (e.g. {dup[0][key]!r}); "
            f"a merge source must have at most one row per key"
        )


def scd1_upsert(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: Sequence[str],
) -> DataFrame:
    """Type-1 merge: matched rows take the update's tracked attributes
    (history overwritten), unmatched update keys are inserted, rows
    absent from the batch are kept unchanged.

    Columns of ``current`` define the output schema; ``updates`` must
    carry ``key`` + ``tracked`` and at most one row per key (validated —
    duplicates would silently multiply matched rows).
    """
    upd = updates.select(key, *tracked)
    _reject_duplicate_keys(upd, key)
    out_cols = current.columns
    # Membership is a dedicated flag, not coalesce(): an update that
    # legitimately sets a tracked attribute to NULL must win.
    in_batch = F.coalesce(F.col("__in_batch"), F.lit(False))
    merged = (
        current.alias("cur")
        .join(F.broadcast(upd.withColumn("__in_batch", F.lit(True)))
              .alias("upd"), on=key, how="left")
        .select(
            F.col(key),
            *[
                (F.when(in_batch, F.col(f"upd.{c}"))
                 .otherwise(F.col(f"cur.{c}"))
                 if c in tracked else F.col(f"cur.{c}")).alias(c)
                for c in out_cols if c != key
            ],
        )
    )
    inserts = (
        upd.alias("upd")
        .join(current.select(key), on=key, how="left_anti")
        .select(
            F.col(key),
            *[
                (F.col(c) if c in tracked else F.lit(None)).alias(c)
                for c in out_cols if c != key
            ],
        )
    )
    return merged.unionByName(inserts)


def scd2_upsert(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: Sequence[str],
    effective_ts,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Type-2 merge: changed keys close their open version
    (``valid_to = effective_ts``) and open a new one; new keys insert an
    open version; unchanged and already-closed rows pass through.

    ``current`` must carry ``key``, the attributes, and the
    ``valid_from`` / ``valid_to`` columns (open = NULL ``valid_to``);
    ``updates`` carries ``key`` + ``tracked``. ``effective_ts`` is a
    literal (string/timestamp) — one batch has ONE effective time, which
    is what makes the merge deterministic and retry-safe.

    A key whose versions are ALL closed (logically deleted) re-activates
    like a brand-new key: the update opens a fresh version with the
    batch's tracked attributes (non-tracked NULL) — it is NOT silently
    dropped. The batch must have at most one row per key (validated).

    One scan of ``current`` and one join, with no union legs: every
    output row comes from one ``inline`` over the joined rows. The join
    is a shuffle on the key, so the output has the session's
    (AQE-coalesced) shuffle partition count, and applying the merge to
    its own output does not multiply partitions.
    """
    upd = updates.select(key, *tracked)
    _reject_duplicate_keys(upd, key)
    vf_type = dict(current.dtypes)[valid_from]
    eff = F.lit(effective_ts).cast(vf_type)
    # Validate the literal DRIVER-SIDE before building the plan: in a
    # non-ANSI session an unparseable timestamp string casts to NULL
    # silently, which would close old versions with valid_to = NULL and
    # leave the key with two open versions. A malformed effective_ts
    # must fail loudly regardless of session ANSI mode.
    if effective_ts is None:
        raise ValueError("effective_ts must not be None")
    import datetime as _dt
    if (isinstance(effective_ts, (_dt.datetime, _dt.date))
            and vf_type in ("date", "timestamp", "timestamp_ntz")):
        pass  # temporal literal → temporal column always casts; no probe
    else:
        # A temporal literal against a NON-temporal valid_from (e.g.
        # bigint epoch) casts to NULL silently in a non-ANSI session —
        # exactly the two-open-versions corruption the probe exists to
        # catch — so only the temporal→temporal pairing skips it.
        try:
            probe = current.sparkSession.range(1).select(eff.alias("v")).first()
        except Exception as ex:  # ANSI session: the bad cast throws instead
            # Distinguish "the literal doesn't cast" from an unrelated
            # execution failure (py4j/session/network): re-run the SAME
            # probe with a literal known to cast to every supported
            # valid_from type. If that also fails, the environment is
            # broken — surface the original error unmasked.
            try:
                current.sparkSession.range(1).select(
                    F.lit(None).cast(vf_type).alias("v")
                ).first()
            except Exception:
                raise ex from None
            raise ValueError(
                f"effective_ts {effective_ts!r} does not cast to the "
                f"{valid_from} column type {vf_type!r}: {ex}"
            ) from ex
        if probe["v"] is None:
            raise ValueError(
                f"effective_ts {effective_ts!r} does not cast to the "
                f"{valid_from} column type {vf_type!r} (cast yields NULL)"
            )
    attr_cols = [c for c in current.columns
                 if c not in (key, valid_from, valid_to)]

    # ONE full outer join of the whole table with the batch, matching
    # only OPEN versions (a closed-only key re-activates like a new key):
    # closed and untouched open rows come out with no batch side, batch
    # keys with no open version come out with no current side. Batch
    # membership is a dedicated flag column, not attribute-null probing
    # — tracked attributes may legitimately be NULL.
    joined = current.withColumn("__in_cur", F.lit(True)).alias("cur").join(
        upd.withColumn("__in_batch", F.lit(True)).alias("upd"),
        (F.col(f"cur.{key}") == F.col(f"upd.{key}"))
        & F.col(f"cur.{valid_to}").isNull(),
        "full_outer",
    )
    in_cur = F.col("__in_cur").isNotNull()
    changed = in_cur & F.col("__in_batch").isNotNull() & _any_tracked_differs(tracked)

    def version(attrs, vf: Column, vt: Column) -> Column:
        return F.struct(
            F.when(in_cur, F.col(f"cur.{key}"))
            .otherwise(F.col(f"upd.{key}")).alias(key),
            *[a.alias(c) for a, c in zip(attrs, attr_cols)],
            vf.alias(valid_from), vt.alias(valid_to),
        )

    old_attrs = [F.col(f"cur.{c}") for c in attr_cols]
    kept = version(old_attrs, F.col(f"cur.{valid_from}"), F.col(f"cur.{valid_to}"))
    closed = version(old_attrs, F.col(f"cur.{valid_from}"), eff)
    # a brand-new key has no current side, so its non-tracked columns
    # read NULL here, as for any fresh insert
    opened = version(
        [F.col(f"upd.{c}") if c in tracked else F.col(f"cur.{c}")
         for c in attr_cols],
        eff, F.lit(None).cast(dict(current.dtypes)[valid_to]),
    )
    # one or two output rows per joined row: the closed old and the
    # opened new version for a changed key, a fresh version for a new
    # key, the row itself otherwise
    return joined.select(F.inline(
        F.when(~in_cur, F.array(opened))
        .when(changed, F.array(closed, opened))
        .otherwise(F.array(kept))
    ))


def point_in_time_join(
    facts: DataFrame,
    dim_versions: DataFrame,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
    dim_prefix: str = "",
) -> DataFrame:
    """Point-in-time (temporal) join: each fact row picks the ONE dim
    version whose validity interval covers the fact's timestamp
    (``valid_from <= ts < valid_to``, open version = NULL ``valid_to``)
    — how every fact table reads an SCD2 dimension.

    Non-key dim columns surface under their own names, optionally
    prefixed with ``dim_prefix``; a collision with a fact column name
    raises up front (a silent duplicate column would break every
    downstream by-name selection) — pass a prefix to disambiguate.
    A malformed history with OVERLAPPING versions per key would multiply
    fact rows; run ``validate_scd2_history`` on dims of uncertain
    provenance (``scd2_upsert`` output is valid by construction).

    Scale shape: ONE broadcast left-outer join with the interval test in
    the join condition — the equi-key carries the hash lookup (broadcast
    when the dim is dim-sized: versions multiply a dimension by a small
    factor, so it stays broadcastable at 100 TB facts), the window
    predicate filters the handful of versions per key in place. Never a
    theta-join, never a per-fact sort, no second pass for misses. A
    well-formed SCD2 history has non-overlapping intervals per key, so
    at most one version matches and fact grain is preserved; facts dated
    before the key's first version (or with no dim key at all) surface
    with NULL dim columns under ``how='left'``.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    dim_cols = [c for c in dim_versions.columns if c != key]
    out_names = {c: f"{dim_prefix}{c}" for c in dim_cols}
    clash = sorted(set(out_names.values()) & set(facts.columns))
    if clash:
        raise ValueError(
            f"dim columns {clash} collide with fact columns; pass "
            f"dim_prefix= to disambiguate"
        )
    ts = F.col(f"f.{ts_col}")
    cond = (
        (F.col(f"f.{key}") == F.col(f"d.{key}"))
        & (ts >= F.col(f"d.{valid_from}"))
        & (F.col(f"d.{valid_to}").isNull() | (ts < F.col(f"d.{valid_to}")))
    )
    return (
        facts.alias("f")
        .join(F.broadcast(dim_versions.alias("d")), on=cond, how=how)
        .select("f.*", *[F.col(f"d.{c}").alias(out_names[c]) for c in dim_cols])
    )


def validate_scd2_history(
    df: DataFrame,
    key: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    check_gaps: bool = False,
) -> DataFrame:
    """Structural validity check for an SCD2 history — the guard
    ``point_in_time_join`` assumes: per key, versions must tile the
    timeline without overlap and with at most one (final) open version.
    Returns the VIOLATIONS as ``(key, valid_from, valid_to, violation)``
    rows — empty result = valid history. Violation kinds:

      * ``null_valid_from`` — a version with no start;
      * ``non_positive_interval`` — ``valid_to <= valid_from`` (a
        zero-length or inverted version can never match a fact, and
        usually signals a same-timestamp double-merge);
      * ``open_not_last`` — an open version (NULL ``valid_to``) that has
        a successor; covers the two-open-versions corruption, which is
        exactly what a PIT join would fan out on;
      * ``overlap`` — the next version starts before this one ends
        (``lead(valid_from) < valid_to``): a fact dated in the overlap
        matches BOTH versions and silently duplicates;
      * ``gap`` (only with ``check_gaps=True``) — the next version
        starts after this one ends. Gaps are LEGAL in this module's
        contract (``scd2_upsert`` re-activation of a deleted key leaves
        one), so they are opt-in diagnostics, not errors.

    One window pass per key (sorted by ``valid_from`` NULLS FIRST, then
    ``valid_to`` NULLS LAST so open versions order after closed ones
    starting at the same instant); each row emits zero or more
    violations via exploding a fixed-width check array with NULL slots
    filtered after the explode — no self-join, no second shuffle. At
    100 TB dim scale this is one exchange on the dim key. (The interval
    columns are selected BY NAME, never re-aliased to themselves: a
    self-alias here trips a Catalyst RemoveRedundantAliases
    plan-validation bug when ``df`` is a union of aliased projections,
    e.g. ``scd2_upsert`` output.)
    """
    vf, vt = F.col(valid_from), F.col(valid_to)
    w = Window.partitionBy(key).orderBy(
        vf.asc_nulls_first(), vt.asc_nulls_last()
    )
    nxt_vf = F.lead(vf).over(w)
    has_next = F.lead(F.lit(1)).over(w).isNotNull()
    checks = [
        F.when(vf.isNull(), F.lit("null_valid_from")),
        F.when(vf.isNotNull() & vt.isNotNull() & (vt <= vf),
               F.lit("non_positive_interval")),
        F.when(vt.isNull() & has_next, F.lit("open_not_last")),
        F.when(vt.isNotNull() & (nxt_vf < vt), F.lit("overlap")),
    ]
    if check_gaps:
        checks.append(F.when(vt.isNotNull() & (nxt_vf > vt), F.lit("gap")))
    flagged = df.select(
        key, valid_from, valid_to, F.array(*checks).alias("__v"),
    )
    return flagged.select(
        key, valid_from, valid_to,
        F.explode(F.col("__v")).alias("violation"),
    ).filter(F.col("violation").isNotNull())


def assert_valid_scd2_history(
    df: DataFrame,
    key: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> None:
    """Raise ``ValueError`` with a sample of violations when ``df`` is
    not a structurally valid SCD2 history (one bounded action; see
    ``validate_scd2_history`` for the rules — gaps are legal)."""
    bad = validate_scd2_history(df, key, valid_from, valid_to) \
        .limit(5).collect()
    if bad:
        raise ValueError(
            "malformed SCD2 history: "
            + "; ".join(
                f"{r['violation']} at {key}={r[key]!r} "
                f"[{r[valid_from]}, {r[valid_to]})" for r in bad
            )
        )


def compact_changelog(
    log: DataFrame,
    key: str,
    ts_col: str,
    op_col: str = "op",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Compact a CDC changelog (I/U/D rows) to the latest snapshot: one
    row per key carrying its most recent non-delete payload; a key whose
    latest op is a delete is a tombstone and drops out — the batch
    compaction every changelog-fed table (Debezium/Kafka → warehouse)
    runs.

    Latest = max ``ts_col`` per key, ties broken by ``tiebreak`` columns
    descending (pass the changelog's sequence/offset column to make
    compaction deterministic when one timestamp carries several ops).
    One window shuffle on the key; nothing else. At 100 TB this is the
    standard pattern in front of a MERGE: compact the log first so the
    merge sees one row per key.

    A NULL ``op_col`` is malformed input and raises AT EXECUTION TIME
    (``raise_error`` inside the keep predicate — no extra validation
    action): a bare ``op != 'D'`` filter would evaluate to NULL and
    silently tombstone the key like a delete, which is the one mistake a
    CDC compactor must never make.
    """
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(key).orderBy(*order)
    keep = F.when(
        F.col(op_col).isNull(),
        F.raise_error(F.concat(
            F.lit(f"compact_changelog: NULL {op_col!r} for key "),
            F.col(key).cast("string"),
            F.lit(" — changelog rows must carry an I/U/D op"),
        )),
    ).otherwise(F.col(op_col) != F.lit("D"))
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & keep)
        .drop("__rn", op_col)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: Sequence[str],
) -> DataFrame:
    """Classify every key across two snapshots of the same table:
    ``added`` (key only in the new snapshot), ``removed`` (only in the
    old), ``changed`` (present in both with any compared attribute
    differing null-safely), ``unchanged`` — the table-diff every
    reconciliation / CDC-backfill job starts from, and the complement
    of the SCD merges (those APPLY a known delta; this RECOVERS the
    delta from two full states).

    Returns ``(key, change_type)`` — one row per key on either side.
    One full-outer shuffle join on the key; change detection is the
    same null-safe column comparison ``scd2_upsert`` uses (NULL→value
    and value→NULL are changes, NULL→NULL is not). Neither snapshot is
    assumed dim-sized: at 100 TB this is a co-partitioned fact join,
    and the output is keys + a tag, never the payload.
    """
    o = old.select(key, *compare_cols).alias("cur") \
        .withColumn("__in_old", F.lit(True))
    n = new.select(key, *compare_cols).alias("upd") \
        .withColumn("__in_new", F.lit(True))
    joined = o.join(n, on=key, how="full_outer")
    in_old = F.coalesce(F.col("__in_old"), F.lit(False))
    in_new = F.coalesce(F.col("__in_new"), F.lit(False))
    change = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(_any_tracked_differs(compare_cols), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(F.col(key), change.alias("change_type"))

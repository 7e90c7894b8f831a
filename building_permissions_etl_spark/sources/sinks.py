"""Warehouse sinks (SURVEY.md §2.1 S4-S6, S13; §7 M5).

The reference's BigQuery sink semantics, on parquet:

  * S4  — create-if-absent with monthly time partitioning + clustering
          on terc (helpers:711-736) → ``partitionBy(month)`` +
          ``sortWithinPartitions`` (the OSS analog of BQ clustering:
          row-group locality → parquet min/max data skipping);
  * S5  — batched append (helpers:129-169) → a single distributed
          ``mode("append")`` write; 10k-row batching is a pandas artifact;
  * S6  — existence/non-empty probe (helpers:89-96) → parquet footers
          read on the driver: no Spark job, and the same footer gives the
          table's schema, so reads skip the schema-inference job too;
  * S13 — two-way schema evolution for the aggregate table
          (helpers:384-408): DataFrame columns missing from the sink are
          backfilled as 0 on historic rows, sink columns missing from the
          DataFrame are added as 0 — read-modify-write on parquet (the
          Delta-flavored deployment would use mergeSchema + UPDATE): the
          merged table is written once to a staging directory and
          committed with two renames, so the live table is never deleted
          before its replacement is complete;
  * idempotent month overwrite — dynamic partition overwrite replaces the
          reference's blind append, which double-counts on Airflow
          re-runs (documented deliberate deviation, SURVEY.md §7 M5).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_json_string

from building_permissions_etl_spark.functions.expr import sql_ident

MONTH_COL = "month"
_SPARK_PARQUET = "org.apache.spark.sql.execution.datasources.parquet"


def write_fact_partitioned(
    df: DataFrame,
    path: str,
    event_time_col: str,
    cluster_col: str,
    mode: str = "append",
    overwrite_partitions: bool = False,
) -> None:
    """S4: derive the month partition from the event time, cluster rows
    within each partition file by ``cluster_col``. With
    ``overwrite_partitions`` the write only replaces the months present
    in ``df`` (idempotent re-runs for a logical date)."""
    out = df.withColumn(
        MONTH_COL, F.date_format(F.date_trunc("month", F.col(event_time_col)), "yyyy-MM")
    ).sortWithinPartitions(cluster_col)
    writer = out.write.partitionBy(MONTH_COL)
    if overwrite_partitions:
        writer = writer.option("partitionOverwriteMode", "dynamic").mode("overwrite")
    else:
        writer = writer.mode(mode)
    writer.parquet(path)


def table_exists_nonempty(spark: SparkSession, path: str) -> bool:
    """S6 (helpers:89-96): EXISTS(SELECT 1 ... LIMIT 1) analog, answered
    from parquet footers on the driver (``_table_footer``), not by a job.

    Only an absent path, a directory without data files or a table of
    zero rows is "empty"; any other failure — a corrupt file, a transient
    read error — raises, because answering False would turn it into a
    full reload or an overwrite."""
    found = _table_footer(spark, path)
    return found is not None and found[1] > 0


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job: the
    schema comes from one data file's footer, read on the driver and
    converted as Spark's inference converts it (partition columns are
    still discovered from the directory names). A column missing from
    the table therefore stays an analysis error. A path without any data
    file is left to Spark's reader, which raises as it always has."""
    return _read_with_footer(spark, path, _table_footer(spark, path))


def _read_with_footer(spark: SparkSession, path: str, found) -> DataFrame:
    """``read_parquet_table`` given ``path``'s ``_table_footer`` result."""
    if found is None:
        return spark.read.parquet(path)
    converter = _jclass(spark, f"{_SPARK_PARQUET}.ParquetToSparkSchemaConverter")(
        spark._jsparkSession.sessionState().conf())
    schema = _jclass(spark, f"{_SPARK_PARQUET}.ParquetFileFormat").readSchemaFromFooter(
        found[0], converter)
    return spark.read.schema(_parse_datatype_json_string(schema.json())).parquet(path)


def _table_footer(spark: SparkSession, path: str):
    """(parquet ``Footer``, row count) of the first data file under
    ``path`` that holds rows — or of the last data file, if none does —
    read on the driver; None for an absent path or one without data
    files.

    Files are listed through the path's own Hadoop ``FileSystem`` — a
    driver-local ``os.path.exists`` would be False for EVERY distributed
    path (s3a://, hdfs://). Entries named ``_*`` or ``.*`` are skipped,
    as Spark's file index skips them (metadata, uncommitted output).
    Each footer is read once, row groups included, and gives both the
    schema and the row count. A footer that cannot be read is read
    again through Spark's own footer reader, which raises it as
    CANNOT_READ_FILE_FOOTER."""
    fs, hpath = _filesystem(spark, path)
    root = hpath(path)
    if not fs.exists(root):
        return None
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    visible = _jclass(spark, "org.apache.hadoop.fs.GlobFilter")("[!_.]*")
    read_footer = _jclass(spark, f"{_SPARK_PARQUET}.ParquetFooterReader").readFooter
    no_filter = _jclass(spark, "org.apache.parquet.format.converter.ParquetMetadataConverter"
                        ).NO_FILTER
    found = None
    for st in _data_files(fs, root, visible):
        try:
            meta = read_footer(
                _jclass(spark, "org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(
                    st, conf), no_filter)
        except Py4JJavaError:
            one = _jclass(spark, "java.util.List").of(st)
            one = _jclass(spark, "scala.jdk.javaapi.CollectionConverters").asScala(one).toSeq()
            getattr(_jclass(spark, f"{_SPARK_PARQUET}.ParquetFileFormat$"), "MODULE$"
                    ).readParquetFootersInParallel(conf, one, False)
            raise
        blocks = meta.getBlocks()
        found = (_jclass(spark, "org.apache.parquet.hadoop.Footer")(st.getPath(), meta),
                 sum(blocks.get(i).getRowCount() for i in range(blocks.size())))
        if found[1]:
            break
    return found


def _data_files(fs, p, visible):
    """Files under ``p`` whose names pass ``visible``, depth-first and
    lazily (a file path lists as itself)."""
    for st in fs.listStatus(p, visible):
        if st.isDirectory():
            yield from _data_files(fs, st.getPath(), visible)
        else:
            yield st


def append_with_schema_evolution(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
) -> None:
    """S13 (helpers:384-408): two-way column reconciliation, then append.

    * columns in the sink but not in ``df`` → added to ``df`` as 0
      (helpers:388-391);
    * columns in ``df`` but not in the sink → historic rows backfilled
      with 0, mirroring BQ schema-append + ``UPDATE ... SET c=0 WHERE c
      IS NULL`` (helpers:393-408). Plain parquet has no in-place UPDATE,
      so the table is rewritten once when the schema grows — the Delta
      deployment replaces this with mergeSchema + UPDATE.

    The rewrite is written once, to ``<path>.__evolving__``, and
    committed by two renames: live → ``<path>.__previous__``, then
    staging → live; only then is ``__previous__`` deleted. Only a crash
    inside that commit leaves ``__previous__`` behind — between the two
    renames it is the only complete copy of the table — so its presence
    makes every later call raise and delete nothing.

    Count columns are whatever isn't a key column; they are always
    integer-typed zeros, per the reference's INTEGER schema fields.
    ``key_cols`` are the columns that may NEVER be reconciled by
    zero-fill: a key absent from either side is schema corruption, not
    evolution, and raises instead of silently materializing '0' keys.
    Each side's schema is read once and reconciled with one projection:
    sink columns in sink order, then the new columns in ``df`` order.
    """
    live = path.rstrip("/")
    staging, previous = live + ".__evolving__", live + ".__previous__"
    fs, hpath = _filesystem(spark, live)
    if fs.exists(hpath(previous)):
        raise RuntimeError(
            f"{previous} exists: a schema-growth commit of {live} was "
            f"interrupted, so {previous} may hold the only complete copy of "
            f"the table; restore or remove it by hand before writing")

    # one listing and footer read answers both the probe (S6) and the
    # sink's schema
    found = _table_footer(spark, path)
    if found is None or not found[1]:
        df.write.mode("overwrite").parquet(path)
        return

    existing = _read_with_footer(spark, path, found)
    df_types, sink_types = dict(df.dtypes), dict(existing.dtypes)
    missing_keys = [k for k in key_cols
                    if k not in df_types or k not in sink_types]
    if missing_keys:
        raise ValueError(
            f"key column(s) {missing_keys} absent from "
            f"{'input' if missing_keys[0] not in df_types else 'sink'} — "
            f"refusing to zero-fill identity columns"
        )
    sink_missing = [c for c in df_types if c not in sink_types]
    types = {**sink_types, **df_types}

    def reconcile(side: DataFrame, have: dict[str, str]) -> DataFrame:
        return side.selectExpr(*[
            sql_ident(c) if c in have else f"CAST(0 AS {types[c]}) AS {sql_ident(c)}"
            for c in [*sink_types, *sink_missing]
        ])

    if sink_missing:
        # parquet can't append new columns in place: write the merged
        # table beside the live one, then swap it in
        merged = reconcile(existing, sink_types).unionByName(reconcile(df, df_types))
        merged.write.mode("overwrite").parquet(staging)
        for src, dst in ((live, previous), (staging, live)):
            if not fs.rename(hpath(src), hpath(dst)):
                raise OSError(f"could not rename {src} to {dst}")
        fs.delete(hpath(previous), True)
    else:
        reconcile(df, df_types).write.mode("append").parquet(path)


def _filesystem(spark: SparkSession, path: str):
    """The Hadoop ``FileSystem`` of ``path``, and a constructor of Hadoop
    paths on it."""
    jpath = _jclass(spark, "org.apache.hadoop.fs.Path")
    return jpath(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def _jclass(spark: SparkSession, name: str):
    """The JVM class of fully qualified ``name`` in one py4j round trip
    (an attribute chain through the packages costs one per segment)."""
    return getattr(spark.sparkContext._jvm, name)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Bucketed (hash-clustered) managed table: the co-located-join
    layout.

    Two tables bucketed on their join key with the same bucket count join
    WITHOUT a shuffle — each task reads matching bucket files from both
    sides (verified by test_bucketed_join: no Exchange in the plan). This
    is the storage-level answer to a repeated big⋈big join at 100 TB:
    pay one bucketed write, then every subsequent join is narrow. BQ-side
    analog in the reference is clustering_fields (helpers:733).
    """
    writer = df.write.format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.mode("overwrite").saveAsTable(table_name)


def zorder_value(cols: list, mins: list[int], maxs: list[int],
                 bits: int = 16):
    """Morton (Z-order) key for multi-column locality: min-max normalize
    each column to ``bits`` bits, then interleave the bits. Rows close in
    the Z-curve are close in EVERY dimension, so sorting files by this
    key gives parquet min/max pruning on ALL clustered columns at once —
    single-column clustering only prunes its leading column. Pure Column
    arithmetic (shift/mask), no UDF.

    Total interleaved width is capped at 63 bits: the top bit of a long
    is the SIGN bit, and ``len(cols) * bits > 63`` would shift set bits
    into it, making large coordinates sort NEGATIVE — z-order
    monotonicity silently broken, pruning silently gone. Per-column
    precision auto-shrinks to fit (e.g. 4 columns → 15 bits each).
    """
    n_cols = max(len(cols), 1)
    if n_cols * bits > 63:
        bits = 63 // n_cols
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = max(int(hi) - int(lo), 1)
        scaled.append(
            ((c.cast("long") - F.lit(int(lo))) * F.lit((1 << bits) - 1)
             / F.lit(span)).cast("long")
        )
    z = F.lit(0).cast("long")
    n = len(scaled)
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * n + j)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Z-order-clustered parquet write: range-partition + sort by the
    Morton key of ``cols`` so every output file covers a small rectangle
    of the multi-column space. One bounded stats action (global min/max
    per clustered column) computes the normalization; at 100 TB those
    stats come from table metadata instead. Point/range filters on ANY of
    the clustered columns then skip most files on footer min/max alone —
    measured in tests/test_bucketed.py: ~4× fewer candidate files than a
    single-column sort for the second column's point lookups."""
    stats = df.agg(*[F.min(c).alias(f"__lo{i}") for i, c in enumerate(cols)],
                   *[F.max(c).alias(f"__hi{i}") for i, c in enumerate(cols)]
                   ).first()
    mins = [stats[f"__lo{i}"] for i in range(len(cols))]
    maxs = [stats[f"__hi{i}"] for i in range(len(cols))]
    z = zorder_value([F.col(c) for c in cols], mins, maxs, bits)
    (df.withColumn("__z", z)
       .repartitionByRange(n_files, "__z")
       .sortWithinPartitions("__z")
       .drop("__z")
       .write.mode("overwrite").parquet(path))


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_col: str,
    n_shards: int,
    mode: str = "overwrite",
) -> DataFrame:
    """Export a curated corpus as ``n_shards`` hash-sharded parquet files
    plus a verifiable manifest — the shape every training data loader
    consumes (fixed shard count, stable membership, no shard skew).

    Sharding is ``pmod(xxhash64(shard_col), n_shards)`` — a pure function
    of the row, so membership is stable across runs, retries, cluster
    sizes, and AQE re-planning (a ``repartition(n)`` round-robin would
    reshuffle membership every run and break resumable training).
    ``repartition`` on the shard id gives exactly one task per shard →
    one file per shard; at 100 TB raise ``n_shards`` until a shard fits
    an executor (the hash keeps them balanced within ~1/sqrt(rows/shard)).

    Returns the manifest as a DataFrame: per-shard row count and an
    order-insensitive xxhash64 checksum (sum of per-row hashes mod 2^63)
    a consumer can re-verify after download.

    ``mode`` must be ``"overwrite"``: the manifest is computed by
    re-reading the whole output path, so an append would fold earlier
    exports into the counts/checksums AND write a second file per shard
    directory, silently breaking both the manifest contract and the
    one-file-per-shard guarantee. Incremental export is a re-shard of
    the unioned corpus, not an append.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if mode != "overwrite":
        raise ValueError(
            "write_training_shards only supports mode='overwrite': an "
            "append would corrupt the re-read manifest and violate the "
            f"one-file-per-shard contract (got mode={mode!r})"
        )
    shard = F.pmod(F.xxhash64(F.col(shard_col).cast("string")),
                   F.lit(n_shards)).cast("int")
    (
        df.withColumn("__shard", shard)
        .repartition(n_shards, "__shard")
        .write.mode(mode)
        .partitionBy("__shard")
        .parquet(path)
    )
    written = df.sparkSession.read.parquet(path)
    # Checksum accumulates in decimal(38,0): a long sum of xxhash64
    # values overflows (and ANSI mode rightly errors); 38 digits hold
    # 2^63 · rows for any realistic shard.
    # NULL children leave xxhash64's running state untouched, so ('x',
    # NULL) and (NULL, 'x') would hash identically — encode NULLs as an
    # explicit sentinel per column so column-position corruption is
    # detectable.
    row_hash = F.pmod(
        F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                     for c in df.columns]),
        F.lit(2 ** 62),
    ).cast("decimal(38,0)")
    return (
        written.groupBy(F.col("__shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(F.sum(row_hash), F.lit(2 ** 63 - 1).cast("decimal(38,0)"))
            .cast("long").alias("checksum"),
        )
        .orderBy("shard")
    )


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    shard_col: str,
    n_shards: int,
) -> DataFrame:
    """Export a curated corpus as hash-sharded JSON-Lines — the other
    interchange format training loaders consume (one JSON object per
    line, fixed shard count, stable membership).

    Same deterministic sharding contract as ``write_training_shards``
    (``pmod(xxhash64(shard_col), n_shards)``; membership survives
    retries, cluster sizes, and AQE re-planning), but the payload is a
    single JSON-encoded text column written through the text sink, so
    any JSONL consumer can stream it without parquet tooling. The JSON
    encoding (``to_json`` of the row struct) happens JVM-side inside
    codegen — no Python in the path.

    Returns the manifest (shard, n_rows) re-read from the output.
    Overwrite-only, like the parquet shard sink and for the same
    reason: the manifest is computed from the written path.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    shard = F.pmod(F.xxhash64(F.col(shard_col).cast("string")),
                   F.lit(n_shards)).cast("int")
    (
        df.select(F.to_json(F.struct(*df.columns)).alias("value"),
                  shard.alias("__shard"))
        .repartition(n_shards, "__shard")
        .write.mode("overwrite")
        .partitionBy("__shard")
        .text(path)
    )
    return (
        df.sparkSession.read.text(path)   # partition discovery adds __shard
        .groupBy(F.col("__shard").cast("int").alias("shard"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("shard")
    )

"""Table-maintenance operators: compaction, clustered layouts and the
partition-scoped upsert.

A streaming bronze store (streaming/router.py) appends one file batch per
micro-batch per entity — at production trigger rates that is thousands of
small files per day, and 100 TB scans die on file-listing and per-file open
overhead long before they die on bytes. Bronze files carry every wire
column but ``source_type``; ``compact_parquet_dir`` reads with no pinned
schema and keeps that width (readers project with ``bronze_schema``).

- ``compact_parquet_dir``: rewrite a directory to ~target-sized files
  (repartition to ceil(bytes/target) partitions, optionally sorted within
  partitions so downstream range predicates get row-group pruning).
- ``write_range_partitioned`` / ``write_zordered``: layouts whose file
  min/max statistics let range predicates skip files.
- ``upsert_partitioned``: keyed merge that rewrites only the partitions an
  update touches (the silver rollup sink, streaming/silver.py).

The whole-table keyed upsert and its CDC sink are manifest-committed:
``manifest_upsert`` / ``streaming_manifest_upsert_sink`` in
manifest_table.py. All of these are pure DataFrame plans — the shuffle
moves data once, nothing flows through the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.reliability import materialize


def _fs_path(spark: SparkSession, p: str):
    """(Hadoop FileSystem, Path, JVM) for ``p`` — works for any supported
    scheme, not just file://."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(p)
    return path.getFileSystem(hconf), path, jvm


def compact_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite ``src_dir`` into ``dst_dir`` as ceil(bytes/target) files.
    Returns the file count written. ``sort_cols`` sorts within partitions
    (no global sort) so parquet row-group min/max stats serve range
    predicates afterward."""
    df = spark.read.parquet(src_dir)
    fs, path, _ = _fs_path(spark, src_dir)
    n_bytes = fs.getContentSummary(path).getLength()
    n_files = max(1, math.ceil(n_bytes / target_file_bytes))
    out = df.repartition(n_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(dst_dir)
    return n_files


def write_range_partitioned(
    df: DataFrame, dst_dir: str, col: str, n_files: int
) -> None:
    """Range-partitioned, sorted layout: repartitionByRange assigns disjoint
    key ranges to files (via a sampled range exchange), sortWithinPartitions
    orders rows inside each. Result: parquet file/row-group min-max stats
    are disjoint along ``col``, so a range predicate prunes whole files at
    planning time — the layout half of making 100 TB range scans cheap
    (verified against real parquet footer statistics in
    tests/test_maintenance.py)."""
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )


def zorder_bucket(col: str, boundaries: list[float]) -> F.Column:
    """Bucket index of ``col`` against sorted quantile ``boundaries`` as a
    sum of 0/1 comparison terms — a flat codegen expression (no interpreted
    lambda, no join against a boundary table)."""
    idx = F.lit(0)
    for b in boundaries:
        idx = idx + F.when(F.col(col) > F.lit(b), 1).otherwise(0)
    return idx


def zorder_value(bucket_cols: list[F.Column], bits: int) -> F.Column:
    """Interleave the low ``bits`` of each bucket index into one Z-value
    (Morton code) — pure shift/mask/sum column algebra, JVM-side."""
    d = len(bucket_cols)
    z = F.lit(0)
    for i in range(bits):
        for j, c in enumerate(bucket_cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * d + j)
    return z


def write_zordered(
    df: DataFrame,
    dst_dir: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 2,
    rel_err: float = 0.01,
) -> None:
    """Z-order (Morton) clustered layout over ``cols``: each column is
    quantile-bucketed into 2^bits ranges, bucket bits are interleaved into
    a Z-value, and files are range-partitioned + sorted on it. Every listed
    column's file-level min/max then spans only ~1/2^bits of its domain, so
    point/range predicates on ANY of the columns prune most files —
    multi-dimensional data skipping, where a single-column sort
    (:func:`write_range_partitioned`) only prunes its one column.

    The quantile boundaries come to the driver (``approxQuantile`` — a
    (2^bits−1)-float sketch result per column, metadata-sized at any table
    size); everything else is shift/mask column algebra inside one
    range-exchange write. This is the no-dependency form of Delta/Iceberg
    ``OPTIMIZE ZORDER BY``."""
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    buckets = [
        zorder_bucket(c, df.approxQuantile(c, qs, rel_err)) for c in cols
    ]
    z = zorder_value(buckets, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(dst_dir)
    )


def upsert_partitioned(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str,
    part_col: str,
) -> None:
    """Partition-scoped keyed merge: only the partitions PRESENT IN
    ``updates`` are read, merged, and replaced (dynamic partition
    overwrite). Per-call cost is proportional to the touched partitions,
    not the table — the property a long-running incremental sink needs
    (contrast ``manifest_table.manifest_upsert``, which rewrites the whole
    table). Untouched partition directories are not rewritten (asserted
    against file mtimes in tests).

    CONSTRAINT: ``part_col`` must be a pure function of ``key`` (as it is
    for the silver sink's wkey→window_date). If a key could reappear with
    a DIFFERENT partition value, its stale row in the old (untouched)
    partition would survive the merge and the key would exist twice. When
    partitions can move, anti-join the update keys against the whole
    table instead (``manifest_upsert``)."""
    fs, path, _ = _fs_path(spark, table_dir)
    if not fs.exists(path):  # first batch; any other read error propagates
        updates.write.partitionBy(part_col).parquet(table_dir)
        return
    current = spark.read.parquet(table_dir)
    touched = [r[0] for r in updates.select(part_col).distinct().collect()]
    # materializing the touched slice means the subsequent
    # overwrite of the same path doesn't read-and-write one location in a
    # single plan (Spark rejects that)
    cur_touched = (
        current.filter(F.col(part_col).isin(touched)).transform(materialize)
    )
    merged = cur_touched.join(
        updates.select(key).distinct(), key, "left_anti"
    ).unionByName(updates.select(*cur_touched.columns))
    (
        # writer-scoped dynamic overwrite (ADVICE r2): the session-level
        # conf would silently change the semantics of every later
        # partitioned overwrite in the session
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(table_dir)
    )


def streaming_partitioned_upsert_sink(table_dir: str, key: str, part_col: str):
    """foreachBatch function applying each micro-batch as a
    partition-scoped upsert — the incremental-materialization sink
    (streaming/silver.py)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        upsert_partitioned(
            batch_df.sparkSession, table_dir, batch_df, key, part_col
        )

    return apply

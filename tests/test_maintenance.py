"""Compaction, layout and upsert maintenance operators, and the CDC sink."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from streamroom_bigdata_spark.sources.maintenance import compact_parquet_dir
from streamroom_bigdata_spark.sources.manifest_table import (
    manifest_read,
    streaming_manifest_upsert_sink,
)


def _parquet_files(path):
    return [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_compaction_reduces_file_count(spark, tmp_path):
    src = str(tmp_path / "many")
    # 40 tiny files (one per partition)
    spark.range(0, 4000, 1, 40).withColumn("v", F.col("id") * 2).write.parquet(src)
    assert len(_parquet_files(src)) == 40

    dst = str(tmp_path / "compact")
    compact_parquet_dir(spark, src, dst, target_file_bytes=10**9)
    assert len(_parquet_files(dst)) == 1
    # content preserved exactly
    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    assert b.count() == 4000
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_compaction_sort_within_partitions_gives_rowgroup_stats(spark, tmp_path):
    src = str(tmp_path / "unsorted")
    spark.range(0, 1000, 1, 10).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("v")
    ).write.parquet(src)
    dst = str(tmp_path / "sorted")
    compact_parquet_dir(spark, src, dst, target_file_bytes=10**9, sort_cols=["k"])
    got = [r.k for r in spark.read.parquet(dst).collect()]
    # single output partition sorted by k
    assert got == sorted(got)


def test_streaming_upsert_sink_cdc(spark, tmp_path):
    """CDC pattern: each micro-batch upserts; last state per key wins."""
    table = str(tmp_path / "cdc_tbl")
    sink = streaming_manifest_upsert_sink(table, "k")
    b0 = spark.createDataFrame([(1, "a0"), (2, "b0")], "k int, v string")
    b1 = spark.createDataFrame([(2, "b1"), (3, "c1")], "k int, v string")
    sink(b0, 0)
    sink(b1, 1)
    got = dict((r.k, r.v) for r in manifest_read(spark, table).collect())
    assert got == {1: "a0", 2: "b1", 3: "c1"}


def test_range_partitioned_write_disjoint_file_stats(spark, tmp_path):
    """The written files' parquet footer min/max ranges along the sort
    column must be pairwise disjoint — the property range pruning needs."""
    import pyarrow.parquet as pq

    from streamroom_bigdata_spark.sources.maintenance import (
        write_range_partitioned,
    )

    dst = str(tmp_path / "ranged")
    df = spark.range(0, 10_000, 1, 16).select(
        (F.col("id") * 37 % 10_000).alias("k"), F.col("id").alias("v")
    )
    write_range_partitioned(df, dst, "k", 8)

    ranges = []
    for f in sorted(_parquet_files(dst)):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint: file N's max below file N+1's min
    # content intact
    assert spark.read.parquet(dst).count() == 10_000


def test_upsert_sink_latest_wins_with_ts(spark, tmp_path):
    table = str(tmp_path / "ts_tbl")
    sink = streaming_manifest_upsert_sink(table, "k", ts_col="ts")
    batch = spark.createDataFrame(
        [(1, "old", 10), (1, "new", 20), (2, "x", 5)],
        "k int, v string, ts long",
    )
    sink(batch, 0)
    got = [(r.k, r.v) for r in manifest_read(spark, table).collect()]
    assert sorted(got) == [(1, "new"), (2, "x")]


def test_upsert_sink_stores_duplicate_batch_key_once(spark, tmp_path):
    """Two rows for one key in a single batch, no ``ts_col``: the key is
    stored once (which row wins is unspecified), on the first batch and on
    a later merge alike."""
    table = str(tmp_path / "dup_tbl")
    sink = streaming_manifest_upsert_sink(table, "k")
    batch = spark.createDataFrame(
        [(1, "old"), (1, "new"), (2, "x")], "k int, v string"
    )
    sink(batch, 0)
    sink(batch, 1)
    got = [r.k for r in manifest_read(spark, table).collect()]
    assert sorted(got) == [1, 2]


def test_upsert_partitioned_touches_only_updated_partitions(spark, tmp_path):
    """A partition-scoped upsert must merge correctly AND leave untouched
    partition directories physically unrewritten."""
    import time

    table = str(tmp_path / "part_tbl")
    spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")],
        "k int, v string, d string",
    ).write.partitionBy("d").parquet(table)

    d2_files = {
        f: os.path.getmtime(f)
        for f in _parquet_files(os.path.join(table, "d=d2"))
    }
    time.sleep(1.1)

    from streamroom_bigdata_spark.sources.maintenance import upsert_partitioned

    updates = spark.createDataFrame(
        [(2, "B2", "d1"), (4, "new", "d1")], "k int, v string, d string"
    )
    upsert_partitioned(spark, table, updates, "k", "d")

    got = {(r.k): (r.v, r.d) for r in spark.read.parquet(table).collect()}
    assert got == {1: ("a", "d1"), 2: ("B2", "d1"), 3: ("c", "d2"), 4: ("new", "d1")}
    # d2 untouched: same files, same mtimes
    d2_after = {
        f: os.path.getmtime(f)
        for f in _parquet_files(os.path.join(table, "d=d2"))
    }
    assert d2_after == d2_files


def test_zorder_layout_skips_files_on_both_columns(spark, tmp_path):
    """Z-order layout: file-level footer stats must allow pruning on BOTH
    clustered columns, where a single-column range sort prunes only its
    own column (the multi-dimensional data-skipping property)."""
    import pyarrow.parquet as pq

    from streamroom_bigdata_spark.sources.maintenance import (
        write_range_partitioned,
        write_zordered,
    )

    n = 40_000
    df = spark.range(0, n, 1, 16).select(
        (F.col("id") % 200).alias("k1"),
        (F.col("id") / 200).cast("long").alias("k2"),
    )
    zdir, rdir = str(tmp_path / "zord"), str(tmp_path / "ranged1col")
    write_zordered(df, zdir, ["k1", "k2"], n_files=16, bits=2)
    write_range_partitioned(df, rdir, "k1", 16)

    def skip_fraction(path, col, probes):
        spans = []
        for f in sorted(_parquet_files(path)):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        mins.append(c.statistics.min)
                        maxs.append(c.statistics.max)
            spans.append((min(mins), max(maxs)))
        skipped = sum(
            1 for v in probes for lo, hi in spans if v < lo or v > hi
        )
        return skipped / (len(probes) * len(spans))

    probes = [5, 55, 105, 155, 195]
    # z-order prunes on BOTH dimensions
    assert skip_fraction(zdir, "k1", probes) >= 0.5
    assert skip_fraction(zdir, "k2", probes) >= 0.5
    # single-column sort prunes its own column well, the other not at all
    assert skip_fraction(rdir, "k1", probes) >= 0.8
    assert skip_fraction(rdir, "k2", probes) <= 0.2
    # content intact
    assert spark.read.parquet(zdir).count() == n


def test_dynamic_partition_pruning_triggers_on_dim_join(spark, tmp_path):
    """DPP: when the partition filter is only known at RUNTIME (it comes
    from the joined dim side, not a literal), Catalyst injects a
    dynamicpruning subquery into the partitioned scan — at 100 TB this is
    the difference between scanning every date partition and scanning the
    two the dim selects. Static pruning (literal filters) is covered by
    the streaming bronze test; this pins the runtime variant."""
    from pyspark.sql import functions as F
    from streamroom_bigdata_spark.sources import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    part_dir = str(tmp_path / "orders_by_month")
    orders.write.partitionBy("month").parquet(part_dir)

    fact = spark.read.parquet(part_dir)
    months = sorted(r.month for r in orders.select("month").distinct().collect())
    cutoff = months[2]  # keep the first two months only
    dim = (
        orders.select("month").distinct()
        .filter(F.col("month") < cutoff)
        .withColumn("flag", F.lit(1))
    )
    j = fact.join(dim, "month").groupBy("flag").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]
    # and the query still computes the right answer
    expected = orders.filter(F.col("month") < cutoff).count()
    assert j.collect()[0]["count"] == expected > 0


def test_schema_evolution_merge_read(spark, tmp_path):
    """Lakehouse schema evolution: a column added mid-stream must be
    readable across old and new files in one scan — mergeSchema unifies
    the footers, old files surface NULL for the new column, and a reader
    pinning the OLD schema still works against new files (column
    pruning drops the extra column at the scan)."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.parquet(d)
    spark.createDataFrame(
        [(3, "c", 0.5)], "id long, v string, score double"
    ).write.mode("append").parquet(d)

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: 0.5}

    pinned = spark.read.schema("id long, v string").parquet(d)
    assert pinned.count() == 3 and set(pinned.columns) == {"id", "v"}
    assert pinned.filter(F.col("id") == 3).collect()[0].v == "c"

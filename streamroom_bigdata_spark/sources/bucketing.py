"""Bucketed tables for shuffle-free co-located joins (SURVEY.md 100 TB
design notes: "co-locate joins via bucketing").

A fact table that is repeatedly joined on the same key (orders ⋈ lineitem on
orderkey, every TPC-H-style query) should be written bucketed on that key:
both sides hash-partition into the same N buckets at WRITE time, so every
subsequent join reads matching buckets side by side — no Exchange in the
plan, ever. At 100 TB this converts the dominant shuffle of every fact-fact
join into a one-time write cost.

Spark only reads bucket metadata through the catalog, so bucketed data goes
through ``saveAsTable`` into the session warehouse (``spark.sql.warehouse.dir``,
kept outside the repo tree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .maintenance import _fs_path
from .readers import load_table


def _clear_stale_location(spark: SparkSession, table: str) -> None:
    """Remove an orphaned warehouse directory for ``table``.

    The default local catalog is in-memory: it dies with the JVM while the
    warehouse directory survives, and ``saveAsTable`` then refuses the
    orphaned location (LOCATION_ALREADY_EXISTS). Single-writer assumption:
    callers must not run two processes materializing the same table
    concurrently (same rule as any non-transactional table format)."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    fs, path, _ = _fs_path(spark, f"{wh}/{table.lower()}")
    if fs.exists(path):
        fs.delete(path, True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) managed table.
    Sorting within buckets additionally enables merge-join without a sort
    step."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _clear_stale_location(spark, table)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def _sf_token(sf_dir: str) -> str:
    import os
    import re

    return re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(sf_dir.rstrip("/")))


def ensure_star_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> tuple[str, str]:
    """Idempotently materialize lineitem/orders bucketed on orderkey for
    ``sf_dir``; returns the two table names. The write is the one-time
    layout cost that buys every subsequent orderkey join its Exchange-free
    plan — the trade a 100 TB deployment makes for its dominant fact-fact
    join key."""
    tok = _sf_token(sf_dir)
    li_tbl, ord_tbl = f"lineitem_bkt_{tok}", f"orders_bkt_{tok}"
    if not spark.catalog.tableExists(li_tbl):
        write_bucketed(
            load_table(spark, sf_dir, "lineitem"),
            li_tbl,
            "l_orderkey",
            n_buckets,
            sort_col="l_orderkey",
        )
    if not spark.catalog.tableExists(ord_tbl):
        write_bucketed(
            load_table(spark, sf_dir, "orders"),
            ord_tbl,
            "o_orderkey",
            n_buckets,
            sort_col="o_orderkey",
        )
    return li_tbl, ord_tbl


def cobucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two tables bucketed on ``key`` with the same bucket count. With
    matching bucketing, the planner emits SortMergeJoin with NO Exchange on
    either side (assert via ``'Exchange' not in df._jdf.queryExecution()
    .executedPlan().toString()``)."""
    return spark.table(left_table).join(spark.table(right_table), key, how)

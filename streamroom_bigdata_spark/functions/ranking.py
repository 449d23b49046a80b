"""Distributed order-statistic machinery: exact global ranks WITHOUT a
single-task sort.

The pattern (born in ``quartiles_distributed``, reused by
``mann_whitney_u``, ``ks_two_sample_price``, ``theil_sen_daily_trend``):
``repartitionByRange`` on the sort key gives P range-ordered partitions;
per-partition totals are collected to the driver (O(P) rows, never O(N))
and prefix-summed into per-partition offsets broadcast back; global rank =
offset + local rank. Consolidated here so the pid-pinning rationale lives
in ONE place:

- a checkpoint (``materialize``, not persist) TRULY pins the pid
  assignment across the two consumers of the ranged frame — a cached
  partition lost to executor failure would be re-range-sampled AFTER the
  offsets were collected, silently skewing every global rank; a lost
  local-checkpoint partition fails loudly instead, and a reliable one is
  read back as written.
- equal sort-key values land in one range partition, so tie groups are
  never split across offsets (the property the tie-averaged rank sums and
  exact CDF evaluations above rely on).
"""

from __future__ import annotations

from .localdf import local_df
from .reliability import materialize
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def range_partition_offsets(
    df: DataFrame,
    sort_cols: list[str],
    aggs: list[tuple[str, Column]],
    n_parts: int,
):
    """Range-partition ``df`` on ``sort_cols`` and compute running offsets
    of each named per-partition aggregate.

    Returns ``(ranged, rows, offsets_df, totals)``:

    - ``ranged``: the pid-pinned (checkpointed) range-partitioned frame
      with a ``pid`` column — rank locally within it via
      ``Window.partitionBy("pid")``;
    - ``rows``: the collected per-pid aggregate rows, sorted by pid (O(P)),
      for callers that locate order statistics on the driver;
    - ``offsets_df``: (pid, off_<name>...) — each off column is the sum of
      that aggregate over all LOWER pids; broadcast-join it back on pid;
    - ``totals``: dict name → grand total.
    """
    spark = df.sparkSession
    names = [n for n, _ in aggs]
    ranged = (
        df.repartitionByRange(n_parts, *sort_cols)
        .withColumn("pid", F.spark_partition_id())
        .transform(materialize)
    )
    rows = sorted(
        ranged.groupBy("pid").agg(*[a.alias(n) for n, a in aggs]).collect(),
        key=lambda r: r.pid,
    )
    offsets, acc = [], {n: 0 for n in names}
    for r in rows:
        offsets.append((r.pid, *[acc[n] for n in names]))
        for n in names:
            acc[n] += r[n]
    schema = "pid int, " + ", ".join(f"off_{n} long" for n in names)
    # local_df: the offsets frame is broadcast-joined by every consumer —
    # the pickled-list path paid 32 Python-worker round trips per
    # evaluation of this P-row relation (functions/localdf.py)
    offsets_df = local_df(spark, offsets, schema)
    return ranged, rows, offsets_df, acc

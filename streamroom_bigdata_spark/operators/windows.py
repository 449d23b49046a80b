"""Window functions (SURVEY.md §2.5, W1-W3).

The reference imports Spark's Window but never uses it (processing.scala:6);
its normalize-by-global-max (processing.scala:88-98) is a manual driver-side
version of a window aggregate. These queries give the engine the full window
surface: ranking, analytic lag/lead, frame-spec running aggregates, and the
window-form global normalization that replaces the reference's ``first()``
round-trip.

Scale notes: every window here partitions by a real key (user, brand, group),
so state is bounded per key and the shuffle is an ordinary hash exchange.
``normalized_usage`` uses an empty-frame global window ONLY on an already
aggregated (small) relation — never on the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ranking import range_partition_offsets
from ..functions.timeutil import epoch_ms
from ..registry import register
from ..session import shuffle_partition_count
from ..sources import load_table


@register(
    "topk_per_brand",
    """
    SELECT p_brand, p_partkey, p_name, p_retailprice,
           CAST(rn AS INT) AS rn
    FROM (
      SELECT p_brand, p_partkey, p_name, p_retailprice,
             row_number() OVER (
               PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
             ) AS rn
      FROM part
    )
    WHERE rn <= 3
    """,
)
def topk_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number (W1) — distributed top-k without a
    global sort; only one hash shuffle on the partition key."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rn")
    )


@register(
    "rank_functions",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(rnk AS INT) AS rnk, CAST(drnk AS INT) AS drnk,
           round(pct, 6) AS pct
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             rank()         OVER w AS rnk,
             dense_rank()   OVER w AS drnk,
             percent_rank() OVER w AS pct
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
    )
    WHERE rnk <= 2
    """,
)
def rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank in one window pass (W1)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("pct"),
        )
        .filter(F.col("rnk") <= 2)
    )


@register(
    "event_lag_lead",
    """
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           epoch_ms(CAST(ts AS TIMESTAMP))
             - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w AS ms_since_prev,
           lead(event_type) OVER w AS next_event_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def event_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead session deltas per user (W2). Millisecond epoch arithmetic is
    used on both sides (Spark unix_millis ≡ DuckDB epoch_ms) so no float
    rounding is involved. Order includes event_id as a total-order tiebreak."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = epoch_ms("ts")
    return events.select(
        "event_id",
        "user_id",
        "ts",
        (ms - F.lag(ms).over(w)).alias("ms_since_prev"),
        F.lead("event_type").over(w).alias("next_event_type"),
    )


@register(
    "running_totals",
    """
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 4) AS running_value,
           round(avg(value) OVER (
             PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 4) AS moving_avg_3
    FROM events
    """,
)
def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec aggregates (W3): running sum + 3-row moving average per
    user. The deterministic (ts, event_id) order makes float accumulation
    identical across engines."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_value"),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4).alias(
            "moving_avg_3"
        ),
    )


@register(
    "normalized_usage",
    """
    SELECT l_partkey, usage_count,
           round(usage_count::DOUBLE / max(usage_count) OVER (), 6)
             AS collab_score
    FROM (
      SELECT l_partkey, count(*) AS usage_count FROM lineitem GROUP BY 1
    )
    """,
)
def normalized_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's normalize-by-global-max (processing.scala:88-98) with
    no driver round-trip AND no data-sized single-partition funnel: the max
    is a 1-row aggregate (partial per partition, then a 1-row final) joined
    back by broadcast. An empty-frame window would funnel all |distinct
    partkeys| rows through one partition — unbounded at 100 TB."""
    usage = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("usage_count"))
    )
    mx = usage.agg(F.max("usage_count").alias("_max_usage"))
    return (
        usage.join(F.broadcast(mx))
        .select(
            "l_partkey",
            "usage_count",
            F.round(
                F.col("usage_count").cast("double") / F.col("_max_usage"), 6
            ).alias("collab_score"),
        )
    )


@register(
    "ntile_quartiles",
    """
    SELECT quartile, count(*) AS n, round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM (
      SELECT c_acctbal,
             CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT)
               AS quartile
      FROM customer
    )
    GROUP BY quartile
    """,
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing + re-aggregation (W1 variant).

    NOTE: the unpartitioned ``Window.orderBy`` funnels the whole relation
    through one partition — kept as the small-relation oracle form only.
    ``quartiles_distributed`` below is the scale path (no single-partition
    exchange) and returns the identical answer."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        customer.select(
            "c_acctbal", F.ntile(4).over(w).alias("quartile")
        )
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@register(
    "quartiles_distributed",
    """
    SELECT quartile, count(*) AS n, round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM (
      SELECT c_acctbal,
             CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT)
               AS quartile
      FROM customer
    )
    GROUP BY quartile
    """,
)
def quartiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ntile(4) WITHOUT a global single-partition sort (VERDICT r1 #2).

    Distributed ranking: ``repartitionByRange`` on the sort key gives P
    range-ordered partitions; ``row_number`` partitioned by partition id
    ranks locally in parallel; the global rank is local rank + the summed
    counts of lower ranges — P counts collected to the driver (O(P) rows,
    not O(N)) and broadcast back. The ntile bucket is then pure arithmetic
    on the global rank, so the answer is bit-identical to ``ntile_quartiles``
    while every exchange in the plan is range- or hash-partitioned — nothing
    funnels the full relation through one task at any scale."""
    customer = load_table(spark, sf_dir, "customer")
    n_parts = shuffle_partition_count(spark)
    # pid-pinning + offset collection live in functions/ranking.py (the
    # checkpoint rationale is documented there once for all four
    # order-statistic queries)
    ranged, _, offsets_df, totals = range_partition_offsets(
        customer.select("c_acctbal", "c_custkey"),
        ["c_acctbal", "c_custkey"],
        [("cnt", F.count("*"))],
        n_parts,
    )
    total = totals["cnt"]
    # ntile semantics: the first (total mod 4) buckets get one extra row
    q, rem = divmod(total, 4)
    threshold = rem * (q + 1)
    local = ranged.withColumn(
        "lr",
        F.row_number().over(
            Window.partitionBy("pid").orderBy("c_acctbal", "c_custkey")
        ),
    )
    gr = F.col("off_cnt") + F.col("lr")
    bucket = F.when(
        gr <= F.lit(threshold), F.floor((gr - 1) / F.lit(q + 1)) + 1
    ).otherwise(F.lit(rem) + F.floor((gr - 1 - F.lit(threshold)) / F.lit(max(q, 1))) + 1)
    return (
        local.join(F.broadcast(offsets_df), "pid")
        .select("c_acctbal", bucket.cast("int").alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@register(
    "event_zscore_grouped",
    """
    SELECT event_type, event_id,
           round((value - avg(value) OVER (PARTITION BY event_type))
                   / stddev_pop(value) OVER (PARTITION BY event_type), 6)
             AS zscore
    FROM events
    """,
)
def event_zscore_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group normalization via grouped-map Pandas UDF (D3) — the
    reference's normalize-by-global-max (processing.scala:88-98) generalized
    to z-scores per event_type. Shape matters more than the math: one
    applyInPandas shuffle on the group key, vectorized numpy inside, typed
    frame out. The window-function equivalent is the oracle."""
    import pandas as pd

    events = load_table(spark, sf_dir, "events")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "event_id": pdf["event_id"],
                "zscore": ((v - v.mean()) / v.std(ddof=0)).round(6),
            }
        )

    return events.select("event_type", "event_id", "value").groupBy(
        "event_type"
    ).applyInPandas(zscore, "event_type string, event_id long, zscore double")


rank_surface_ext_oracle = """
SELECT event_id, event_type,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       first_value(event_id) OVER w AS first_id,
       last_value(event_id) OVER (
         PARTITION BY event_type ORDER BY value, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS last_id,
       nth_value(event_id, 3) OVER (
         PARTITION BY event_type ORDER BY value, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS third_id
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


@register("rank_surface_extended", rank_surface_ext_oracle)
def rank_surface_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the W1 ranking surface in one pass: percent_rank,
    cume_dist, first/last/nth_value — last/nth over the full-partition
    frame (the default growing frame would return the CURRENT row for
    last_value, the classic window gotcha). Unique event_id closes the
    (value) ordering into a total order, so every output is deterministic
    cross-engine. One event_type-keyed shuffle."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return events.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("event_id").over(w).alias("first_id"),
        F.last("event_id").over(wf).alias("last_id"),
        F.nth_value("event_id", 3).over(wf).alias("third_id"),
    )


# ---------------------------------------------------------------------------
# RANGE-frame window (time-interval trailing aggregate) — W3 extension
# ---------------------------------------------------------------------------

ROLL_DAYS = 6  # frame = [day - 6, day] → a 7-day trailing window

rolling_revenue_range_oracle = f"""
WITH d AS (
  SELECT o_orderkey, o_custkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day,
         o_totalprice
  FROM orders
)
SELECT o_orderkey, o_custkey, CAST(day AS BIGINT) AS day,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
              PARTITION BY o_custkey ORDER BY day
              RANGE BETWEEN {ROLL_DAYS} PRECEDING AND CURRENT ROW
            ), 2) AS DOUBLE) AS trailing_7d_revenue
FROM d
"""


@register("rolling_revenue_range", rolling_revenue_range_oracle)
def rolling_revenue_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing revenue per customer via a RANGE frame — the window
    surface rows-frames can't express: the frame is bounded by the ORDER
    VALUE (orders within the last 6 days), not a row count, so sparse and
    bursty customers both get calendar-correct trailing sums, and same-day
    peers are all included regardless of intra-day order (which also makes
    the result deterministic without an intra-day tiebreak). Revenue sums
    in DECIMAL(18,2) — exact, engine-independent. One customer-keyed
    shuffle; the per-customer frame scan is linear (Spark maintains a
    sliding aggregate over the sorted partition)."""
    d = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        )
        .cast("long")
        .alias("day"),
        "o_totalprice",
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-ROLL_DAYS, 0)
    )
    return d.select(
        "o_orderkey",
        "o_custkey",
        "day",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 2)
        .cast("double")
        .alias("trailing_7d_revenue"),
    )

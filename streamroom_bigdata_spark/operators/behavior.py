"""Behavioral / distribution analytics over the events and lineitem tables
(round-7 additions; SURVEY.md §2.15).

The reference's observable surface is a recommendation query over booking
events (`processing.scala:71-149`); these are the event-analytics queries the
same product team asks next — funnel conversion, cohort retention, value
distributions, robust outlier flags. All are one-or-two-shuffle column
algebra: per-user aggregation keyed on user_id, then an output-sized
reduction. At 100 TB each scales with the USER count (first shuffle) and the
tiny stage/cohort/bucket cardinality after that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash_mod, sql_hash_mod
from ..functions.reliability import materialize
from ..functions.timeutil import epoch_ms
from ..registry import register
from ..sources import load_table

# ---------------------------------------------------------------------------
# Funnel conversion (ordered min-timestamp semantics)
# ---------------------------------------------------------------------------

# Stage order for the funnel. Semantics: a user reaches stage k iff the
# FIRST occurrence of each stage is strictly later than the first occurrence
# of the previous stage (min-ts ordering — one aggregation pass, no ordered
# re-scan; the common "did the journey happen in order" reading).
FUNNEL_STAGES = ("signup", "click", "view", "purchase")

_mins_sql = ", ".join(
    f"min(CASE WHEN event_type = '{s}' THEN epoch_ms(CAST(ts AS TIMESTAMP)) END) AS t{i}"
    for i, s in enumerate(FUNNEL_STAGES)
)

funnel_oracle = f"""
WITH per_user AS (
  SELECT user_id, {_mins_sql}
  FROM events
  GROUP BY user_id
), depth AS (
  SELECT user_id,
         CASE WHEN t0 IS NULL THEN 0
              WHEN t1 IS NULL OR t1 <= t0 THEN 1
              WHEN t2 IS NULL OR t2 <= t1 THEN 2
              WHEN t3 IS NULL OR t3 <= t2 THEN 3
              ELSE 4 END AS depth
  FROM per_user
), counts AS (
  SELECT CAST(sum(CASE WHEN depth >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN depth >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM depth
)
SELECT * FROM (
  SELECT 1 AS stage, '{FUNNEL_STAGES[0]}' AS stage_name, n1 AS n_users,
         CASE WHEN n1 = 0 THEN NULL ELSE CAST(1.0 AS DOUBLE) END
           AS conv_from_first FROM counts
  UNION ALL
  SELECT 2, '{FUNNEL_STAGES[1]}', n2, CASE WHEN n1 = 0 THEN NULL
         ELSE round(CAST(n2 AS DOUBLE) / n1, 4) END FROM counts
  UNION ALL
  SELECT 3, '{FUNNEL_STAGES[2]}', n3, CASE WHEN n1 = 0 THEN NULL
         ELSE round(CAST(n3 AS DOUBLE) / n1, 4) END FROM counts
  UNION ALL
  SELECT 4, '{FUNNEL_STAGES[3]}', n4, CASE WHEN n1 = 0 THEN NULL
         ELSE round(CAST(n4 AS DOUBLE) / n1, 4) END FROM counts
)
"""


@register("funnel_conversion", funnel_oracle)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over events: per-user first-occurrence timestamps of
    each stage in ONE aggregation (conditional mins — no per-stage re-scan,
    no window), funnel depth from their ordering, then a global roll-up to
    4 rows. Two shuffles total: user_id hash agg (map-side partials make it
    user-count-sized) and a single-row final combine. Millisecond-epoch
    comparison keeps stage ordering integer-exact across engines."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        *[
            F.min(
                F.when(F.col("event_type") == s, epoch_ms("ts"))
            ).alias(f"t{i}")
            for i, s in enumerate(FUNNEL_STAGES)
        ]
    )
    t = [F.col(f"t{i}") for i in range(4)]
    depth = (
        F.when(t[0].isNull(), 0)
        .when(t[1].isNull() | (t[1] <= t[0]), 1)
        .when(t[2].isNull() | (t[2] <= t[1]), 2)
        .when(t[3].isNull() | (t[3] <= t[2]), 3)
        .otherwise(4)
    )
    counts = per_user.select(depth.alias("depth")).agg(
        *[
            F.sum((F.col("depth") >= k).cast("bigint")).alias(f"n{k}")
            for k in (1, 2, 3, 4)
        ]
    )
    # 4-row unpivot of the single combined row: stack() stays in-plan, and
    # every stage's conversion divides by n1 from the SAME row — no window.
    # n1 = 0 (no user ever reached stage 1) yields NULL conversions, not a
    # DIVIDE_BY_ZERO abort under ANSI mode.
    stages_sql = ", ".join(
        f"{k}, '{FUNNEL_STAGES[k - 1]}', n{k}, "
        + (
            "if(n1 = 0, cast(null as double), cast(1.0 as double))"
            if k == 1
            else f"if(n1 = 0, cast(null as double), round(double(n{k}) / n1, 4))"
        )
        for k in (1, 2, 3, 4)
    )
    return counts.select(
        F.expr(f"stack(4, {stages_sql})").alias(
            "stage", "stage_name", "n_users", "conv_from_first"
        )
    )


# ---------------------------------------------------------------------------
# Weekly cohort retention
# ---------------------------------------------------------------------------

retention_oracle = """
WITH cohorts AS (
  SELECT user_id,
         CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_week
  FROM events
  GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS active_week
  FROM events
)
SELECT c.cohort_week,
       CAST(datediff('day', c.cohort_week, a.active_week) // 7 AS INT)
         AS week_offset,
       count(*) AS n_users
FROM cohorts c JOIN activity a USING (user_id)
GROUP BY 1, 2
"""


@register("retention_cohorts", retention_oracle)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: cohort = ISO week of a user's first event;
    one row per (cohort_week, week_offset) counting users still active that
    many weeks later. Plan: user_id agg (cohort), distinct (user, week)
    activity, user-keyed join (both sides already partitioned by user_id —
    the exchange is reused), then an output-sized roll-up. Scales with
    users; output is weeks². DATE-typed weeks keep the NTZ/LTZ question out
    of the comparison entirely."""
    events = load_table(spark, sf_dir, "events")
    week = lambda c: F.to_date(F.date_trunc("week", F.col(c)))  # noqa: E731
    cohorts = events.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = events.select(
        "user_id", week("ts").alias("active_week")
    ).distinct()
    return (
        cohorts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram (distribution profiling)
# ---------------------------------------------------------------------------

HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 100_000.0, 20
_W = (HIST_HI - HIST_LO) / HIST_BUCKETS

histogram_oracle = f"""
WITH b AS (
  SELECT CAST(least({HIST_BUCKETS - 1},
                    floor((l_extendedprice - {HIST_LO}) / {_W})) AS INT)
           AS bucket,
         l_extendedprice
  FROM lineitem
  WHERE l_extendedprice >= {HIST_LO} AND l_extendedprice < {HIST_HI}
)
SELECT bucket,
       CAST(round({HIST_LO} + bucket * {_W}, 2) AS DOUBLE) AS lo_edge,
       CAST(round({HIST_LO} + (bucket + 1) * {_W}, 2) AS DOUBLE) AS hi_edge,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))) AS DOUBLE)
         AS sum_price
FROM b
GROUP BY bucket
"""


@register("histogram_prices", histogram_oracle)
def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice — the profiling query behind
    every data-quality dashboard. Pure map-side bucket arithmetic + a
    BUCKETS-sized aggregation: the shuffle carries ≤ HIST_BUCKETS rows per
    map task regardless of input size. The bucket formula (floor of scaled
    offset, top bucket clamped) is written identically in both engines
    rather than relying on a width_bucket builtin DuckDB lacks."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    bucket = F.least(
        F.lit(HIST_BUCKETS - 1), F.floor((x - HIST_LO) / _W)
    ).cast("int")
    return (
        li.filter((x >= HIST_LO) & (x < HIST_HI))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_items"),
            # decimal accumulation: float sums are addition-order-dependent
            # across engines/partitionings; 2-decimal prices sum exactly
            F.sum(x.cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
        .select(
            "bucket",
            F.round(HIST_LO + F.col("bucket") * _W, 2).alias("lo_edge"),
            F.round(HIST_LO + (F.col("bucket") + 1) * _W, 2).alias("hi_edge"),
            "n_items",
            "sum_price",
        )
    )


# ---------------------------------------------------------------------------
# Robust outliers: median / MAD per event type
# ---------------------------------------------------------------------------

MAD_K = 3.0  # flag |x - median| > MAD_K * 1.4826 * MAD

mad_oracle = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       count(*) AS n,
       round(max(d.med), 4) AS median_value,
       round(max(m.mad), 4) AS mad,
       CAST(sum(CASE WHEN d.adev > {MAD_K} * 1.4826 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


@register("mad_outliers", mad_oracle)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier flags per event type: exact median (linear
    interpolation — Spark ``percentile`` ≡ DuckDB ``quantile_cont``), MAD as
    the median absolute deviation, outliers beyond MAD_K·1.4826·MAD (the
    normal-consistency constant). Two grouped exact percentiles + two
    broadcast-sized joins back (5 groups — AQE broadcasts at runtime); the
    event scan happens twice, which is the honest cost of an exact two-pass
    statistic — the approx single-pass variant is quantile_summary."""
    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = events.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("med"), 4).alias("median_value"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                (F.col("adev") > MAD_K * 1.4826 * F.col("mad")).cast("bigint")
            ).alias("n_outliers"),
        )
    )


# --- Market-basket co-occurrence (association mining) -----------------------

market_basket_oracle = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), part_totals AS (
  SELECT l_partkey, count(*) AS n_part FROM items GROUP BY 1
), orders_total AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM items
)
SELECT p.part_a, p.part_b, p.n_both,
       round(CAST(p.n_both AS DOUBLE) / CAST(t.n_orders AS DOUBLE), 6)
         AS support,
       round(CAST(p.n_both AS DOUBLE) * CAST(t.n_orders AS DOUBLE)
             / (CAST(ta.n_part AS DOUBLE) * CAST(tb.n_part AS DOUBLE)), 6)
         AS lift
FROM pair_counts p
JOIN part_totals ta ON ta.l_partkey = p.part_a
JOIN part_totals tb ON tb.l_partkey = p.part_b
CROSS JOIN orders_total t
WHERE p.n_both >= 3
"""


@register("market_basket_pairs", market_basket_oracle)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs: parts co-occurring in >= 3 orders,
    with support (pair frequency) and lift (observed vs independence).
    The pair enumeration self-joins the deduped (order, part) items on
    orderkey — work is Σ_orders basket², bounded by the basket size (~7
    items), i.e. LINEAR in orders, never parts². The min-support filter
    runs on the pair aggregate BEFORE the lift joins, so the per-part
    totals join only the surviving pairs; totals and the 1-row order
    count are broadcast.

    This (counting + two hash joins) is the A-priori support/lift core;
    at 100 TB the same plan holds because every shuffle is keyed on
    orderkey or the pair, and hot orders are capped by basket size."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    part_totals = items.groupBy("l_partkey").agg(F.count("*").alias("n_part"))
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    ta = part_totals.select(
        F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
    )
    tb = part_totals.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
    )
    # ta/tb are PART-cardinality — small here, but 10^7+ rows at real
    # scale; no forced broadcast, AQE decides from the measured size.
    # n_orders is one row at any scale — that hint is justified.
    return (
        pair_counts.join(ta, "part_a")
        .join(tb, "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / F.col("n_orders").cast("double"),
                6,
            ).alias("support"),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Markov next-event transition matrix (sequence mining)
# ---------------------------------------------------------------------------

markov_oracle = """
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_trans,
       CAST(round(CAST(CAST(n_trans AS DOUBLE) /
             CAST(sum(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE)
             AS DECIMAL(18, 8)), 6) AS DOUBLE) AS p_next
FROM pairs
"""


@register("markov_transitions", markov_oracle)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (sequence mining): P(next event type | previous event type).

    One user_id-keyed shuffle produces the lag pairs (the same exchange
    shape as sessionization); the transition counts then collapse to a
    types²-sized aggregate, and the row-normalization window runs over
    that tiny output — its cost is independent of the event count. The
    ordering ties on equal timestamps are broken by the unique event_id,
    so the lag sequence (hence the exact counts) is deterministic on both
    engines. At 100 TB: shuffle #1 scales with events (unavoidable — the
    sequence lives per user), everything after is O(|types|^2)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    pairs = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_trans"))
    )
    wp = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_trans",
        # integer-ratio doubles can land on an exact half at the 6th
        # decimal (the q2 precision class) — round via DECIMAL(18,8)
        F.round(
            (
                F.col("n_trans").cast("double")
                / F.sum("n_trans").over(wp).cast("double")
            ).cast("decimal(18,8)"),
            6,
        )
        .cast("double")
        .alias("p_next"),
    )


# ---------------------------------------------------------------------------
# A/B experiment read-out (two-proportion z-test)
# ---------------------------------------------------------------------------

_ARM_SQL = "CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2"

ab_test_oracle = f"""
WITH arms AS (
  SELECT sum(CASE WHEN {_ARM_SQL} = 0 THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN {_ARM_SQL} = 1 THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN {_ARM_SQL} = 0 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS conv_a,
         sum(CASE WHEN {_ARM_SQL} = 1 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS conv_b
  FROM events
)
SELECT n_a, n_b, conv_a, conv_b,
       round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
       round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
       round(
         (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         / sqrt(
             (CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
             * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
           ),
         6) AS z_score
FROM arms
"""


@register("ab_test_proportions", ab_test_oracle)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a deterministic hash-split experiment:
    exposure units are assigned to arm A/B by the portable md5 hash of
    the event id (the same split every engine reproduces — no RNG state
    to ship), success = the event converting to a 'purchase', and the
    read-out is the pooled two-proportion z statistic. (Per-user
    assignment is the production norm; on this fixture every user fires
    every event type, so the per-unit split is what keeps 0 < p < 1 —
    swap the hash column for user_id to cluster-randomize.)

    Plan shape: ONE single-row conditional aggregate holds all four
    counts — map-side partials collapse the scan to one row per task, and
    the z algebra runs on that row, so both engines do identical double
    arithmetic on identical integers and the value hash matches exactly.
    At 100 TB there is no shuffle of data at all: a billion events reduce
    to ONE row before any statistics happen."""
    from ..functions.hashing import portable_hash64

    events = load_table(spark, sf_dir, "events")
    arm = F.pmod(portable_hash64(F.col("event_id").cast("string")), F.lit(2))
    is_conv = F.col("event_type") == "purchase"
    arms = events.agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when((arm == 0) & is_conv, 1).otherwise(0)).alias("conv_a"),
        F.sum(F.when((arm == 1) & is_conv, 1).otherwise(0)).alias("conv_b"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    conv_a = F.col("conv_a").cast("double")
    conv_b = F.col("conv_b").cast("double")
    pooled = (conv_a + conv_b) / (n_a + n_b)
    return arms.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(conv_a / n_a, 6).alias("rate_a"),
        F.round(conv_b / n_b, 6).alias("rate_b"),
        F.round(
            (conv_a / n_a - conv_b / n_b)
            / F.sqrt(pooled * (1.0 - pooled) * (1.0 / n_a + 1.0 / n_b)),
            6,
        ).alias("z_score"),
    )


# --- Weighted median (quantity-weighted price per return flag) --------------

weighted_median_oracle = """
WITH cum AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DOUBLE) AS price,
         sum(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag
           ORDER BY CAST(l_extendedprice AS DOUBLE), l_orderkey, l_linenumber
         ) AS cumw,
         sum(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag
         ) AS totw
  FROM lineitem
)
SELECT l_returnflag,
       round(min(price), 2) AS weighted_median_price,
       CAST(max(totw) AS BIGINT) AS total_weight
FROM cum
WHERE 2 * cumw >= totw
GROUP BY l_returnflag
"""


@register("weighted_median_price", weighted_median_oracle)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per return flag — the 50%-of-
    VOLUME price point ("half the quantity shipped traded at or below
    this"), which an unweighted median misstates whenever cheap items ship
    in bulk. Weighted percentiles have no Spark/DuckDB builtin, so both
    engines run the identical definition: order each group by price, take
    the first row whose running weight reaches half the group total.

    All weight arithmetic is INTEGER (quantities cast to bigint; the cut
    is 2·cumw ≥ totw) — no float summation order to diverge across
    engines. Plan: one group-partitioned ordered window for the running
    weight (+ the group-total window over the same exchange) and a tiny
    final agg; one shuffle on l_returnflag total. At 100 TB the per-group
    ordered window is the honest exact cost; the sort-free approximation
    is a weight-expanded percentile_approx."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    wo = (
        Window.partitionBy("l_returnflag")
        .orderBy("price", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "price",
        F.sum("w").over(wo).alias("cumw"),
        F.sum("w").over(wt).alias("totw"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("price"), 2).alias("weighted_median_price"),
            F.max("totw").cast("long").alias("total_weight"),
        )
    )


# --- CUPED variance-reduced A/B metric ---------------------------------------

#: pre-period / experiment-period boundary inside the fixture's event range
CUPED_SPLIT = "2024-01-15 00:00:00"

cuped_oracle = f"""
WITH per_user AS (
  SELECT user_id,
         {sql_hash_mod("CAST(user_id AS VARCHAR)", 2)} AS arm,
         sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{CUPED_SPLIT}'
                  THEN value ELSE 0 END) AS pre,
         sum(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '{CUPED_SPLIT}'
                  THEN value ELSE 0 END) AS post
  FROM events GROUP BY 1
), pooled AS (
  SELECT covar_pop(pre, post) / var_pop(pre) AS theta,
         avg(pre) AS pre_mean
  FROM per_user
)
SELECT u.arm,
       count(*) AS n_users,
       round(avg(u.post), 4) AS mean_post,
       round(avg(u.post - p.theta * (u.pre - p.pre_mean)), 4)
         AS mean_adjusted,
       round(max(p.theta), 6) AS theta
FROM per_user u CROSS JOIN pooled p
GROUP BY u.arm
"""


@register("cuped_ab_adjusted", cuped_oracle)
def cuped_ab_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout: each user's experiment-
    period metric is adjusted by their PRE-period metric
    (y − θ·(x − x̄), θ = cov(x,y)/var(x), pooled across arms so the
    adjustment is assignment-independent) — the industry-standard trick
    that shrinks metric variance without biasing the treatment effect,
    tightening the same z-test `ab_test_proportions` runs. Arms are the
    deterministic portable-hash split, so the whole readout is
    reproducible.

    Plan: one user-keyed aggregate builds (pre, post); θ and the pre-mean
    are a 1-row second-moment aggregate over the user table (covar/var
    combine associatively — the stat_aggregates precedent) broadcast back;
    the final per-arm agg is 2 rows. Nothing wider than the user table
    ever shuffles."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(CUPED_SPLIT).cast("timestamp")
    ts = F.col("ts").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(ts < split, F.col("value")).otherwise(0.0)).alias("pre"),
        F.sum(F.when(ts >= split, F.col("value")).otherwise(0.0)).alias("post"),
    ).select(
        portable_hash_mod(F.col("user_id").cast("string"), 2).alias("arm"),
        "pre",
        "post",
    )
    pooled = per_user.agg(
        (F.covar_pop("pre", "post") / F.var_pop("pre")).alias("theta"),
        F.avg("pre").alias("pre_mean"),
    )
    return (
        per_user.crossJoin(F.broadcast(pooled))
        .groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            F.round(F.avg("post"), 4).alias("mean_post"),
            F.round(
                F.avg(
                    F.col("post")
                    - F.col("theta") * (F.col("pre") - F.col("pre_mean"))
                ),
                4,
            ).alias("mean_adjusted"),
            F.round(F.max("theta"), 6).alias("theta"),
        )
    )


# --- Winsorized mean (robust location, clip-at-percentiles) ------------------

WINSOR_LO, WINSOR_HI = 0.05, 0.95

winsorized_oracle = f"""
WITH pct AS (
  SELECT event_type,
         quantile_cont(value, {WINSOR_LO}) AS lo,
         quantile_cont(value, {WINSOR_HI}) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n,
       round(CAST(sum(CAST(least(greatest(e.value, p.lo), p.hi)
                           AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
         AS winsorized_mean,
       round(max(p.lo), 4) AS p05,
       round(max(p.hi), 4) AS p95
FROM events e JOIN pct p USING (event_type)
GROUP BY e.event_type
"""


@register("winsorized_means", winsorized_oracle)
def winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type — the third robust-location
    estimator next to median/MAD (`mad_outliers`) and the z-score family:
    values are CLIPPED to the group's [p05, p95] before averaging, so a
    handful of extreme readings can't drag the mean while (unlike
    trimming) every observation still contributes. Exact group
    percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`); the
    clipped sum goes through DECIMAL(18,6) — exact, order-independent —
    so both engines average identically. Two passes over events (the
    honest cost of exact percentiles, same as mad_outliers); the
    percentile table is group-sized and AQE-broadcast back."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    pct = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(value, {WINSOR_HI})").alias("hi"),
    )
    clipped = ev.join(pct, "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
        .cast("decimal(18,6)")
        .alias("c"),
    )
    return clipped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("c").cast("double") / F.count("*"), 4).alias(
            "winsorized_mean"
        ),
        F.round(F.max("lo"), 4).alias("p05"),
        F.round(F.max("hi"), 4).alias("p95"),
    )


# ---------------------------------------------------------------------------
# Stationary distribution of the event-type Markov chain (power iteration)
# ---------------------------------------------------------------------------

MARKOV_PI_ROUNDS = 8


def _markov_pi_oracle() -> str:
    parts = [
        """
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
), pmat AS MATERIALIZED (
  SELECT p.prev_type AS i, p.next_type AS j,
         CAST(p.n_trans AS DOUBLE)
           / sum(p.n_trans) OVER (PARTITION BY p.prev_type) AS p
  FROM pairs p
  WHERE p.next_type IN (SELECT DISTINCT prev_type FROM pairs)
), states AS (
  SELECT DISTINCT i FROM pmat
), pi0 AS (
  SELECT i, 1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM states) AS pi
  FROM states
)"""
    ]
    for k in range(MARKOV_PI_ROUNDS):
        parts.append(
            f""", r{k} AS MATERIALIZED (
  SELECT m.j AS i, sum(pp.pi * m.p) AS v
  FROM pi{k} pp JOIN pmat m ON m.i = pp.i
  GROUP BY m.j
), pi{k + 1} AS MATERIALIZED (
  SELECT i, v / (SELECT sum(v) FROM r{k}) AS pi FROM r{k}
)"""
        )
    parts.append(
        f"""
SELECT i AS event_type, round(pi, 6) AS stationary_p
FROM pi{MARKOV_PI_ROUNDS}"""
    )
    return "".join(parts)


@register("markov_stationary_mix", _markov_pi_oracle())
def markov_stationary_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov chain
    (π = πP) by MARKOV_PI_ROUNDS fixed power-iteration rounds from the
    uniform start — the long-run traffic mix the `markov_transitions`
    matrix implies, which a capacity planner compares against today's
    observed mix to see where the funnel is DRIFTING.

    The chain is restricted to types observed as transition SOURCES
    (columns leading out of the state space are dropped) and π is
    renormalized each round, so leaked mass cannot accumulate; argmax-free
    float path — every sum is over the ≤|types| state space, so
    accumulation noise is ~1e-16 and round-6 output is stable on both
    engines.

    Scale shape: ONE user-keyed lag shuffle (shared with
    markov_transitions) is the only data-sized stage; all
    MARKOV_PI_ROUNDS iterations run on the |types|²-bounded matrix with
    the |types|-row π checkpointed per round."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        F.lag("event_type", 1).over(wseq).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    pairs = ordered.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n_trans")
    )
    states = pairs.select(F.col("prev_type").alias("i")).distinct()
    wrow = Window.partitionBy("prev_type")
    pmat = (
        pairs.join(
            states.select(F.col("i").alias("event_type")), "event_type"
        )
        .select(
            F.col("prev_type").alias("i"),
            F.col("event_type").alias("j"),
            (
                F.col("n_trans").cast("double")
                / F.sum("n_trans").over(wrow)
            ).alias("p"),
        )
        .transform(materialize)
    )
    n_states = states.count()  # |types|-bounded driver scalar
    if n_states == 0:
        # no user has 2+ events → empty chain; returning early also keeps
        # the 1.0/n literal from constant-folding into an ANSI
        # DIVIDE_BY_ZERO at planning time
        return spark.createDataFrame(
            [], "event_type string, stationary_p double"
        )
    pi = states.select(
        "i", (F.lit(1.0) / float(n_states)).alias("pi")
    ).transform(materialize)
    for _ in range(MARKOV_PI_ROUNDS):
        r = (
            pi.join(pmat, "i")
            .groupBy(F.col("j").alias("i2"))
            .agg(F.sum(F.col("pi") * F.col("p")).alias("v"))
            .select(F.col("i2").alias("i"), "v")
        )
        tot = r.agg(F.sum("v").alias("t"))
        pi = (
            r.crossJoin(F.broadcast(tot))
            .select("i", (F.col("v") / F.col("t")).alias("pi"))
            .transform(materialize)
        )
    return pi.select(
        F.col("i").alias("event_type"),
        F.round("pi", 6).alias("stationary_p"),
    )


# --- Association rules (directed confidence/lift from basket pairs) ---------

assoc_rules_oracle = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
), rules AS (
  SELECT part_a AS ante, part_b AS cons, n_both FROM pair_counts
  UNION ALL
  SELECT part_b AS ante, part_a AS cons, n_both FROM pair_counts
), part_totals AS (
  SELECT l_partkey, count(*) AS n_part FROM items GROUP BY 1
), orders_total AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM items
)
SELECT r.ante, r.cons, CAST(r.n_both AS BIGINT) AS n_both,
       round(CAST(r.n_both AS DOUBLE) / ta.n_part, 6) AS confidence,
       round(CAST(r.n_both AS DOUBLE) * t.n_orders
             / (CAST(ta.n_part AS DOUBLE) * tc.n_part), 6) AS lift
FROM rules r
JOIN part_totals ta ON ta.l_partkey = r.ante
JOIN part_totals tc ON tc.l_partkey = r.cons
CROSS JOIN orders_total t
"""


@register("assoc_rules_confidence", assoc_rules_oracle)
def assoc_rules_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules ante→cons from the market-basket pairs:
    confidence = P(cons | ante) = n_both / n_ante and lift — the DIRECTED
    readout `market_basket_pairs`' symmetric support/lift table cannot
    express (bread→butter and butter→bread have the same lift but very
    different confidence). Each surviving pair emits both orientations.

    Same scale argument as market_basket_pairs: pair work is Σ_orders
    basket² (basket-size bounded, linear in orders); the min-support
    filter runs BEFORE the per-part total joins, which are keyed on the
    part — no broadcast hint on the part totals (AQE decides; they are
    10⁷+ rows at real scale), only the 1-row order count is pinned."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    rules = pair_counts.select(
        F.col("part_a").alias("ante"), F.col("part_b").alias("cons"), "n_both"
    ).unionByName(
        pair_counts.select(
            F.col("part_b").alias("ante"),
            F.col("part_a").alias("cons"),
            "n_both",
        )
    )
    part_totals = items.groupBy("l_partkey").agg(F.count("*").alias("n_part"))
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    ta = part_totals.select(
        F.col("l_partkey").alias("ante"), F.col("n_part").alias("n_a")
    )
    tc = part_totals.select(
        F.col("l_partkey").alias("cons"), F.col("n_part").alias("n_c")
    )
    return (
        rules.join(ta, "ante")
        .join(tc, "cons")
        .join(F.broadcast(n_orders))
        .select(
            "ante",
            "cons",
            "n_both",
            F.round(
                F.col("n_both").cast("double") / F.col("n_a"), 6
            ).alias("confidence"),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / (F.col("n_a").cast("double") * F.col("n_c")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Round-14: inter-purchase-gap churn risk (the exact-integer BG-lite)
# ---------------------------------------------------------------------------

purchase_gap_oracle = """
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(floor(epoch_ms(CAST(min(o_orderdate) AS TIMESTAMP))
                    / 86400000.0) AS BIGINT) AS first_d,
         CAST(floor(epoch_ms(CAST(max(o_orderdate) AS TIMESTAMP))
                    / 86400000.0) AS BIGINT) AS last_d
  FROM orders GROUP BY 1
), corpus AS (
  SELECT max(last_d) AS m FROM per_cust
), seg AS (
  SELECT c_custkey AS cust, c_mktsegment AS segment FROM customer
), flags AS (
  SELECT s.segment,
         CASE WHEN p.n_orders >= 3 AND p.last_d > p.first_d
              THEN 1 ELSE 0 END AS assessable,
         CASE WHEN p.n_orders >= 3 AND p.last_d > p.first_d
                   AND (co.m - p.last_d) * (p.n_orders - 1)
                       > 2 * (p.last_d - p.first_d)
              THEN 1 ELSE 0 END AS overdue
  FROM per_cust p JOIN seg s ON s.cust = p.cust CROSS JOIN corpus co
)
SELECT segment,
       CAST(sum(assessable) AS BIGINT) AS n_assessable,
       CAST(sum(overdue) AS BIGINT) AS n_overdue,
       floor(CAST(sum(overdue) AS DOUBLE) / CAST(sum(assessable) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS overdue_share
FROM flags
GROUP BY segment
"""


@register("purchase_gap_churn_risk", purchase_gap_oracle)
def purchase_gap_churn_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-PURCHASE-GAP churn risk per market segment — the
    exact-integer BG/NBD-lite: a customer with n≥3 orders whose silence
    since their last order exceeds 2× their own average gap is OVERDUE
    (their history says they should have bought again by now). The
    actionable churn readout `retention_cohorts` (calendar logo decay)
    and `net_revenue_retention` (book revenue) don't give: WHO is
    overdue relative to their OWN cadence, not the calendar's.

    Exactness: the threshold is the pure-integer inequality
    (M − last)·(n−1) > 2·(last − first) — average gap = span/(n−1) never
    materializes as a float, so no customer can flip on rounding. Shape:
    ONE combinable custkey groupBy over orders (the data-sized stage),
    the corpus max-day as a 1-row broadcast, a customer-keyed segment
    join (shuffle_hash pinned — the customer book grows with the
    corpus), and a segment-domain final aggregate."""
    od = load_table(spark, sf_dir, "orders")
    per_cust = od.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.count("*").alias("n_orders"),
        F.floor(
            epoch_ms(F.min("o_orderdate").cast("timestamp")) / 86400000
        )
        .cast("bigint")
        .alias("first_d"),
        F.floor(
            epoch_ms(F.max("o_orderdate").cast("timestamp")) / 86400000
        )
        .cast("bigint")
        .alias("last_d"),
    )
    corpus = per_cust.agg(F.max("last_d").alias("m"))
    seg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    assessable = (F.col("n_orders") >= 3) & (
        F.col("last_d") > F.col("first_d")
    )
    overdue = assessable & (
        (F.col("m") - F.col("last_d")) * (F.col("n_orders") - 1)
        > 2 * (F.col("last_d") - F.col("first_d"))
    )
    flags = (
        per_cust.join(seg.hint("shuffle_hash"), "cust")
        .crossJoin(F.broadcast(corpus))
        .select(
            "segment",
            assessable.cast("long").alias("assessable"),
            overdue.cast("long").alias("overdue"),
        )
    )
    share = F.sum("overdue").cast("double") / F.sum("assessable").cast(
        "double"
    )
    return flags.groupBy("segment").agg(
        F.sum("assessable").cast("long").alias("n_assessable"),
        F.sum("overdue").cast("long").alias("n_overdue"),
        (F.floor(share * 1000000 + 0.5) / 1000000).alias("overdue_share"),
    )

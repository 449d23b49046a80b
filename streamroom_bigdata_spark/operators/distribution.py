"""Distributional & concentration analytics (round-10 breadth wave).

The reference's product loop reports point estimates (`processing.scala:
116-127` — mean usage per room); the questions a data team asks right after
are DISTRIBUTIONAL: do two samples come from the same distribution (KS,
Welch), how concentrated is revenue (Gini, HHI), how diverse is a
categorical profile (Shannon entropy, lexical diversity), is the trend
robust to outliers (Theil-Sen vs OLS), does the series remember itself
(autocorrelation), and do two daily series co-move monotonically
(Spearman).

Scale discipline (same rules as operators/stats.py):

- Every data-sized stage is a combinable aggregate (groupBy on a value,
  key, or day domain) — map-side partial aggregation applies, so nothing
  bigger than the group cardinality crosses a shuffle.
- Day-DOMAIN relations (daily revenue series) are bounded by the corpus
  calendar span, never by data volume — pairwise/window work over them is
  O(days²) or O(days), independent of row count (the counting_median /
  seasonal_decompose precedent).
- The one data-sized ranking (distributed KS) reuses the
  ``mann_whitney_u`` machinery: collapse to per-distinct-value counts,
  range-partition the COLLAPSED table, collect O(P) per-partition totals
  and broadcast them back as cumulative offsets — no global sort, tie
  groups never split across partitions.
- Float discipline: every reported statistic is a ratio of centered sums
  or integer counts, rounded to 6 decimals; constants entering a formula
  (ln 24) are computed once in Python and embedded as identical literals
  in both engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ranking import range_partition_offsets
from ..functions.timeutil import epoch_ms
from ..functions.localdf import local_df
from ..functions.reliability import materialize
from ..registry import register
from ..session import shuffle_partition_count
from ..sources import load_table

# ---------------------------------------------------------------------------
# Welch's t-test (unequal-variance two-sample mean comparison)
# ---------------------------------------------------------------------------

#: the same two arms mann_whitney_u compares, so the parametric and
#: nonparametric readouts are directly comparable
WT_GROUP_A = "purchase"
WT_GROUP_B = "click"

welch_t_oracle = f"""
WITH s AS (
  SELECT
    count(CASE WHEN event_type = '{WT_GROUP_A}' THEN value END) AS n_a,
    count(CASE WHEN event_type = '{WT_GROUP_B}' THEN value END) AS n_b,
    avg(CASE WHEN event_type = '{WT_GROUP_A}' THEN value END) AS m_a,
    avg(CASE WHEN event_type = '{WT_GROUP_B}' THEN value END) AS m_b,
    var_samp(CASE WHEN event_type = '{WT_GROUP_A}' THEN value END) AS v_a,
    var_samp(CASE WHEN event_type = '{WT_GROUP_B}' THEN value END) AS v_b
  FROM events
  WHERE event_type IN ('{WT_GROUP_A}', '{WT_GROUP_B}')
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
       round((m_a - m_b) / nullif(sqrt(v_a / n_a + v_b / n_b), 0), 6)
         AS t_stat,
       round(pow(v_a / n_a + v_b / n_b, 2)
             / nullif(pow(v_a / n_a, 2) / (n_a - 1)
                      + pow(v_b / n_b, 2) / (n_b - 1), 0), 2) AS df_welch
FROM s
"""


@register("welch_t_test", welch_t_oracle)
def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of `value` between the purchase and
    click arms, with the Welch-Satterthwaite effective degrees of freedom —
    the parametric complement to ``mann_whitney_u`` on the same two arms
    (and the two-sample complement to ``anova_f_oneway``'s k-sample F).
    One conditional single-pass aggregate: count/mean/var_samp per arm via
    CASE projection, so the whole test is one combinable groupBy-less
    aggregate — a handful of doubles cross the final exchange at any data
    size. t is a ratio of centered sums (round-6 stable)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(WT_GROUP_A, WT_GROUP_B)
    )
    va = F.when(F.col("event_type") == WT_GROUP_A, F.col("value"))
    vb = F.when(F.col("event_type") == WT_GROUP_B, F.col("value"))
    s = ev.agg(
        F.count(va).alias("n_a"),
        F.count(vb).alias("n_b"),
        F.avg(va).alias("m_a"),
        F.avg(vb).alias("m_b"),
        F.var_samp(va).alias("v_a"),
        F.var_samp(vb).alias("v_b"),
    )
    se2_a = F.col("v_a") / F.col("n_a")
    se2_b = F.col("v_b") / F.col("n_b")
    # nullif guards: two zero-variance arms make the SE and the
    # Welch-Satterthwaite denominator exactly 0 — t/df are then undefined
    # (NULL), not an ANSI DIVIDE_BY_ZERO abort. Counts are value-based
    # (F.count over the CASE) on BOTH engines, so a NULL value row can
    # never skew n cross-engine.
    return s.select(
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round(
            (F.col("m_a") - F.col("m_b"))
            / F.nullif(F.sqrt(se2_a + se2_b), F.lit(0.0)),
            6,
        ).alias("t_stat"),
        F.round(
            F.pow(se2_a + se2_b, F.lit(2))
            / F.nullif(
                F.pow(se2_a, F.lit(2)) / (F.col("n_a") - 1)
                + F.pow(se2_b, F.lit(2)) / (F.col("n_b") - 1),
                F.lit(0.0),
            ),
            2,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov distance (distributed, no global sort)
# ---------------------------------------------------------------------------

KS_GROUP_A = "1-URGENT"
KS_GROUP_B = "5-LOW"

ks_two_sample_oracle = f"""
WITH s AS (
  SELECT o_totalprice AS v,
         sum(CASE WHEN o_orderpriority = '{KS_GROUP_A}' THEN 1 ELSE 0 END)
           AS a_cnt,
         sum(CASE WHEN o_orderpriority = '{KS_GROUP_B}' THEN 1 ELSE 0 END)
           AS b_cnt
  FROM orders
  WHERE o_orderpriority IN ('{KS_GROUP_A}', '{KS_GROUP_B}')
  GROUP BY v
), t AS (
  SELECT sum(a_cnt) AS n_a, sum(b_cnt) AS n_b FROM s
), c AS (
  SELECT sum(a_cnt) OVER (ORDER BY v) AS cum_a,
         sum(b_cnt) OVER (ORDER BY v) AS cum_b
  FROM s
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(max(abs(cum_a / CAST(nullif(n_a, 0) AS DOUBLE)
                     - cum_b / CAST(nullif(n_b, 0) AS DOUBLE))), 6) AS ks_stat
FROM c, t
GROUP BY n_a, n_b
"""


@register("ks_two_sample_price", ks_two_sample_oracle)
def ks_two_sample_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the order-price
    distributions of the URGENT and LOW priority classes:
    D = max over observed values of |F_a(v) - F_b(v)|.

    Distributed empirical-CDF WITHOUT a global sort — the
    ``mann_whitney_u`` machinery applied to two cumulative counts at once:
    observations collapse to per-distinct-value (a_cnt, b_cnt) first (the
    only data-sized exchange, combinable), the COLLAPSED table is
    range-partitioned, and O(P) per-partition (a, b) totals are collected
    and broadcast back as per-group cumulative offsets. Equal values land
    in one range partition, so both CDFs are evaluated exactly at every
    distinct value; D is a max of integer-count ratios (bit-stable
    cross-engine before the round)."""
    od = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(KS_GROUP_A, KS_GROUP_B))
        .select(
            F.col("o_totalprice").alias("v"),
            (F.col("o_orderpriority") == KS_GROUP_A).cast("long").alias("is_a"),
        )
    )
    vals = od.groupBy("v").agg(
        F.sum("is_a").alias("a_cnt"),
        (F.count("*") - F.sum("is_a")).alias("b_cnt"),
    )
    n_parts = shuffle_partition_count(spark)
    # pid-pinned range partitioning + O(P) offset collection — shared
    # machinery in functions/ranking.py, here with TWO running counters
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals,
        ["v"],
        [("a", F.sum("a_cnt")), ("b", F.sum("b_cnt"))],
        n_parts,
    )
    n_a, n_b = totals["a"], totals["b"]
    # degenerate guard (the welch_t_test / theil_sen convention): an absent
    # priority class makes D undefined — emit the NULL row both engines
    # agree on (oracle divides by nullif(n, 0)) instead of dividing by a
    # literal 0.0 (ANSI abort on Spark, inf on DuckDB). Both classes
    # absent → the oracle's cross join is empty → empty frame here too.
    if n_a == 0 and n_b == 0:
        return local_df(spark, [], "n_a long, n_b long, ks_stat double")
    if n_a == 0 or n_b == 0:
        return spark.createDataFrame(
            [(n_a, n_b, None)], "n_a long, n_b long, ks_stat double"
        )
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ranged.withColumn("la", F.sum("a_cnt").over(w))
        .withColumn("lb", F.sum("b_cnt").over(w))
        .join(F.broadcast(offsets_df), "pid")
        .agg(
            F.max(
                F.abs(
                    (F.col("off_a") + F.col("la")) / F.lit(float(n_a))
                    - (F.col("off_b") + F.col("lb")) / F.lit(float(n_b))
                )
            ).alias("d")
        )
        .select(
            F.lit(n_a).cast("long").alias("n_a"),
            F.lit(n_b).cast("long").alias("n_b"),
            F.round("d", 6).alias("ks_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Daily revenue series helpers (day-DOMAIN-bounded relations)
# ---------------------------------------------------------------------------


def _daily_orders(od: DataFrame, cents: bool = False) -> DataFrame:
    """The day-DOMAIN table of the ``orders`` table ``od``: per-day order
    revenue, as the double sum ``rev`` or, with ``cents``, in exact integer
    cents ``rev_c`` (never both: the cents cost a HALF_UP round per order
    row), plus ``n_orders``; day index = floor(epoch days) of o_orderdate.
    One combinable groupBy on the day domain — bounded by the corpus
    calendar span at ANY data scale. Each consumer loads ``od`` through its
    own module's ``load_table``.

    Materialized ONCE (round 16; guide §2.4): every
    consumer (theil_sen, acf, spearman, ljung_box, dow bands, the quant
    module's rank and pair statistics) reads the day table 2-5 times, and
    without the barrier each read re-ran the data-sized orders scan + day
    aggregate. ≤ span rows of flat numerics — the barrier is trivially
    small next to the scans it removes. Small sides stay explicitly
    F.broadcast at the call sites, so the erased statistics never gate a
    needed broadcast."""
    v, rev = ("c", "rev_c") if cents else ("o_totalprice", "rev")
    c = F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    return (
        od.select(
            F.floor(epoch_ms(F.col("o_orderdate").cast("timestamp")) / 86400000)
            .cast("bigint")
            .alias("d"),
            c if cents else v,
        )
        .groupBy("d")
        .agg(F.sum(v).alias(rev), F.count("*").alias("n_orders"))
        .transform(materialize)
    )


_DAILY_SQL = """
  SELECT CAST(floor(epoch_ms(CAST(o_orderdate AS TIMESTAMP)) / 86400000.0)
              AS BIGINT) AS d,
         sum(o_totalprice) AS rev,
         count(*) AS n_orders
  FROM orders GROUP BY d
"""

# ---------------------------------------------------------------------------
# Theil-Sen robust slope (median of pairwise slopes, day-domain-bounded)
# ---------------------------------------------------------------------------

theil_sen_oracle = f"""
WITH daily AS ({_DAILY_SQL}),
pairs AS (
  SELECT (b.rev - a.rev) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON b.d > a.d
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(quantile_cont(slope, 0.5), 6) AS ts_slope_per_day
FROM pairs
"""


@register("theil_sen_daily_trend", theil_sen_oracle)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue: the median of all pairwise
    slopes (rev_j - rev_i)/(d_j - d_i), i < j — insensitive to the outlier
    days that pull ``regression_trend``'s least-squares slope.

    The pairwise stage is O(days²) on the day-DOMAIN table — bounded by
    the calendar span, independent of row count (2399 days → 2.9M pairs at
    ANY scale; the data-sized work is the one combinable daily groupBy).
    The streamed side is round-robin repartitioned so pair generation runs
    on all cores (AQE otherwise coalesces the tiny daily relation to one
    task, serializing the whole O(days²) stage — measured 9 s →
    sub-second at a 2400-day span). The exact median is ONE
    ``percentile(slope, 0.5)`` aggregate (round 16): the slope relation is
    calendar-bounded (≤ span²/2 rows at ANY corpus scale), so buffering it
    in the single final-aggregation task is scale-safe — and it folds the
    previous 6-job order-statistic chain (range-partition sampling pass +
    pid checkpoint + O(P) count collect + row_number pick) into the one
    aggregation job. percentile()'s linear interpolation at 0.5 is the
    mean of the two central elements — the quantile_cont semantics the
    oracle uses (hash-verified at three scales)."""
    n_parts = shuffle_partition_count(spark)
    # the day-DOMAIN table is materialized once inside _daily_orders
    # (three consumers here: both pair sides + the n_days scalar)
    daily = _daily_orders(load_table(spark, sf_dir, "orders")).select("d", "rev")
    a = daily.repartition(n_parts).select(
        F.col("d").alias("d1"), F.col("rev").alias("r1")
    )
    b = daily.select(F.col("d").alias("d2"), F.col("rev").alias("r2"))
    pairs = a.join(F.broadcast(b), F.col("d2") > F.col("d1")).select(
        ((F.col("r2") - F.col("r1")) / (F.col("d2") - F.col("d1")).cast("double"))
        .alias("slope")
    )
    n_days = daily.agg(F.count("*").alias("n_days"))
    return (
        F.broadcast(n_days)
        .crossJoin(
            pairs.agg(
                F.count("*").alias("n_pairs"),
                F.round(F.expr("percentile(slope, 0.5)"), 6).alias(
                    "ts_slope_per_day"
                ),
            )
        )
        .select("n_days", "n_pairs", "ts_slope_per_day")
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of daily revenue at lags 1..7
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7

acf_oracle = f"""
WITH daily AS ({_DAILY_SQL}),
m AS (
  SELECT avg(rev) AS mu, sum((rev - (SELECT avg(rev) FROM daily)) ^ 2) AS ss
  FROM daily
),
lags AS (SELECT unnest(range(1, {ACF_MAX_LAG} + 1)) AS lag),
prods AS (
  SELECT l.lag,
         count(*) AS n_pairs,
         sum((a.rev - m.mu) * (b.rev - m.mu)) AS num
  FROM lags l
  JOIN daily a ON true
  JOIN daily b ON b.d = a.d + l.lag, m
  GROUP BY l.lag
)
SELECT CAST(p.lag AS INT) AS lag, CAST(p.n_pairs AS BIGINT) AS n_pairs,
       round(p.num / m.ss, 6) AS acf
FROM prods p, m
"""


@register("acf_daily_revenue", acf_oracle)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily-revenue series at lags 1..7:
    r_k = Σ(x_t - x̄)(x_{{t+k}} - x̄) / Σ(x_t - x̄)² over day pairs present
    at distance k (calendar gaps simply drop pairs). The series memory
    readout that motivates ``seasonal_decompose_daily``'s weekly term.

    All work above the one combinable daily groupBy is day-DOMAIN-bounded:
    the lag spine is a 7-row literal exploded against the daily table, the
    self-join is an equi-join on day, and the global mean/SS cross as a
    1-row broadcast (in-plan scalar pattern). acf is a ratio of centered
    sums — accumulation-order noise cancels, round-6 stable."""
    daily = _daily_orders(load_table(spark, sf_dir, "orders")).select("d", "rev")
    # centered SS needs the mean first: two-pass via 1-row broadcast
    mu = daily.agg(F.avg("rev").alias("mu"))
    centered = daily.crossJoin(F.broadcast(mu)).select(
        "d", (F.col("rev") - F.col("mu")).alias("dev")
    )
    ss = centered.agg(F.sum(F.pow("dev", F.lit(2))).alias("ss"))
    lagged = centered.select(
        "d",
        "dev",
        F.explode(
            F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))
        ).alias("lag"),
    )
    b = centered.select(F.col("d").alias("d2"), F.col("dev").alias("dev2"))
    prods = (
        lagged.join(b, F.col("d2") == F.col("d") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("dev") * F.col("dev2")).alias("num"),
        )
    )
    return prods.crossJoin(F.broadcast(ss)).select(
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        F.round(F.col("num") / F.col("ss"), 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation of two daily series (revenue vs order count)
# ---------------------------------------------------------------------------

spearman_oracle = f"""
WITH daily AS ({_DAILY_SQL}),
ranked AS (
  SELECT rank() OVER (ORDER BY rev)
           + (count(*) OVER (PARTITION BY rev) - 1) / 2.0 AS r_rev,
         rank() OVER (ORDER BY n_orders)
           + (count(*) OVER (PARTITION BY n_orders) - 1) / 2.0 AS r_cnt
  FROM daily
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(corr(r_rev, r_cnt), 6) AS spearman_rho
FROM ranked
"""


@register("spearman_daily_corr", spearman_oracle)
def spearman_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily revenue and daily order
    count: Pearson correlation of average ranks (tie groups get the mean
    of their rank range — rank() + (tie_count-1)/2, the classical
    mid-rank), answering "do busier days make proportionally more money"
    without assuming linearity.

    The ranking windows run over the day-DOMAIN table (calendar-bounded,
    plan-audit allowlisted) — the data-sized stage is the one combinable
    daily groupBy. Average ranks are multiples of 0.5 below 2^52, so the
    rank vectors are bit-identical cross-engine; rho is a ratio of
    centered sums (round-6 stable)."""
    daily = _daily_orders(load_table(spark, sf_dir, "orders"))
    w_rev = Window.orderBy("rev")
    w_cnt = Window.orderBy("n_orders")
    ranked = daily.select(
        (
            F.rank().over(w_rev)
            + (F.count("*").over(Window.partitionBy("rev")) - 1) / 2.0
        ).alias("r_rev"),
        (
            F.rank().over(w_cnt)
            + (F.count("*").over(Window.partitionBy("n_orders")) - 1) / 2.0
        ).alias("r_cnt"),
    )
    return ranked.agg(
        F.count("*").alias("n_days"),
        F.round(F.corr("r_rev", "r_cnt"), 6).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Shannon entropy of the hour-of-day profile per event type
# ---------------------------------------------------------------------------

#: ln(24) computed once in Python, embedded as the same literal in both
#: engines (Benford precedent) — neither engine evaluates a transcendental
#: of its own for the normalizer
_LN_24 = round(math.log(24.0), 12)

entropy_hour_oracle = f"""
WITH h AS (
  SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS hr, count(*) AS cnt
  FROM events GROUP BY event_type, hr
), t AS (
  SELECT event_type, sum(cnt) AS total, count(*) AS n_hours
  FROM h GROUP BY event_type
)
SELECT h.event_type,
       CAST(t.total AS BIGINT) AS n_events,
       CAST(t.n_hours AS INT) AS n_hours,
       round(-sum((h.cnt / CAST(t.total AS DOUBLE))
                  * ln(h.cnt / CAST(t.total AS DOUBLE))), 6) AS entropy_nats,
       round(-sum((h.cnt / CAST(t.total AS DOUBLE))
                  * ln(h.cnt / CAST(t.total AS DOUBLE))) / {_LN_24}, 6)
         AS norm_entropy
FROM h JOIN t USING (event_type)
GROUP BY h.event_type, t.total, t.n_hours
"""


@register("entropy_hour_profile", entropy_hour_oracle)
def entropy_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each event type's hour-of-day histogram,
    plus the ln(24)-normalized form in [0, 1]: 1 = uniformly spread around
    the clock, 0 = concentrated in one hour — the diversity readout behind
    "is this event type organic or batch-driven". Complements
    ``chi_square_type_dow`` (dependence test) with a per-type dispersion
    measure.

    Two combinable aggregates (24·|event_type| histogram cells, then
    |event_type| rows); the per-type totals join back as an enum-sized
    broadcast. ln evaluates on count ratios only (unigram_logprob
    precedent); ln(24) is a shared Python literal."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            "event_type", F.hour(F.col("ts").cast("timestamp")).alias("hr")
        )
        .groupBy("event_type", "hr")
        .agg(F.count("*").alias("cnt"))
    )
    t = h.groupBy("event_type").agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_hours")
    )
    p = F.col("cnt") / F.col("total").cast("double")
    return (
        h.join(F.broadcast(t), "event_type")
        .groupBy("event_type", "total", "n_hours")
        .agg((-F.sum(p * F.log(p))).alias("ent"))
        .select(
            "event_type",
            F.col("total").alias("n_events"),
            F.col("n_hours").cast("int").alias("n_hours"),
            F.round("ent", 6).alias("entropy_nats"),
            F.round(F.col("ent") / F.lit(_LN_24), 6).alias("norm_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue per market segment
# ---------------------------------------------------------------------------

gini_oracle = """
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS r
  FROM orders GROUP BY o_custkey
), seg AS (
  SELECT c.c_mktsegment AS segment, rev.r, rev.o_custkey
  FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey
), ranked AS (
  SELECT segment, r,
         row_number() OVER (PARTITION BY segment
                            ORDER BY r, o_custkey) AS i
  FROM seg
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(r), 2) AS total_rev,
       round(2.0 * sum(i * r) / (count(*) * sum(r))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
GROUP BY segment
"""


@register("gini_customer_revenue", gini_oracle)
def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue within each market
    segment — 0 = every customer spends the same, →1 = one whale carries
    the segment. The standard rank identity
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending revenue (customer-key
    tiebreak makes the ranking deterministic cross-engine; ties in revenue
    change i·xᵢ only within a tie group whose sum is invariant under
    permutation, so the statistic is tiebreak-stable).

    The data-sized stage is the combinable per-customer revenue groupBy;
    the ranking window partitions by segment over the CUSTOMER-sized
    relation (a dimension, orders-of-magnitude below the fact table —
    the same budget ``topk_per_brand`` spends). No broadcast hints: the
    customer join is AQE's call."""
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("r"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    seg = rev.join(cust, rev.o_custkey == cust.c_custkey)
    w = Window.partitionBy("segment").orderBy("r", "o_custkey")
    ranked = seg.select("segment", "r", F.row_number().over(w).alias("i"))
    n = F.count("*")
    return ranked.groupBy("segment").agg(
        n.cast("long").alias("n_customers"),
        F.round(F.sum("r"), 2).alias("total_rev"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("r")) / (n * F.sum("r"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration of supplier revenue per nation
# ---------------------------------------------------------------------------

hhi_oracle = """
WITH srev AS (
  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS r
  FROM lineitem GROUP BY l_suppkey
), located AS (
  SELECT n.n_name AS nation, srev.r
  FROM srev
  JOIN supplier s ON s.s_suppkey = srev.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
), tot AS (
  SELECT nation, sum(r) AS t, count(*) AS n, max(r) AS mr
  FROM located GROUP BY nation
)
SELECT l.nation,
       CAST(t.n AS BIGINT) AS n_suppliers,
       round(t.t, 2) AS total_rev,
       round(sum((l.r / t.t) ^ 2), 6) AS hhi,
       round(t.mr / t.t, 6) AS top_share
FROM located l JOIN tot t ON t.nation = l.nation
GROUP BY l.nation, t.n, t.t, t.mr
"""


@register("hhi_supplier_concentration", hhi_oracle)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration per
    nation: Σ shareᵢ² over each nation's suppliers (1/n = perfectly even,
    1 = monopoly), plus the top supplier's share — the market-structure
    complement to ``gini_customer_revenue`` on the sell side.

    Shape: one combinable per-supplier revenue groupBy (the only
    data-sized exchange), then supplier/nation dimension joins and a
    nation-keyed aggregate. Shares are computed against the per-nation
    total via a second combinable aggregate joined back enum-sized — no
    window over data-sized input anywhere."""
    srev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "r"
            )
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("nation")
    )
    located = (
        srev.join(supp, srev.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), "s_nationkey")
        .select("nation", "r")
    )
    totals = located.groupBy("nation").agg(
        F.sum("r").alias("tot"),
        F.count("*").alias("n_suppliers"),
        F.max("r").alias("top_r"),
    )
    return (
        located.join(F.broadcast(totals), "nation")
        .groupBy("nation", "tot", "n_suppliers", "top_r")
        .agg(F.sum(F.pow(F.col("r") / F.col("tot"), F.lit(2))).alias("hhi_raw"))
        .select(
            "nation",
            F.col("n_suppliers").cast("long").alias("n_suppliers"),
            F.round("tot", 2).alias("total_rev"),
            F.round("hhi_raw", 6).alias("hhi"),
            F.round(F.col("top_r") / F.col("tot"), 6).alias("top_share"),
        )
    )


# ---------------------------------------------------------------------------
# Lexical diversity per document source
# ---------------------------------------------------------------------------

lexical_diversity_oracle = """
WITH tf AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), cnt AS (
  SELECT source, tok, count(*) AS c FROM tf GROUP BY source, tok
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS type_token_ratio,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
FROM cnt
GROUP BY source
"""


@register("lexical_diversity", lexical_diversity_oracle)
def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level lexical diversity per document source: type-token
    ratio (distinct tokens / total tokens) and hapax-legomenon ratio
    (fraction of the vocabulary seen exactly once) — the vocabulary-growth
    signals a pretraining-mix curator reads next to ``text_quality``'s
    per-document scores (a synthetic or templated source shows collapsed
    TTR; heavy hapax mass predicts tokenizer OOV pressure).

    Same tokenization as the vocab family (space split). Two combinable
    aggregates — (source, token) counts, then source-keyed rollup; both
    statistics are ratios of integer counts (bit-stable before the
    round)."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    hapax = F.sum((F.col("c") == 1).cast("long"))
    return cnt.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        hapax.alias("n_hapax"),
        F.round(F.count("*") / F.sum("c").cast("double"), 6).alias(
            "type_token_ratio"
        ),
        F.round(hapax / F.count("*").cast("double"), 6).alias("hapax_ratio"),
    )


# ---------------------------------------------------------------------------
# Hill estimator of the Pareto tail index (heavy-tail diagnostics)
# ---------------------------------------------------------------------------

#: order statistics entering the estimator: the k largest observations
#: against the (k+1)-th as threshold
HILL_K = 200

hill_tail_oracle = f"""
WITH topk AS (
  SELECT o_totalprice AS x
  FROM orders ORDER BY o_totalprice DESC LIMIT {HILL_K + 1}
), thr AS (
  SELECT min(x) AS x_thr FROM topk
)
SELECT CAST({HILL_K} AS INT) AS k,
       round(x_thr, 2) AS threshold,
       round(sum(ln(x / x_thr)) / {HILL_K}.0, 6) AS mean_log_excess,
       round({HILL_K}.0 / sum(ln(x / x_thr)), 6) AS hill_alpha
FROM topk, thr
GROUP BY x_thr
"""


@register("hill_tail_index", hill_tail_oracle)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail exponent of the order-price
    distribution: α̂ = k / Σᵢ ln(x₍ᵢ₎ / x₍ₖ₊₁₎) over the k largest
    observations — the heavy-tail diagnostic behind ``winsorized_means``'
    clipping and ``gini_customer_revenue``'s concentration (α ≤ 2 means
    the variance the parametric tests assume doesn't exist).

    The ONLY data-sized stage is TakeOrderedAndProject for the top k+1
    rows (per-partition heads, (k+1)·P-row driver merge — no global
    sort); everything after runs on k+1 rows with the threshold crossing
    as a 1-row broadcast. Boundary ties are value-identical by
    construction (any choice among equal x contributes the same ln
    terms), so the statistic is deterministic cross-engine."""
    topk = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_totalprice").alias("x"))
        .orderBy(F.desc("x"))
        .limit(HILL_K + 1)
        # pin the k+1-row result: the relation is consumed twice (threshold
        # aggregate + excess terms) and Spark does not reuse TakeOrdered
        # subtrees — unpinned, the data-sized scan+heap would run twice
        .transform(materialize)
    )
    thr = topk.agg(F.min("x").alias("x_thr"))
    log_sum = F.sum(F.log(F.col("x") / F.col("x_thr")))
    return (
        topk.crossJoin(F.broadcast(thr))
        .groupBy("x_thr")
        .agg(
            F.round(log_sum / float(HILL_K), 6).alias("mean_log_excess"),
            F.round(float(HILL_K) / log_sum, 6).alias("hill_alpha"),
        )
        .select(
            F.lit(HILL_K).cast("int").alias("k"),
            F.round("x_thr", 2).alias("threshold"),
            "mean_log_excess",
            "hill_alpha",
        )
    )


# ---------------------------------------------------------------------------
# Fano dispersion of hourly event counts (zero-inclusive bucket spine)
# ---------------------------------------------------------------------------

fano_oracle = """
WITH b AS (
  SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS h0,
         date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS h1
  FROM events
), hours AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM b
), types AS (
  SELECT DISTINCT event_type FROM events
), grid AS (
  SELECT t.event_type, h.hr FROM types t, hours h
), cnt AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         count(*) AS c
  FROM events GROUP BY 1, 2
), filled AS (
  SELECT g.event_type, coalesce(cnt.c, 0) AS c
  FROM grid g
  LEFT JOIN cnt ON cnt.event_type = g.event_type AND cnt.hr = g.hr
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(c) AS BIGINT) AS n_events,
       round(avg(c), 6) AS mean_per_hour,
       round(var_pop(c) / avg(c), 6) AS fano,
       round(sqrt(var_pop(c)) / avg(c), 6) AS cv
FROM filled
GROUP BY event_type
"""


@register("fano_dispersion_hourly", fano_oracle)
def fano_dispersion_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (Fano factor = var/mean) and coefficient of
    variation of each event type's hourly arrival counts, over a
    ZERO-INCLUSIVE hour spine — a Poisson process sits at Fano 1, batch
    jobs and bursts push it far above; silent hours count (dropping empty
    buckets silently biases the variance down, which is why the spine is
    built rather than using observed buckets).

    The data-sized stage is one combinable (type, hour) count; the spine
    is calendar-bounded (`sequence` between the 1-row min/max bounds) and
    the grid is |types| × hours — both broadcast-sized at any data
    scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hr"),
    )
    bounds = ev.agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
    hours = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hr")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hours))
    cnt = ev.groupBy("event_type", "hr").agg(F.count("*").alias("c"))
    filled = grid.join(cnt, ["event_type", "hr"], "left").select(
        "event_type", F.coalesce("c", F.lit(0)).alias("c")
    )
    return filled.groupBy("event_type").agg(
        F.count("*").alias("n_buckets"),
        F.sum("c").alias("n_events"),
        F.round(F.avg("c"), 6).alias("mean_per_hour"),
        F.round(F.var_pop("c") / F.avg("c"), 6).alias("fano"),
        F.round(F.sqrt(F.var_pop("c")) / F.avg("c"), 6).alias("cv"),
    )


# ---------------------------------------------------------------------------
# Cramér's V (effect size of the type × weekday association)
# ---------------------------------------------------------------------------

cramers_v_oracle = """
WITH cells AS (
  SELECT event_type,
         CAST(isodow(CAST(ts AS TIMESTAMP)) - 1 AS INT) AS dow,
         count(*) AS obs
  FROM events GROUP BY 1, 2
), rowt AS (
  SELECT event_type, sum(obs) AS r FROM cells GROUP BY 1
), colt AS (
  SELECT dow, sum(obs) AS c FROM cells GROUP BY 1
), tot AS (
  SELECT sum(obs) AS n FROM cells
), obs_part AS (
  SELECT sum(pow(CAST(ce.obs AS DOUBLE)
                 - CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)
                   / CAST(t.n AS DOUBLE), 2)
             / (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)
                / CAST(t.n AS DOUBLE))) AS chi_obs,
         sum(CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)
             / CAST(t.n AS DOUBLE)) AS e_obs
  FROM cells ce
  JOIN rowt r USING (event_type)
  JOIN colt c USING (dow)
  CROSS JOIN tot t
), dims AS (
  SELECT (SELECT count(*) FROM rowt) AS nr,
         (SELECT count(*) FROM colt) AS nc
)
SELECT CAST(t.n AS BIGINT) AS n,
       CAST(d.nr AS INT) AS n_rows,
       CAST(d.nc AS INT) AS n_cols,
       round(o.chi_obs + (CAST(t.n AS DOUBLE) - o.e_obs), 4) AS chi2,
       round(sqrt((o.chi_obs + (CAST(t.n AS DOUBLE) - o.e_obs))
                  / nullif(CAST(t.n AS DOUBLE) * (least(d.nr, d.nc) - 1), 0)),
             6) AS cramers_v
FROM obs_part o, tot t, dims d
"""


@register("cramers_v_type_dow", cramers_v_oracle)
def cramers_v_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event-type × weekday association —
    the [0, 1] summary that makes ``chi_square_type_dow``'s per-cell χ²
    contributions comparable across tables of different size and shape.
    Empty grid cells contribute their full expected count: χ² =
    Σ_observed (o−e)²/e + (n − Σ_observed e), algebraically identical to
    summing (0−e)²/e over missing cells without materializing them.

    Same shape as the χ² query: one combinable cell count, enum-sized
    marginal broadcasts, 1-row reduce."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.weekday(F.col("ts").cast("timestamp")).cast("int").alias("dow"),
    )
    cells = ev.groupBy("event_type", "dow").agg(F.count("*").alias("obs"))
    rowt = cells.groupBy("event_type").agg(F.sum("obs").alias("r"))
    colt = cells.groupBy("dow").agg(F.sum("obs").alias("c"))
    tot = cells.agg(F.sum("obs").alias("n"))
    e = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.col("n").cast("double")
    )
    obs_part = (
        cells.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "dow")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.pow(F.col("obs").cast("double") - e, F.lit(2)) / e).alias(
                "chi_obs"
            ),
            F.sum(e).alias("e_obs"),
            F.first("n").alias("n"),
        )
    )
    dims = (
        rowt.agg(F.count("*").alias("nr"))
        .crossJoin(F.broadcast(colt.agg(F.count("*").alias("nc"))))
    )
    chi2 = F.col("chi_obs") + (F.col("n").cast("double") - F.col("e_obs"))
    return obs_part.crossJoin(F.broadcast(dims)).select(
        F.col("n").cast("long").alias("n"),
        F.col("nr").cast("int").alias("n_rows"),
        F.col("nc").cast("int").alias("n_cols"),
        F.round(chi2, 4).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                # nullif: a single-category table (least(nr,nc)=1) has no
                # defined V — emit NULL, not an ANSI DIVIDE_BY_ZERO abort
                # (DuckDB's IEEE division would return inf and diverge)
                / F.nullif(
                    F.col("n").cast("double")
                    * (F.least("nr", "nc") - F.lit(1)),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation between two event-type daily series
# ---------------------------------------------------------------------------

XC_MAX_LAG = 7
XC_X_TYPE = "click"
XC_Y_TYPE = "purchase"

cross_corr_oracle = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         COALESCE(sum(CASE WHEN event_type = '{XC_X_TYPE}'
                           THEN value END), 0.0) AS x,
         COALESCE(sum(CASE WHEN event_type = '{XC_Y_TYPE}'
                           THEN value END), 0.0) AS y
  FROM events WHERE event_type IN ('{XC_X_TYPE}', '{XC_Y_TYPE}')
  GROUP BY 1
), m AS (
  SELECT avg(x) AS mx, avg(y) AS my,
         sum((x - (SELECT avg(x) FROM daily)) ^ 2) AS ssx,
         sum((y - (SELECT avg(y) FROM daily)) ^ 2) AS ssy
  FROM daily
),
lags AS (SELECT unnest(range(0, {XC_MAX_LAG} + 1)) AS lag),
prods AS (
  SELECT l.lag,
         count(*) AS n_pairs,
         sum((a.x - m.mx) * (b.y - m.my)) AS num
  FROM lags l
  JOIN daily a ON true
  JOIN daily b ON b.d = a.d + CAST(l.lag AS INT), m
  GROUP BY l.lag
)
SELECT CAST(p.lag AS INT) AS lag, CAST(p.n_pairs AS BIGINT) AS n_pairs,
       round(p.num / nullif(sqrt(m.ssx * m.ssy), 0), 6) AS xcorr
FROM prods p, m
"""


@register("cross_corr_lagged", cross_corr_oracle)
def cross_corr_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of the click and purchase daily-value series at
    lags 0..XC_MAX_LAG: r(k) = Σ(x_t − x̄)(y_{t+k} − ȳ) / √(SSx·SSy) —
    the lead-lag discovery readout (`acf_daily_revenue` asks whether a
    series predicts ITSELF; this asks whether clicks today predict
    purchases k days out, the shape a marketing team reads before
    trusting `multi_touch_attribution`'s window length).

    All work above the one combinable conditional daily groupBy is
    day-DOMAIN-bounded: an 8-row lag spine exploded against the daily
    table, a day-arithmetic equi-join, and the 1-row means/SS broadcast
    (in-plan scalar pattern). Missing-type days enter as exact 0.0 on
    both engines; xcorr is a ratio of centered sums — round-6 stable."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(XC_X_TYPE, XC_Y_TYPE)
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == XC_X_TYPE, F.col("value"))),
            F.lit(0.0),
        ).alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == XC_Y_TYPE, F.col("value"))),
            F.lit(0.0),
        ).alias("y"),
    )
    m = daily.agg(F.avg("x").alias("mx"), F.avg("y").alias("my"))
    centered = daily.crossJoin(F.broadcast(m)).select(
        "d",
        (F.col("x") - F.col("mx")).alias("devx"),
        (F.col("y") - F.col("my")).alias("devy"),
    )
    ss = centered.agg(
        F.sum(F.pow("devx", F.lit(2))).alias("ssx"),
        F.sum(F.pow("devy", F.lit(2))).alias("ssy"),
    )
    lagged = centered.select(
        "d",
        "devx",
        F.explode(F.sequence(F.lit(0), F.lit(XC_MAX_LAG))).alias("lag"),
    )
    b = centered.select(F.col("d").alias("d2"), F.col("devy").alias("devy2"))
    prods = (
        lagged.join(b, F.col("d2") == F.date_add(F.col("d"), F.col("lag")))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("devx") * F.col("devy2")).alias("num"),
        )
    )
    return prods.crossJoin(F.broadcast(ss)).select(
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        # nullif: a constant/empty-type series makes SS zero — NULL, not
        # an ANSI DIVIDE_BY_ZERO abort (the welch_t_test convention)
        F.round(
            F.col("num")
            / F.nullif(F.sqrt(F.col("ssx") * F.col("ssy")), F.lit(0.0)),
            6,
        ).alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# Theil T index with between/within-nation decomposition
# ---------------------------------------------------------------------------

theil_oracle = """
WITH cust AS (
  SELECT c.c_custkey, c.c_nationkey,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS x
  FROM cust
), grp AS (
  SELECT c.c_nationkey,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(c.cents) AS BIGINT) AS x_g,
         sum((CAST(c.cents AS DOUBLE) / t.x)
             * ln(CAST(c.cents AS DOUBLE) * t.n / t.x)) AS t_contrib
  FROM cust c, tot t
  GROUP BY c.c_nationkey, t.n, t.x
)
SELECT n.n_name,
       g.n_g AS n_customers,
       round(CAST(g.x_g AS DOUBLE) / t.x, 6) AS revenue_share,
       round(g.t_contrib
             - (CAST(g.x_g AS DOUBLE) / t.x)
               * ln((CAST(g.x_g AS DOUBLE) / t.x)
                    / (CAST(g.n_g AS DOUBLE) / t.n)), 6) AS theil_within,
       round((CAST(g.x_g AS DOUBLE) / t.x)
             * ln((CAST(g.x_g AS DOUBLE) / t.x)
                  / (CAST(g.n_g AS DOUBLE) / t.n)), 6) AS theil_between
FROM grp g JOIN nation n ON n.n_nationkey = g.c_nationkey, tot t
"""


@register("theil_index_nations", theil_oracle)
def theil_index_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-customer revenue, exactly
    decomposed between and within nations — the decomposability Gini
    LACKS (`gini_customer_revenue` reports one scalar; Theil answers
    "is the inequality BETWEEN markets or INSIDE them?", the question a
    data team asks next). Per nation: its revenue share s_g, its
    between-group term s_g·ln(s_g/p_g), and its within contribution
    s_g·T_g; summing the two term columns over all rows reproduces the
    total T = Σ (x_i/X)·ln(x_i·N/X).

    Plan: per-customer revenue is ONE combinable groupBy (cents-exact
    BIGINT), the 1-row (N, X) total is broadcast, and the per-nation
    terms are a second combinable aggregate over the customer frame —
    nothing bigger than |customers| crosses a shuffle, and the nation
    join is a 25-row broadcast. Floats enter only at ln() over exact
    integer ratios; every sum is sign-uniform within a group up to the
    final subtraction of exact-ratio logs, so round-6 is hash-stable."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey", "o_totalprice"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    tot = cust.agg(
        F.count("*").alias("n"), F.sum("cents").alias("x")
    )
    x_d = F.col("cents").cast("double")
    grp = (
        cust.crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_g"),
            F.sum("cents").alias("x_g"),
            F.sum(
                (x_d / F.col("x"))
                * F.log(x_d * F.col("n") / F.col("x"))
            ).alias("t_contrib"),
            F.any_value("n").alias("n"),
            F.any_value("x").alias("x"),
        )
    )
    share = F.col("x_g").cast("double") / F.col("x")
    p_g = F.col("n_g").cast("double") / F.col("n")
    between = share * F.log(share / p_g)
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return grp.join(
        F.broadcast(nation), grp.c_nationkey == nation.n_nationkey
    ).select(
        "n_name",
        F.col("n_g").alias("n_customers"),
        F.round(share, 6).alias("revenue_share"),
        F.round(F.col("t_contrib") - between, 6).alias("theil_within"),
        F.round(between, 6).alias("theil_between"),
    )


# ---------------------------------------------------------------------------
# Quantile alignment map across document sources (normalization grid)
# ---------------------------------------------------------------------------

QA_GRID = [round(0.1 * k, 1) for k in range(1, 10)]  # deciles 0.1..0.9


def _qalign_sql() -> str:
    grid = ", ".join(repr(p) for p in QA_GRID)
    return f"""
WITH per_src AS (
  SELECT source, quantile_cont(n_chars, [{grid}]) AS qs,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
), pooled AS (
  SELECT quantile_cont(n_chars, [{grid}]) AS qs FROM documents
), grid AS (
  SELECT CAST(unnest([{grid}]) AS DOUBLE) AS p,
         unnest(range(1, {len(QA_GRID) + 1})) AS i
)
SELECT s.source, g.p AS decile, s.n_docs,
       round(s.qs[g.i], 4) AS source_q,
       round(o.qs[g.i], 4) AS pooled_q,
       round(o.qs[g.i] - s.qs[g.i], 4) AS shift
FROM per_src s, pooled o, grid g
"""


@register("quantile_align_sources", _qalign_sql())
def quantile_align_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization map of document length across sources: per
    (source, decile), the source's own quantile, the pooled corpus
    quantile at the same probability, and the additive shift that aligns
    them — the grid a curation pipeline applies to remove per-source
    length bias before mixing (the bioinformatics quantile-normalization
    recipe at decile resolution; full-resolution mapping composes this
    with `asof_join` on percent rank). Both engines share the type-7
    interpolated quantile definition (Spark `percentile` ≡ DuckDB
    `quantile_cont` — verified to the last ulp), so the map is
    hash-exact at round-4.

    Boundary-tie exemption (round-13 sweep): interpolated quantiles are
    rounded OUTPUT values only — no membership comparison against a
    boundary exists in this plan, so the gains_chart tie-flip class
    cannot occur; see dow_quantile_bands for the same argument.

    Shape: TWO combinable aggregates (per-source and pooled percentile
    sketches — partial-aggregable, nothing row-sized shuffles) and a
    |sources|×9 broadcast grid product."""
    docs = load_table(spark, sf_dir, "documents")
    grid_arr = F.array(*[F.lit(p) for p in QA_GRID])
    per_src = docs.groupBy("source").agg(
        F.percentile("n_chars", grid_arr).alias("qs"),
        F.count("*").alias("n_docs"),
    )
    pooled = docs.agg(F.percentile("n_chars", grid_arr).alias("pqs"))
    grid = local_df(
        spark, [(p, i + 1) for i, p in enumerate(QA_GRID)], "p double, i int"
    )
    return (
        per_src.crossJoin(F.broadcast(pooled))
        .crossJoin(F.broadcast(grid))
        .select(
            "source",
            F.col("p").alias("decile"),
            "n_docs",
            F.round(F.element_at("qs", F.col("i")), 4).alias("source_q"),
            F.round(F.element_at("pqs", F.col("i")), 4).alias("pooled_q"),
            F.round(
                F.element_at("pqs", F.col("i")) - F.element_at("qs", F.col("i")),
                4,
            ).alias("shift"),
        )
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test on the daily revenue series
# ---------------------------------------------------------------------------

LB_MAX_LAG = 10

ljung_box_oracle = f"""
WITH daily AS ({_DAILY_SQL}),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
m AS (
  SELECT avg(rev) AS mu,
         sum((rev - (SELECT avg(rev) FROM daily)) ^ 2) AS ss
  FROM daily
),
lags AS (SELECT unnest(range(1, {LB_MAX_LAG} + 1)) AS lag),
rho AS (
  SELECT l.lag,
         sum((a.rev - m.mu) * (b.rev - m.mu)) / m.ss AS r
  FROM lags l
  JOIN daily a ON true
  JOIN daily b ON b.d = a.d + l.lag, m
  GROUP BY l.lag, m.ss
)
SELECT CAST(rho.lag AS INT) AS lag,
       round(rho.r, 6) AS acf,
       round(nn.n * (nn.n + 2.0) * rho.r * rho.r / (nn.n - rho.lag), 6)
         AS q_term,
       round(sum(nn.n * (nn.n + 2.0) * rho.r * rho.r / (nn.n - rho.lag))
             OVER (ORDER BY rho.lag
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS q_cum
FROM rho, nn
"""


@register("ljung_box_q", ljung_box_oracle)
def ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic on the daily revenue series:
    Q(h) = n(n+2) Σ_{k≤h} ρ̂²_k/(n−k), cumulative per lag up to h=10 —
    the joint whiteness TEST over the per-lag readout
    `acf_daily_revenue` reports (one large lag is noise; a large Q is
    memory). Compared against χ²(h) off-engine; the engine's job is the
    statistic.

    Same bounded machinery as acf: ONE combinable daily groupBy, a
    10-row lag spine against the day-DOMAIN table, ratio-of-centered-sums
    ρ̂ (noise cancels), and a lag-domain cumulative (≤10 rows — the
    allowlisted bounded-window class)."""
    from pyspark.sql import Window

    daily = _daily_orders(load_table(spark, sf_dir, "orders")).select("d", "rev")
    nn = daily.agg(F.count("*").alias("n"))
    mu = daily.agg(F.avg("rev").alias("mu"))
    centered = daily.crossJoin(F.broadcast(mu)).select(
        "d", (F.col("rev") - F.col("mu")).alias("dev")
    )
    ss = centered.agg(F.sum(F.pow("dev", F.lit(2))).alias("ss"))
    lags = daily.sparkSession.range(1, LB_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a, b = centered.alias("a"), centered.alias("b")
    rho = (
        lags.join(a, F.lit(True))
        .join(b, F.col("b.d") == F.col("a.d") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("a.dev") * F.col("b.dev")).alias("num"))
        .crossJoin(F.broadcast(ss))
        .select("lag", (F.col("num") / F.col("ss")).alias("r"))
    )
    w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    out = rho.crossJoin(F.broadcast(nn)).select(
        "lag",
        F.round("r", 6).alias("acf"),
        (
            F.col("n") * (F.col("n") + 2.0) * F.col("r") * F.col("r")
            / (F.col("n") - F.col("lag"))
        ).alias("term"),
    )
    return out.select(
        "lag",
        "acf",
        F.round("term", 6).alias("q_term"),
        F.round(F.sum("term").over(w), 6).alias("q_cum"),
    )


# ---------------------------------------------------------------------------
# Day-of-week quantile bands (calendar seasonality profile)
# ---------------------------------------------------------------------------

DOW_QS = [0.1, 0.25, 0.5, 0.75, 0.9]


def _dow_bands_sql() -> str:
    qs = ", ".join(repr(q) for q in DOW_QS)
    cols = ",\n       ".join(
        f"round(qs[{i + 1}], 4) AS q{int(q * 100)}"
        for i, q in enumerate(DOW_QS)
    )
    return f"""
WITH daily AS ({_DAILY_SQL}),
dow AS (
  SELECT CAST((d + 3) % 7 AS INT) AS day_of_week, rev FROM daily
)
SELECT day_of_week, n_days, {cols}
FROM (
  SELECT day_of_week,
         CAST(count(*) AS BIGINT) AS n_days,
         quantile_cont(rev, [{qs}]) AS qs
  FROM dow GROUP BY day_of_week
)
"""


@register("dow_quantile_bands", _dow_bands_sql())
def dow_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week quantile bands of daily revenue (0 = Monday, computed
    as (epoch_day + 3) mod 7 — pure integer arithmetic, NEVER an engine
    dayofweek builtin, whose week-start conventions differ): the
    calendar-seasonality profile behind `seasonal_decompose_daily`'s
    weekly term, as distribution BANDS rather than one mean — the shape
    an anomaly monitor thresholds against ("is this Monday unusual FOR A
    MONDAY?"). Spark percentile ≡ DuckDB quantile_cont (ulp-verified).

    Boundary-tie exemption (round-13 sweep after the gains_chart
    defect): interpolated quantiles appear here only as rounded OUTPUT
    VALUES — no row's bin membership is ever decided by comparing a
    datum against an interpolated boundary, so a 1-ulp cross-engine
    interpolation difference can at worst move a displayed value below
    the round-4 threshold, never flip a tie-run between rows. The
    hazardous class (membership assignment) uses integer rank cuts —
    see lorenz_curve_deciles / gains_chart_stopword.

    Shape: one combinable daily groupBy, then a 7-group percentile
    sketch — nothing larger than the day domain moves."""
    daily = _daily_orders(load_table(spark, sf_dir, "orders")).select("d", "rev")
    grid = F.array(*[F.lit(q) for q in DOW_QS])
    g = daily.groupBy(
        F.pmod(F.col("d") + 3, F.lit(7)).cast("int").alias("day_of_week")
    ).agg(
        F.count("*").alias("n_days"),
        F.percentile("rev", grid).alias("qs"),
    )
    return g.select(
        "day_of_week",
        "n_days",
        *[
            F.round(F.element_at("qs", i + 1), 4).alias(f"q{int(q * 100)}")
            for i, q in enumerate(DOW_QS)
        ],
    )


# ---------------------------------------------------------------------------
# Lorenz curve at decile resolution (equi-depth revenue concentration)
# ---------------------------------------------------------------------------



def _lorenz_sql() -> str:
    return """
WITH cust AS (
  SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), vals AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM cust GROUP BY cents
), tot0 AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vals
), runs AS (
  SELECT cents, cnt,
         sum(cnt) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM vals
), binned AS (
  SELECT CAST((10 * r.cum - 1) // t.n AS INT) AS decile,
         r.cnt, r.cents * r.cnt AS mass
  FROM runs r, tot0 t
), agg AS (
  SELECT decile, CAST(sum(cnt) AS BIGINT) AS n_customers,
         CAST(sum(mass) AS BIGINT) AS cents
  FROM binned GROUP BY decile
), tot AS (
  SELECT CAST(sum(n_customers) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS x
  FROM agg
)
SELECT a.decile, a.n_customers,
       round(CAST(a.cents AS DOUBLE) / t.x, 6) AS revenue_share,
       round(sum(CAST(a.cents AS DOUBLE)) OVER (ORDER BY a.decile) / t.x, 6)
         AS cum_share
FROM agg a, tot t
"""


@register("lorenz_curve_deciles", _lorenz_sql())
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of per-customer revenue at decile resolution — the
    CURVE `gini_customer_revenue` integrates to one number: per
    equi-depth revenue decile, its customer count, revenue share, and
    cumulative share (the "bottom 50% hold X%" readout).

    Deciles are assigned by integer RANK CUTS over per-distinct-cents
    counts (decile = (10·cum − 1) div n, the `pareto_cutoff_exact`
    spelling), NOT by comparing cents against interpolated quantile
    boundaries: the round-12 `gains_chart_stopword` defect proved that
    a 1-ulp cross-engine interpolation difference can flip an entire
    tie-run at a decile boundary at scales the gate doesn't run.
    Integer cents shrink but don't eliminate that window — this query
    was migrated preventively (round-13 brief #3). Tie-runs never
    split; every comparison is integer.

    Shape: ONE combinable customer groupBy (exact cents), a value-
    domain-sized distinct collapse, O(P) ranking offsets, a 10-group
    aggregate, and a 10-row cumulative — nothing data-sized past the
    first aggregate."""
    from pyspark.sql import Window

    from ..functions.ranking import range_partition_offsets
    from ..session import shuffle_partition_count

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    vals = cust.groupBy("cents").agg(F.count("*").alias("cnt"))
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals,
        ["cents"],
        [("rows", F.sum("cnt"))],
        shuffle_partition_count(spark),
    )
    n = int(totals["rows"])
    wloc = (
        Window.partitionBy("pid")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    binned = (
        ranged.withColumn("cum_local", F.sum("cnt").over(wloc))
        .join(F.broadcast(offsets_df), "pid")
        .select(
            "cnt",
            (F.col("cents") * F.col("cnt")).alias("mass"),
            F.expr(f"CAST((10 * (off_rows + cum_local) - 1) DIV {n} AS INT)")
            .alias("decile"),
        )
    )
    agg = binned.groupBy("decile").agg(
        F.sum("cnt").alias("n_customers"), F.sum("mass").alias("cents")
    )
    tot = agg.agg(F.sum("cents").alias("x"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.round(F.col("cents").cast("double") / F.col("x"), 6).alias(
                "revenue_share"
            ),
            F.round(
                F.sum(F.col("cents").cast("double")).over(w) / F.col("x"), 6
            ).alias("cum_share"),
        )
    )

# ---------------------------------------------------------------------------
# Exact Pareto cutoff: fewest customers covering 80% of revenue
# ---------------------------------------------------------------------------

PARETO_NUM = 4  # target share = PARETO_NUM / PARETO_DEN (kept integer-exact)
PARETO_DEN = 5

pareto_cutoff_oracle = f"""
WITH cust AS (
  SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), vals AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM cust GROUP BY cents
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(cents * cnt) AS BIGINT) AS x
  FROM vals
), runs AS (
  SELECT cents, cnt,
         COALESCE(sum(cnt) OVER (ORDER BY cents DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS rows_before,
         COALESCE(sum(cents * cnt) OVER (ORDER BY cents DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM vals
), hit AS (
  SELECT r.rows_before
         + CAST(ceil((CAST({PARETO_NUM} * t.x - {PARETO_DEN} * r.cum_before
                      AS DOUBLE)) / ({PARETO_DEN} * r.cents)) AS BIGINT)
           AS k,
         r.cum_before, r.cents
  FROM runs r, tot t
  WHERE {PARETO_DEN} * (r.cum_before + r.cnt * r.cents) >= {PARETO_NUM} * t.x
    AND {PARETO_DEN} * r.cum_before < {PARETO_NUM} * t.x
)
SELECT t.n AS n_customers, h.k AS k_top,
       round(CAST(h.k AS DOUBLE) / t.n, 6) AS customer_share,
       round((h.cum_before
              + (h.k - (SELECT rows_before FROM runs r2
                        WHERE r2.cents = h.cents)) * h.cents)
             / CAST(t.x AS DOUBLE), 6) AS revenue_share_at_k
FROM tot t, hit h
"""


@register("pareto_cutoff_exact", pareto_cutoff_oracle)
def pareto_cutoff_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Pareto point: the smallest k such that the top-k customers by
    revenue hold ≥ 80% of it — the single number `lorenz_curve_deciles`
    reads off a 10-point grid, located exactly and WITHOUT a global sort.
    The threshold test is kept in pure integers (5·cum ≥ 4·X — no float
    share ever compared), and the crossing position inside the boundary
    value's tie run is closed-form (equal-cents permutations cannot move
    it), so k is bit-determined on both engines.

    Shape: per-customer cents (ONE combinable groupBy) collapse further
    to per-DISTINCT-value counts (second combinable groupBy — the
    mann_whitney trick, so the ranked relation is value-domain-sized);
    the descending cumulative rides the `functions/ranking.py` kernel
    (O(P) offsets, no single-task sort); the crossing row is a filter +
    1-row reduce."""
    from pyspark.sql import Window

    from ..functions.ranking import range_partition_offsets
    from ..session import shuffle_partition_count

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    vals = cust.groupBy("cents").agg(F.count("*").alias("cnt"))
    # rank DESC: range-partition on the negated key so the kernel's
    # ascending offsets become descending-revenue cumulative sums
    vals = vals.withColumn("negc", -F.col("cents"))
    n_parts = shuffle_partition_count(spark)
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals,
        ["negc"],
        [("rows", F.sum("cnt")), ("mass", F.sum(F.col("cents") * F.col("cnt")))],
        n_parts,
    )
    n, x = int(totals["rows"]), int(totals["mass"])
    w = (
        Window.partitionBy("pid")
        .orderBy("negc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = (
        ranged.withColumn(
            "rows_local", F.coalesce(F.sum("cnt").over(w), F.lit(0))
        )
        .withColumn(
            "mass_local",
            F.coalesce(F.sum(F.col("cents") * F.col("cnt")).over(w), F.lit(0)),
        )
        .join(F.broadcast(offsets_df), "pid")
        .select(
            "cents",
            "cnt",
            (F.col("off_rows") + F.col("rows_local")).alias("rows_before"),
            (F.col("off_mass") + F.col("mass_local")).alias("cum_before"),
        )
    )
    hit = runs.filter(
        (
            PARETO_DEN * (F.col("cum_before") + F.col("cnt") * F.col("cents"))
            >= PARETO_NUM * x
        )
        & (PARETO_DEN * F.col("cum_before") < PARETO_NUM * x)
    ).select(
        (
            F.col("rows_before")
            + F.ceil(
                (PARETO_NUM * x - PARETO_DEN * F.col("cum_before")).cast(
                    "double"
                )
                / (PARETO_DEN * F.col("cents"))
            ).cast("bigint")
        ).alias("k"),
        "cum_before",
        "rows_before",
        "cents",
    )
    return hit.select(
        F.lit(n).cast("bigint").alias("n_customers"),
        F.col("k").alias("k_top"),
        F.round(F.col("k").cast("double") / n, 6).alias("customer_share"),
        F.round(
            (
                F.col("cum_before")
                + (F.col("k") - F.col("rows_before")) * F.col("cents")
            ).cast("double")
            / x,
            6,
        ).alias("revenue_share_at_k"),
    )


# ---------------------------------------------------------------------------
# Cohen's d / Hedges' g effect size (round 13): the magnitude companion
# ---------------------------------------------------------------------------

cohens_d_oracle = f"""
WITH s AS (
  SELECT
    count(CASE WHEN event_type = '{WT_GROUP_A}' THEN value END) AS n_a,
    count(CASE WHEN event_type = '{WT_GROUP_B}' THEN value END) AS n_b,
    avg(CASE WHEN event_type = '{WT_GROUP_A}' THEN value END) AS m_a,
    avg(CASE WHEN event_type = '{WT_GROUP_B}' THEN value END) AS m_b,
    var_samp(CASE WHEN event_type = '{WT_GROUP_A}' THEN value END) AS v_a,
    var_samp(CASE WHEN event_type = '{WT_GROUP_B}' THEN value END) AS v_b
  FROM events
  WHERE event_type IN ('{WT_GROUP_A}', '{WT_GROUP_B}')
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round((m_a - m_b)
             / nullif(sqrt(((n_a - 1) * v_a + (n_b - 1) * v_b)
                           / (n_a + n_b - 2)), 0), 6) AS cohens_d,
       round(((m_a - m_b)
              / nullif(sqrt(((n_a - 1) * v_a + (n_b - 1) * v_b)
                            / (n_a + n_b - 2)), 0))
             * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)), 6) AS hedges_g
FROM s
"""


@register("cohens_d_arms", cohens_d_oracle)
def cohens_d_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d (pooled-SD standardized mean difference) and Hedges' g
    (its small-sample bias correction 1 − 3/(4N − 9)) between the same
    two arms as `welch_t_test` / `mann_whitney_u` — the EFFECT-SIZE
    companion the significance tests lack: at corpus scale every t is
    "significant"; d says whether the difference MATTERS. Same
    single-pass conditional aggregate as welch (ratios of centered
    sums, round-6 stable); degenerate zero-variance arms yield NULL via
    nullif, never an ANSI abort."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(WT_GROUP_A, WT_GROUP_B)
    )
    va = F.when(F.col("event_type") == WT_GROUP_A, F.col("value"))
    vb = F.when(F.col("event_type") == WT_GROUP_B, F.col("value"))
    s = ev.agg(
        F.count(va).alias("n_a"),
        F.count(vb).alias("n_b"),
        F.avg(va).alias("m_a"),
        F.avg(vb).alias("m_b"),
        F.var_samp(va).alias("v_a"),
        F.var_samp(vb).alias("v_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    pooled = F.sqrt(
        ((n_a - 1) * F.col("v_a") + (n_b - 1) * F.col("v_b"))
        / (n_a + n_b - 2)
    )
    d = (F.col("m_a") - F.col("m_b")) / F.nullif(pooled, F.lit(0.0))
    return s.select(
        "n_a",
        "n_b",
        F.round(d, 6).alias("cohens_d"),
        F.round(d * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)), 6).alias(
            "hedges_g"
        ),
    )


# ---------------------------------------------------------------------------
# Hellinger / Bhattacharyya distance between two value histograms (round 13)
# ---------------------------------------------------------------------------

#: histogram bin width over the `value` domain — the same binned view
#: drift_psi_event_types thresholds on; bins are value-domain-bounded
HB_BIN = 10.0

hellinger_oracle = f"""
WITH b AS (
  SELECT CAST(floor(value / {HB_BIN}) AS BIGINT) AS bin,
         CAST(sum(CASE WHEN event_type = '{WT_GROUP_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS a_cnt,
         CAST(sum(CASE WHEN event_type = '{WT_GROUP_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS b_cnt
  FROM events WHERE event_type IN ('{WT_GROUP_A}', '{WT_GROUP_B}')
  GROUP BY 1
), t AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a, CAST(sum(b_cnt) AS BIGINT)
           AS n_b
  FROM b
), terms AS (
  SELECT CAST(floor(sqrt((CAST(a_cnt AS DOUBLE) / n_a)
                         * (CAST(b_cnt AS DOUBLE) / n_b))
                    * 100000000 + 0.5) AS BIGINT) AS bc_nano
  FROM b, t
)
SELECT t.n_a, t.n_b,
       CAST((SELECT count(*) FROM b) AS BIGINT) AS n_bins,
       round(sum(x.bc_nano) / 100000000.0, 6) AS bhattacharyya,
       round(sqrt(greatest(1.0 - sum(x.bc_nano) / 100000000.0, 0.0)), 6)
         AS hellinger
FROM terms x, t
GROUP BY t.n_a, t.n_b
"""


@register("hellinger_value_histograms", hellinger_oracle)
def hellinger_value_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bhattacharyya coefficient BC = Σ√(pᵢqᵢ) and Hellinger distance
    √(1 − BC) between the binned `value` distributions of the two event
    arms — the BOUNDED-metric member of the divergence family: PSI and
    KL explode on empty bins (PSI needs smoothing), Jensen-Shannon
    needs a log at every bin; Hellinger is a true metric in [0, 1] that
    handles zero bins exactly (√(p·0) = 0) — the drift number you can
    threshold without epsilon tuning.

    Determinism: each per-bin √(pq) term quantizes to 1e-8 units
    (floor(x·1e8 + 0.5), identical IEEE ops — p and q are exact
    int-ratio doubles) BEFORE summation, so the sum is an exact integer
    and no accumulation order can move the round-6 outputs.

    Shape: ONE combinable bin groupBy (value-domain-bounded relation),
    a 1-row total broadcast, a bin-domain reduce."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(WT_GROUP_A, WT_GROUP_B))
        .select(
            F.floor(F.col("value") / HB_BIN).cast("bigint").alias("bin"),
            (F.col("event_type") == WT_GROUP_A).cast("long").alias("is_a"),
            (F.col("event_type") == WT_GROUP_B).cast("long").alias("is_b"),
        )
    )
    b = ev.groupBy("bin").agg(
        F.sum("is_a").alias("a_cnt"), F.sum("is_b").alias("b_cnt")
    )
    t = b.agg(F.sum("a_cnt").alias("n_a"), F.sum("b_cnt").alias("n_b"))
    terms = b.crossJoin(F.broadcast(t)).select(
        "n_a",
        "n_b",
        F.floor(
            F.sqrt(
                (F.col("a_cnt").cast("double") / F.col("n_a"))
                * (F.col("b_cnt").cast("double") / F.col("n_b"))
            )
            * 100000000
            + 0.5
        )
        .cast("bigint")
        .alias("bc_nano"),
    )
    bc = F.sum("bc_nano") / 100000000.0
    return terms.groupBy("n_a", "n_b").agg(
        F.count("*").alias("n_bins"),
        F.round(bc, 6).alias("bhattacharyya"),
        F.round(F.sqrt(F.greatest(1.0 - bc, F.lit(0.0))), 6).alias(
            "hellinger"
        ),
    ).select("n_a", "n_b", "n_bins", "bhattacharyya", "hellinger")


# ---------------------------------------------------------------------------
# Round-14: partial autocorrelation (Durbin-Levinson closed form, lags 1-3)
# ---------------------------------------------------------------------------

pacf_oracle = """
WITH daily AS (
  SELECT CAST(floor(epoch_ms(CAST(o_orderdate AS TIMESTAMP)) / 86400000.0)
              AS BIGINT) AS d,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders GROUP BY d
), mom AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y) AS HUGEINT) AS s
  FROM daily
), c AS MATERIALIZED (
  SELECT d, n * y - s AS v FROM daily CROSS JOIN mom
), ss AS (
  SELECT sum(v * v) AS ss FROM c
), r AS (
  SELECT l.lag, sum(a.v * b.v) AS num
  FROM (SELECT unnest([1, 2, 3]) AS lag) l
  JOIN c a ON true
  JOIN c b ON b.d = a.d + l.lag
  GROUP BY l.lag
), rho AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
    max(CASE WHEN lag = 1 THEN CAST(num AS DOUBLE) END)
      / (SELECT CAST(ss AS DOUBLE) FROM ss) AS r1,
    max(CASE WHEN lag = 2 THEN CAST(num AS DOUBLE) END)
      / (SELECT CAST(ss AS DOUBLE) FROM ss) AS r2,
    max(CASE WHEN lag = 3 THEN CAST(num AS DOUBLE) END)
      / (SELECT CAST(ss AS DOUBLE) FROM ss) AS r3
  FROM r
), dl AS (
  SELECT n_days, r1, r2, r3,
         (r2 - r1 * r1) / (1 - r1 * r1) AS p2
  FROM rho
), dl2 AS (
  SELECT n_days, r1, r2, r3, p2,
         r1 - p2 * r1 AS q21
  FROM dl
)
SELECT n_days,
       floor(r1 * 1000000 + 0.5) / 1000000 AS pacf1,
       floor(p2 * 1000000 + 0.5) / 1000000 AS pacf2,
       floor((r3 - q21 * r2 - p2 * r1) / (1 - q21 * r1 - p2 * r2)
             * 1000000 + 0.5) / 1000000 AS pacf3
FROM dl2
"""


@register("pacf_daily_revenue", pacf_oracle)
def pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL autocorrelation of daily revenue at lags 1-3 via the
    closed-form Durbin-Levinson recursion — the AR-order selector that
    `acf_daily_revenue` can't be: ACF of an AR(1) decays forever; PACF
    cuts off sharply after the true order, so pacf2/pacf3 ≈ 0 says lag-1
    dynamics suffice (what `granger_causality_daily` and `ewma_values`
    implicitly assume).

    Exactness, one step harder than ACF's cancelling float sums: the
    centered products clear the mean's denominator — v_t = n·y_t − S is
    an exact HUGEINT/DECIMAL (cents), so Σv_t·v_{t+k} and Σv² are exact
    and each ρ_k is ONE double division of exact ints, bit-identical on
    both engines; the Durbin-Levinson algebra then runs on identical
    doubles in identical spelling. Shape: one combinable daily groupBy;
    the 3-lag spine and self-equi-join live on the day DOMAIN; no
    window at all."""
    from ..functions.timeutil import epoch_ms

    od = load_table(spark, sf_dir, "orders")
    daily = (
        od.select(
            F.floor(
                epoch_ms(F.col("o_orderdate").cast("timestamp")) / 86400000
            )
            .cast("bigint")
            .alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        )
        .groupBy("d")
        .agg(F.sum("c").alias("y"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = daily.agg(F.count("*").alias("n"), F.sum("y").alias("s"))
    cent = daily.crossJoin(F.broadcast(mom)).select(
        "d", (dec(F.col("n")) * F.col("y") - dec(F.col("s"))).alias("v")
    )
    n_days = int(mom.collect()[0]["n"])
    ss = cent.agg(F.sum(F.col("v") * F.col("v")).alias("ss"))
    lagged = cent.select(
        "d", "v", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("lag")
    )
    b = cent.select(F.col("d").alias("d2"), F.col("v").alias("v2"))
    r = (
        lagged.join(b, F.col("d2") == F.col("d") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("v") * F.col("v2")).alias("num"))
    )
    rho = r.crossJoin(F.broadcast(ss)).select(
        "lag",
        (F.col("num").cast("double") / F.col("ss").cast("double")).alias(
            "rho"
        ),
    )
    wide = rho.groupBy().pivot("lag", [1, 2, 3]).agg(F.first("rho"))
    r1, r2, r3 = F.col("1"), F.col("2"), F.col("3")
    p2 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    q21 = r1 - p2 * r1
    p3 = (r3 - q21 * r2 - p2 * r1) / (F.lit(1.0) - q21 * r1 - p2 * r2)
    r6 = lambda c: F.floor(c * 1000000 + 0.5) / 1000000  # noqa: E731
    return wide.select(
        F.lit(n_days).cast("long").alias("n_days"),
        r6(r1).alias("pacf1"),
        r6(p2).alias("pacf2"),
        r6(p3).alias("pacf3"),
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test over daily revenue (round-15)
# ---------------------------------------------------------------------------

jarque_bera_oracle = """
WITH daily AS (
  SELECT CAST(floor(epoch_ms(CAST(o_orderdate AS TIMESTAMP)) / 86400000.0)
              AS BIGINT) AS d,
         (sum(CAST(round(o_totalprice * 100) AS BIGINT)) + 50) // 100 AS x
  FROM orders GROUP BY d
),
mu AS (
  SELECT count(*) AS n,
         (2 * sum(x) + count(*)) // (2 * count(*)) AS m
  FROM daily
),
dev AS (
  SELECT n, m,
         sum(x - m) AS s1,
         sum(CAST(x - m AS HUGEINT) * (x - m)) AS s2,
         sum(CAST(x - m AS HUGEINT) * (x - m) * (x - m)) AS s3,
         sum(CAST(x - m AS HUGEINT) * (x - m) * (x - m) * (x - m)) AS s4
  FROM daily, mu GROUP BY n, m
),
mm AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / n AS md,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM dev
),
cm AS (
  SELECT n,
         r2 - md * md AS m2,
         r3 - 3 * md * r2 + 2 * md * md * md AS m3,
         r4 - 4 * md * r3 + 6 * md * md * r2 - 3 * md * md * md * md AS m4
  FROM mm
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(m3 / nullif(sqrt(m2 * m2 * m2), 0), 6) AS skewness,
       round(m4 / nullif(m2 * m2, 0) - 3, 6) AS ex_kurtosis,
       round(n / 6.0 * ((m3 / nullif(sqrt(m2 * m2 * m2), 0))
                        * (m3 / nullif(sqrt(m2 * m2 * m2), 0))
                        + (m4 / nullif(m2 * m2, 0) - 3)
                          * (m4 / nullif(m2 * m2, 0) - 3) / 4.0), 4)
         AS jb_stat
FROM cm
"""


@register("jarque_bera_daily", jarque_bera_oracle)
def jarque_bera_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of daily revenue — the missing gate in
    front of every Gaussian-assuming readout here (bollinger bands,
    z-scored alarms, Welch t): JB = n/6·(S² + K²/4) blows up when the
    skewness S or excess kurtosis K of the daily series leaves 0, the
    moment signature of fat tails the quantile family sees only
    implicitly.

    Exactness — the round-11 cancellation discipline generalized to 3rd
    and 4th moments, TWO-PASS: raw power sums of a wide series overflow
    decimal(38,0) at the 4th power, so pass 1 fixes an exact integer
    center (round-half-up mean of exact whole-dollar revenue, integer
    DIV), pass 2 accumulates Σe, Σe², Σe³, Σe⁴ of the SMALL integer
    deviations exactly (decimal/HUGEINT), and the residual-mean binomial
    correction (|Σe| ≤ n/2 by construction) runs in double on exact
    integers — identical IEEE ops cross-engine, no accumulation-order
    term anywhere.

    Shape: two combinable day-domain aggregates (pass 2 consumes the
    1-row pass-1 result via broadcast) — no windows, no joins beyond the
    1-row broadcast, data-sized work is the daily groupBy."""
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.floor(
                epoch_ms(F.col("o_orderdate").cast("timestamp")) / 86400000
            )
            .cast("bigint")
            .alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        )
        .groupBy("d")
        .agg(F.expr("CAST((sum(c) + 50) DIV 100 AS BIGINT)").alias("x"))
    )
    mu = daily.agg(
        F.count("*").alias("n"),
        F.expr("CAST((2 * sum(x) + count(*)) DIV (2 * count(*)) AS BIGINT)")
        .alias("m"),
    )
    e = F.col("x") - F.col("m")
    dev = daily.crossJoin(F.broadcast(mu)).groupBy("n", "m").agg(
        F.sum(e).alias("s1"),
        F.sum(dec(e) * dec(e)).alias("s2"),
        F.sum(dec(e) * dec(e) * dec(e)).alias("s3"),
        F.sum(dec(e) * dec(e) * dec(e) * dec(e)).alias("s4"),
    )
    n_d = F.col("n").cast("double")
    md = F.col("s1").cast("double") / n_d
    r2 = F.col("s2").cast("double") / n_d
    r3 = F.col("s3").cast("double") / n_d
    r4 = F.col("s4").cast("double") / n_d
    m2 = r2 - md * md
    m3 = r3 - 3 * md * r2 + 2 * md * md * md
    m4 = r4 - 4 * md * r3 + 6 * md * md * r2 - 3 * md * md * md * md
    skew = m3 / F.nullif(F.sqrt(m2 * m2 * m2), F.lit(0.0))
    exk = m4 / F.nullif(m2 * m2, F.lit(0.0)) - 3
    return dev.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("ex_kurtosis"),
        F.round(n_d / 6.0 * (skew * skew + exk * exk / 4.0), 4).alias(
            "jb_stat"
        ),
    )

"""Market/quant analytics & nonparametric trend diagnostics (round-11).

The reference reports one point estimate per room (`processing.scala:
116-127`); the quant questions a revenue team asks over the same tables
are PRICE-PATH shaped: what did a day's trading look like (OHLC bars,
VWAP), what is a user's time-weighted exposure (TWAP), is the daily trend
monotone and is it significant without distributional assumptions
(Kendall τ-b, Mann-Kendall, Wald-Wolfowitz runs), did the regime change at
a known break (Chow test), and are two corpus slices drifting apart
(Jensen-Shannon divergence — the LLM-data twin of the PSI drift alarm).

Scale discipline (the operators/distribution.py rules):

- Every data-sized stage is one combinable groupBy (day, user, or token
  key) — map-side partials, nothing bigger than the group cardinality
  crosses a shuffle.
- Pairwise work (τ-b, Mann-Kendall S) runs on the day-DOMAIN relation —
  O(days²) bounded by the calendar span at ANY data scale, round-robin
  repartitioned against the AQE single-task coalesce (the theil_sen fix).
- Money is exact integer cents (`CAST(round(x * 100) AS BIGINT)` on both
  engines — the rfm_segments convention), so sign/tie tests are
  bit-identical cross-engine, never ULP-dependent.
- The only per-row ordering (OHLC open/close) is an ARGMIN aggregate on a
  unique composite key — Spark orders a (ts, event_id) struct, the oracle
  orders the equivalent HUGEINT encoding; no sort, no window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_ms
from ..functions.localdf import local_df
from ..registry import register
from ..session import shuffle_partition_count
from ..sources import load_table
from .distribution import _daily_orders

# ---------------------------------------------------------------------------
# Shared day-keyed relations (exact integer cents)
# ---------------------------------------------------------------------------

#: DuckDB twin of the day-DOMAIN table in cents
#: (distribution._daily_orders)
_DAILY_CENTS_SQL = """
  SELECT CAST(floor(epoch_ms(CAST(o_orderdate AS TIMESTAMP)) / 86400000.0)
              AS BIGINT) AS d,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c,
         count(*) AS n_orders
  FROM orders GROUP BY d
"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day-DOMAIN table in cents, read via this module's load_table."""
    return _daily_orders(load_table(spark, sf_dir, "orders"), cents=True)


def _day_pairs(daily: DataFrame, n_parts: int, cols: list[str]) -> DataFrame:
    """All strictly-ordered day pairs (d2 > d1) of the day-DOMAIN relation,
    round-robin repartitioned so the O(days²) stage runs on every core
    (AQE otherwise coalesces the tiny daily side to ONE task — the
    theil_sen_daily_trend lesson, measured 8.6 s → 1.5 s)."""
    a = daily.repartition(n_parts).select(
        F.col("d").alias("d1"), *[F.col(c).alias(f"{c}_1") for c in cols]
    )
    b = daily.select(
        F.col("d").alias("d2"), *[F.col(c).alias(f"{c}_2") for c in cols]
    )
    return a.join(F.broadcast(b), F.col("d2") > F.col("d1"))


# ---------------------------------------------------------------------------
# VWAP — volume-weighted average price per ship day
# ---------------------------------------------------------------------------

vwap_oracle = """
SELECT CAST(floor(epoch_ms(CAST(l_shipdate AS TIMESTAMP)) / 86400000.0)
            AS BIGINT) AS d,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS volume,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
             / sum(CAST(l_quantity AS BIGINT)), 6) AS vwap
FROM lineitem GROUP BY d
"""


@register("vwap_daily", vwap_oracle)
def vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per ship day: Σ(extended price) /
    Σ(quantity) — the execution-quality benchmark price every trading desk
    computes, here over lineitem shipments. ONE combinable day-keyed
    aggregate; revenue is summed in exact integer cents so the reported
    ratio is a single IEEE division of exact integers on both engines
    (quantity is integral in the fixture, summed as BIGINT)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.floor(epoch_ms(F.col("l_shipdate").cast("timestamp")) / 86400000)
            .cast("bigint")
            .alias("d"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("d")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("q").alias("volume"),
            F.round(F.sum("c") / 100.0 / F.sum("q"), 6).alias("vwap"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC daily bars over the event value stream
# ---------------------------------------------------------------------------

#: HUGEINT composite ordering key: epoch-ms (≤ ~2e12) shifted left past any
#: event_id (make_scale shifts ids by copy·1e10, ≤ 1e14 at factor 10⁴) —
#: totals ≤ ~2e28, far inside HUGEINT. Spark orders the equivalent
#: (ts, event_id) struct; both orderings are lexicographic on the same
#: unique pair, so open/close are deterministic even on tied timestamps.
_OHLC_KEY_SQL = "CAST(epoch_ms(ts) AS HUGEINT) * 10000000000000000 + event_id"

ohlc_oracle = f"""
SELECT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d,
       CAST(count(*) AS BIGINT) AS n_events,
       round(arg_min(value, {_OHLC_KEY_SQL}), 6) AS open,
       round(max(value), 6) AS high,
       round(min(value), 6) AS low,
       round(arg_max(value, {_OHLC_KEY_SQL}), 6) AS close
FROM events GROUP BY d
"""


@register("ohlc_daily_value", ohlc_oracle)
def ohlc_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars of the event `value` stream per day: first /
    max / min / last value, first and last resolved by (ts, event_id) —
    a unique composite, so bars are deterministic under timestamp ties.

    ONE combinable day-keyed aggregate — min_by/max_by/min/max all have
    map-side partials, so a day's billions of events at 100 TB reduce to
    one row per partition before the shuffle; no window, no sort (the
    classic row_number()-over-day spelling would put an unbounded day's
    events through a single task's sort)."""
    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select(
            F.floor(epoch_ms(F.col("ts")) / 86400000).cast("bigint").alias("d"),
            "ts",
            "event_id",
            "value",
        )
        .groupBy("d")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.min_by("value", key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", key), 6).alias("close"),
        )
    )


# ---------------------------------------------------------------------------
# TWAP — per-user time-weighted average event value
# ---------------------------------------------------------------------------

twap_oracle = """
WITH seq AS (
  SELECT user_id, value, epoch_ms(ts) AS t,
         lead(epoch_ms(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_ms(ts), event_id) AS t_next
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(t_next - t) AS BIGINT) AS span_ms,
       round(sum(value * (t_next - t)) / sum(t_next - t), 6) AS twap
FROM seq WHERE t_next IS NOT NULL
GROUP BY user_id
HAVING sum(t_next - t) > 0
"""


@register("twap_user_value", twap_oracle)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of `value`: each observation holds
    until the user's next event, so the mean is weighted by holding time
    (ms, exact integers) — the position-exposure number a point-in-time
    average gets wrong when events arrive in bursts. Users whose events
    all share one timestamp (zero total span) are excluded on both
    engines rather than dividing by zero.

    The window is PARTITIONED BY user_id — per-user sequences are bounded
    by user activity, never by corpus size, so the sort inside each
    partition stays small at ANY data scale (the sessionize_events
    shape); everything after is one combinable user-keyed aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seq = ev.select(
        "user_id", "value", epoch_ms(F.col("ts")).alias("t"), "event_id"
    ).withColumn("t_next", F.lead("t").over(w))
    dt = F.col("t_next") - F.col("t")
    return (
        seq.filter(F.col("t_next").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(dt).alias("span_ms"),
            F.round(F.sum(F.col("value") * dt) / F.sum(dt), 6).alias("twap"),
        )
        .filter(F.col("span_ms") > 0)
    )


# ---------------------------------------------------------------------------
# Kendall τ-b between daily revenue and daily order count
# ---------------------------------------------------------------------------

kendall_oracle = f"""
WITH daily AS MATERIALIZED ({_DAILY_CENTS_SQL}),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
s AS (
  SELECT CAST(sum(CAST(sign(b.rev_c - a.rev_c) AS BIGINT)
                  * CAST(sign(b.n_orders - a.n_orders) AS BIGINT))
              AS BIGINT) AS cd
  FROM daily a JOIN daily b ON b.d > a.d
),
t1 AS (SELECT sum(t * (t - 1) / 2) AS ties FROM
       (SELECT count(*) AS t FROM daily GROUP BY rev_c)),
t2 AS (SELECT sum(t * (t - 1) / 2) AS ties FROM
       (SELECT count(*) AS t FROM daily GROUP BY n_orders))
SELECT n.n_days,
       CAST(n.n_days * (n.n_days - 1) / 2 AS BIGINT) AS n_pairs,
       s.cd AS conc_minus_disc,
       round(s.cd / nullif(
           sqrt((n.n_days * (n.n_days - 1) / 2.0 - t1.ties)
                * (n.n_days * (n.n_days - 1) / 2.0 - t2.ties)), 0), 6)
         AS tau_b
FROM n, s, t1, t2
"""


@register("kendall_tau_daily", kendall_oracle)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b rank correlation between daily revenue and daily order
    count — the tie-corrected concordance twin of `spearman_daily_corr`
    (τ is the probability-of-concordance readout; ρ the rank-linear one).
    Revenue is exact integer cents, so every sign() and every tie group is
    bit-identical cross-engine — no float comparison anywhere before the
    final normalization.

    The O(days²) pair stage runs on the calendar-bounded day relation
    (the theil_sen precedent — round-robin repartitioned, broadcast pair
    side); tie corrections are two day-domain groupBys; the data-sized
    work is the ONE combinable daily aggregate."""
    n_parts = shuffle_partition_count(spark)
    daily = _daily_cents(spark, sf_dir)
    pairs = _day_pairs(daily, n_parts, ["rev_c", "n_orders"])
    cd = pairs.agg(
        F.sum(
            F.signum(F.col("rev_c_2") - F.col("rev_c_1")).cast("bigint")
            * F.signum(F.col("n_orders_2") - F.col("n_orders_1")).cast("bigint")
        ).alias("cd")
    )
    n = daily.agg(F.count("*").alias("n_days"))
    t1 = daily.groupBy("rev_c").agg(F.count("*").alias("t")).agg(
        F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("ties1")
    )
    t2 = daily.groupBy("n_orders").agg(F.count("*").alias("t")).agg(
        F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("ties2")
    )
    n0 = F.col("n_days") * (F.col("n_days") - 1) / 2
    return (
        cd.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            "n_days",
            n0.cast("bigint").alias("n_pairs"),
            F.col("cd").alias("conc_minus_disc"),
            F.round(
                F.col("cd")
                / F.nullif(
                    F.sqrt((n0 - F.col("ties1")) * (n0 - F.col("ties2"))),
                    F.lit(0.0),
                ),
                6,
            ).alias("tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Kendall monotone trend test on daily revenue
# ---------------------------------------------------------------------------

mann_kendall_oracle = f"""
WITH daily AS MATERIALIZED ({_DAILY_CENTS_SQL}),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
s AS (
  SELECT CAST(sum(CAST(sign(b.rev_c - a.rev_c) AS BIGINT)) AS BIGINT)
    AS s_stat
  FROM daily a JOIN daily b ON b.d > a.d
),
t AS (SELECT coalesce(sum(tt * (tt - 1) * (2 * tt + 5)), 0) AS tie_term
      FROM (SELECT count(*) AS tt FROM daily GROUP BY rev_c)
      WHERE tt > 1)
SELECT n.n_days, s.s_stat,
       round((n.n_days * (n.n_days - 1.0) * (2 * n.n_days + 5)
              - t.tie_term) / 18.0, 4) AS var_s,
       round(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                  WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                  ELSE 0 END
             / nullif(sqrt((n.n_days * (n.n_days - 1.0)
                            * (2 * n.n_days + 5) - t.tie_term) / 18.0), 0),
             6) AS z_mk
FROM n, s, t
"""


@register("mann_kendall_trend", mann_kendall_oracle)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test of daily revenue: S = Σ_{{i<j}}
    sign(rev_j − rev_i) with the tie-corrected variance and the
    continuity-corrected normal score — the significance test for the
    slope `theil_sen_daily_trend` estimates (the two are the standard
    pairing: MK says WHETHER, Theil-Sen says HOW MUCH). Integer-cents
    revenue makes every sign and tie group exact; the only floats are the
    final variance and z.

    Same O(days²) calendar-bounded pair stage as Kendall τ — at 100 TB
    the pair count depends on the corpus day span, not on row count."""
    n_parts = shuffle_partition_count(spark)
    daily = _daily_cents(spark, sf_dir).select("d", "rev_c")
    pairs = _day_pairs(daily, n_parts, ["rev_c"])
    s = pairs.agg(
        F.sum(F.signum(F.col("rev_c_2") - F.col("rev_c_1")).cast("bigint"))
        .alias("s_stat")
    )
    n = daily.agg(F.count("*").alias("n_days"))
    t = (
        daily.groupBy("rev_c")
        .agg(F.count("*").alias("tt"))
        .filter(F.col("tt") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5)),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    var_s = (
        F.col("n_days") * (F.col("n_days") - F.lit(1.0))
        * (2 * F.col("n_days") + 5)
        - F.col("tie_term")
    ) / 18.0
    corrected = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(F.lit(0))
    )
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(t))
        .select(
            "n_days",
            "s_stat",
            F.round(var_s, 4).alias("var_s"),
            F.round(
                corrected / F.nullif(F.sqrt(var_s), F.lit(0.0)), 6
            ).alias("z_mk"),
        )
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on daily order counts
# ---------------------------------------------------------------------------

runs_test_oracle = f"""
WITH daily AS MATERIALIZED ({_DAILY_CENTS_SQL}),
med AS (SELECT quantile_cont(n_orders, 0.5) AS m FROM daily),
seq AS (
  SELECT d, CASE WHEN n_orders > med.m THEN 1 ELSE 0 END AS up,
         lag(CASE WHEN n_orders > med.m THEN 1 ELSE 0 END)
           OVER (ORDER BY d) AS prev_up
  FROM daily, med WHERE n_orders <> med.m
)
SELECT CAST(sum(up) AS BIGINT) AS n_above,
       CAST(count(*) - sum(up) AS BIGINT) AS n_below,
       CAST(1 + sum(CASE WHEN prev_up IS NOT NULL AND up <> prev_up
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
       round(1 + 2.0 * sum(up) * (count(*) - sum(up)) / count(*), 6)
         AS e_runs,
       round((1 + sum(CASE WHEN prev_up IS NOT NULL AND up <> prev_up
                           THEN 1 ELSE 0 END)
              - (1 + 2.0 * sum(up) * (count(*) - sum(up)) / count(*)))
             / nullif(sqrt(2.0 * sum(up) * (count(*) - sum(up))
                   * (2.0 * sum(up) * (count(*) - sum(up)) - count(*))
                   / (CAST(count(*) AS DOUBLE) * count(*)
                      * (count(*) - 1))), 0), 6) AS z_runs
FROM seq
"""


@register("runs_test_daily", runs_test_oracle)
def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of daily order counts
    around their median: too FEW runs of above/below-median days means
    clustering (momentum), too MANY means oscillation — the
    nonparametric sanity check behind `acf_daily_revenue`'s lag-1 story.
    Median-equal days are excluded (the standard convention). Counts are
    integers and the median of integers is exact (k or k+0.5), so the
    above/below labeling is bit-identical cross-engine.

    The lag() runs over the day-DOMAIN relation — calendar-bounded at ANY
    scale (plan-audit allowlisted like cusum_changepoint); the data-sized
    stage is the one combinable daily groupBy."""
    daily = _daily_cents(spark, sf_dir).select("d", "n_orders")
    med = daily.agg(F.expr("percentile(n_orders, 0.5)").alias("m"))
    w = Window.orderBy("d")
    seq = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("n_orders") != F.col("m"))
        .select("d", (F.col("n_orders") > F.col("m")).cast("int").alias("up"))
        .withColumn("prev_up", F.lag("up").over(w))
    )
    n1 = F.sum("up").cast("bigint")
    n2 = (F.count("*") - F.sum("up")).cast("bigint")
    runs = (
        F.lit(1)
        + F.sum(
            (
                F.col("prev_up").isNotNull()
                & (F.col("up") != F.col("prev_up"))
            ).cast("int")
        )
    ).cast("bigint")
    nn = F.count("*").cast("double")
    two_n1n2 = 2.0 * n1 * n2
    e_runs = F.lit(1) + two_n1n2 / F.count("*")
    var_runs = two_n1n2 * (two_n1n2 - F.count("*")) / (nn * nn * (nn - 1))
    return seq.agg(
        n1.alias("n_above"),
        n2.alias("n_below"),
        runs.alias("n_runs"),
        F.round(e_runs, 6).alias("e_runs"),
        F.round(
            (runs - e_runs) / F.nullif(F.sqrt(var_runs), F.lit(0.0)), 6
        ).alias("z_runs"),
    )


# ---------------------------------------------------------------------------
# Chow structural-break F-test at the mid-sample day
# ---------------------------------------------------------------------------


def _ssr_terms(prefix: str) -> str:
    """SSR of y~x OLS from raw moment sums (names {p}n,{p}sx,{p}sy,
    {p}sxx,{p}syy,{p}sxy): Syy − Sxy²/Sxx in centered form."""
    p = prefix
    return (
        f"(({p}syy - {p}sy * {p}sy / {p}n) - "
        f"power({p}sxy - {p}sx * {p}sy / {p}n, 2) / "
        f"nullif({p}sxx - {p}sx * {p}sx / {p}n, 0))"
    )


chow_oracle = f"""
WITH daily AS MATERIALIZED ({_DAILY_CENTS_SQL}),
b AS (SELECT (min(d) + max(d)) // 2 AS mid FROM daily),
m AS (
  SELECT CASE WHEN d <= b.mid THEN 0 ELSE 1 END AS seg,
         CAST(count(*) AS DOUBLE) AS n,
         sum(CAST(d AS DOUBLE)) AS sx,
         sum(rev_c / 100.0) AS sy,
         sum(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) AS sxx,
         sum((rev_c / 100.0) * (rev_c / 100.0)) AS syy,
         sum(CAST(d AS DOUBLE) * (rev_c / 100.0)) AS sxy
  FROM daily, b GROUP BY 1
),
p AS (
  SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
         sum(sxx) AS sxx, sum(syy) AS syy, sum(sxy) AS sxy
  FROM m
),
segs AS (
  SELECT sum({_ssr_terms('')}) AS ssr_seg,
         sum(CASE WHEN seg = 0 THEN n ELSE 0 END) AS n_pre,
         sum(CASE WHEN seg = 1 THEN n ELSE 0 END) AS n_post
  FROM m
)
SELECT CAST(b.mid AS BIGINT) AS break_d,
       CAST(s.n_pre AS BIGINT) AS n_pre,
       CAST(s.n_post AS BIGINT) AS n_post,
       round((({_ssr_terms('p.')} - s.ssr_seg) / 2.0)
             / nullif(s.ssr_seg / (s.n_pre + s.n_post - 4), 0), 4)
         AS f_chow
FROM b, segs s, p
"""


@register("chow_test_break", chow_oracle)
def chow_test_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the daily-revenue trend at the
    mid-sample day: fit rev~day pooled and per-segment from ONE pass of
    raw moments, F = ((SSR_pooled − SSR₁ − SSR₂)/k) / ((SSR₁+SSR₂)/(n−2k))
    with k = 2 — the did-the-regime-change readout `cusum_changepoint`
    locates and `regression_trend` assumes away. The breakpoint is the
    integer midpoint of the day span (exact cross-engine); revenue enters
    as cents/100 so both engines square identical doubles.

    Scale shape: the data-sized stage is the combinable daily groupBy;
    moments are one 2-row aggregate over the day-DOMAIN table; everything
    after is arithmetic on 1-2 rows."""
    daily = _daily_cents(spark, sf_dir).select(
        "d", (F.col("rev_c") / 100.0).alias("y")
    )
    b = daily.agg(
        F.expr("(min(d) + max(d)) div 2").cast("bigint").alias("mid")
    )
    x = F.col("d").cast("double")
    m = (
        daily.crossJoin(F.broadcast(b))
        .groupBy((F.col("d") > F.col("mid")).cast("int").alias("seg"))
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum(x).alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(x * F.col("y")).alias("sxy"),
        )
    )

    def ssr(c):
        syy_c = c("syy") - c("sy") * c("sy") / c("n")
        sxx_c = c("sxx") - c("sx") * c("sx") / c("n")
        sxy_c = c("sxy") - c("sx") * c("sy") / c("n")
        return syy_c - (sxy_c * sxy_c) / F.nullif(sxx_c, F.lit(0.0))

    segs = m.agg(
        F.sum(ssr(F.col)).alias("ssr_seg"),
        F.sum(F.when(F.col("seg") == 0, F.col("n")).otherwise(0.0)).alias(
            "n_pre"
        ),
        F.sum(F.when(F.col("seg") == 1, F.col("n")).otherwise(0.0)).alias(
            "n_post"
        ),
    )
    pooled = m.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("syy").alias("syy"),
        F.sum("sxy").alias("sxy"),
    ).select(ssr(F.col).alias("ssr_pool"))
    return (
        segs.crossJoin(F.broadcast(pooled))
        .crossJoin(F.broadcast(b))
        .select(
            F.col("mid").alias("break_d"),
            F.col("n_pre").cast("bigint").alias("n_pre"),
            F.col("n_post").cast("bigint").alias("n_post"),
            F.round(
                ((F.col("ssr_pool") - F.col("ssr_seg")) / 2.0)
                / F.nullif(
                    F.col("ssr_seg")
                    / (F.col("n_pre") + F.col("n_post") - 4),
                    F.lit(0.0),
                ),
                4,
            ).alias("f_chow"),
        )
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between two sources' token distributions
# ---------------------------------------------------------------------------

JSD_SRC_A = "src0"
JSD_SRC_B = "src1"

jsd_oracle = f"""
WITH cnt AS (
  SELECT source, tok, count(*) AS n FROM (
    SELECT source, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE source IN ('{JSD_SRC_A}', '{JSD_SRC_B}')
  ) GROUP BY source, tok
),
a AS (SELECT tok, n FROM cnt WHERE source = '{JSD_SRC_A}'),
b AS (SELECT tok, n FROM cnt WHERE source = '{JSD_SRC_B}'),
tot AS (
  SELECT (SELECT sum(n) FROM a) AS na, (SELECT sum(n) FROM b) AS nb
),
j AS (
  SELECT coalesce(a.n, 0) AS ca, coalesce(b.n, 0) AS cb
  FROM a FULL OUTER JOIN b ON a.tok = b.tok
),
terms AS (
  SELECT CASE WHEN ca > 0 THEN (ca / CAST(t.na AS DOUBLE)) / 2
              * log2((ca / CAST(t.na AS DOUBLE))
                     / ((ca / CAST(t.na AS DOUBLE)
                         + cb / CAST(t.nb AS DOUBLE)) / 2))
              ELSE 0 END
       + CASE WHEN cb > 0 THEN (cb / CAST(t.nb AS DOUBLE)) / 2
              * log2((cb / CAST(t.nb AS DOUBLE))
                     / ((ca / CAST(t.na AS DOUBLE)
                         + cb / CAST(t.nb AS DOUBLE)) / 2))
              ELSE 0 END AS term,
         CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END AS shared
  FROM j, tot t
)
SELECT (SELECT CAST(sum(n) AS BIGINT) FROM a) AS n_tok_a,
       (SELECT CAST(sum(n) AS BIGINT) FROM b) AS n_tok_b,
       CAST(sum(shared) AS BIGINT) AS vocab_shared,
       round(sum(term), 6) AS jsd_bits
FROM terms
"""


@register("jensen_shannon_sources", jsd_oracle)
def jensen_shannon_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits, base 2 — bounded [0,1]) between
    the unigram token distributions of two document sources — the
    symmetric, finite corpus-drift metric a training-data pipeline tracks
    between crawls or sources (the batch twin of the streaming PSI alarm,
    which needs binning; JSD handles disjoint support natively since
    zero-probability terms contribute 0 against the mixture).

    Scale shape: the data-sized stage is the token explode + ONE
    combinable (source, tok) count; the full-outer join and the term sum
    run on the VOCAB-bounded count tables; the two grand totals are 1-row
    broadcasts. At 100 TB the shuffled bytes are vocabulary-sized."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(JSD_SRC_A, JSD_SRC_B)
    )
    cnt = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    a = cnt.filter(F.col("source") == JSD_SRC_A).select(
        "tok", F.col("n").alias("ca")
    )
    b = cnt.filter(F.col("source") == JSD_SRC_B).select(
        "tok", F.col("n").alias("cb")
    )
    na = a.agg(F.sum("ca").alias("na"))
    nb = b.agg(F.sum("cb").alias("nb"))
    j = (
        a.join(b, "tok", "full_outer")
        .select(
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
    )
    p = F.col("ca") / F.col("na").cast("double")
    q = F.col("cb") / F.col("nb").cast("double")
    mix = (p + q) / 2
    term = F.when(F.col("ca") > 0, p / 2 * F.log2(p / mix)).otherwise(
        0.0
    ) + F.when(F.col("cb") > 0, q / 2 * F.log2(q / mix)).otherwise(0.0)
    return j.agg(
        F.max("na").cast("bigint").alias("n_tok_a"),
        F.max("nb").cast("bigint").alias("n_tok_b"),
        F.sum(((F.col("ca") > 0) & (F.col("cb") > 0)).cast("int"))
        .cast("bigint")
        .alias("vocab_shared"),
        F.round(F.sum(term), 6).alias("jsd_bits"),
    )


# ---------------------------------------------------------------------------
# Bollinger bands over daily revenue (7 observed days, exact-integer flag)
# ---------------------------------------------------------------------------

BOLL_WINDOW = 7  # observed (trading) days, gaps skipped — the classic form
BOLL_K = 2  # band half-width in rolling std units

bollinger_oracle = f"""
WITH daily AS MATERIALIZED ({_DAILY_CENTS_SQL}),
w AS (
  SELECT d, rev_c,
         count(*) OVER win AS wn,
         sum(rev_c) OVER win AS s,
         sum(CAST(rev_c AS HUGEINT) * rev_c) OVER win AS q
  FROM daily
  WINDOW win AS (ORDER BY d ROWS BETWEEN {BOLL_WINDOW - 1} PRECEDING
                 AND CURRENT ROW)
)
SELECT d, round(rev_c / 100.0, 2) AS rev,
       round(s / {BOLL_WINDOW}.0 / 100.0, 4) AS ma7,
       floor((s / {BOLL_WINDOW}.0 + {BOLL_K} * sqrt(
           CAST(CAST({BOLL_WINDOW} AS HUGEINT) * q
                - CAST(s AS HUGEINT) * s AS DOUBLE)
           / {BOLL_WINDOW * (BOLL_WINDOW - 1)})) / 100.0 * 10000 + 0.5)
         / 10000 AS upper_band,
       floor((s / {BOLL_WINDOW}.0 - {BOLL_K} * sqrt(
           CAST(CAST({BOLL_WINDOW} AS HUGEINT) * q
                - CAST(s AS HUGEINT) * s AS DOUBLE)
           / {BOLL_WINDOW * (BOLL_WINDOW - 1)})) / 100.0 * 10000 + 0.5)
         / 10000 AS lower_band,
       ({BOLL_WINDOW - 1} * ((CAST({BOLL_WINDOW} AS HUGEINT) * rev_c - s)
                             * (CAST({BOLL_WINDOW} AS HUGEINT) * rev_c - s))
        > {BOLL_K * BOLL_K * BOLL_WINDOW}
          * (CAST({BOLL_WINDOW} AS HUGEINT) * q
             - CAST(s AS HUGEINT) * s)) AS breakout
FROM w WHERE wn = {BOLL_WINDOW}
"""


@register("bollinger_daily_revenue", bollinger_oracle)
def bollinger_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands of daily revenue: trailing 7-observed-day rolling
    mean ± 2 rolling sample stds, with a breakout flag for days outside
    the bands. The FLAG is decided in exact integer arithmetic — the
    inequality |rev − S/7| > 2·√((Q − S²/7)/6) squared and cleared of
    denominators: 6·(7·rev − S)² > 2²·7·(7Q − S²), all in 128-bit exact
    integers (Spark DECIMAL(38,0), DuckDB HUGEINT) — so a band-touching
    day can NEVER flip on float noise between engines; the reported
    ma/bands are display-rounded doubles derived from the same exact
    sums. Q sums rev_c² as 128-bit from the start (a 100 TB day's cents²
    overflows int64).

    The rolling frame runs over the day-DOMAIN series — calendar-bounded
    (plan-audit allowlisted, the seasonal_decompose shape); the
    data-sized stage is the ONE combinable daily groupBy."""
    daily = _daily_cents(spark, sf_dir).select("d", "rev_c")
    win = Window.orderBy("d").rowsBetween(-(BOLL_WINDOW - 1), 0)
    c_dec = F.col("rev_c").cast("decimal(38,0)")
    w = daily.select(
        "d",
        "rev_c",
        F.count("*").over(win).alias("wn"),
        F.sum("rev_c").over(win).alias("s"),
        F.sum(c_dec * F.col("rev_c")).over(win).alias("q"),
    ).filter(F.col("wn") == BOLL_WINDOW)
    mean_c = F.col("s") / float(BOLL_WINDOW)
    n_dec = F.lit(BOLL_WINDOW).cast("decimal(38,0)")
    dev = n_dec * F.col("rev_c").cast("decimal(38,0)") - F.col("s").cast(
        "decimal(38,0)"
    )
    var_num = n_dec * F.col("q") - F.col("s").cast("decimal(38,0)") * F.col(
        "s"
    ).cast("decimal(38,0)")
    # sd from the EXACT 128-bit numerator 7Q − S² (the same quantity the
    # flag uses), converted to double ONCE: the q − s²/7 double spelling
    # cancels catastrophically at sf≥1 magnitudes — the sf≈1 gate caught a
    # band value landing on opposite sides of the round-4 boundary between
    # engines. A single nearest-double conversion of an exact integer is
    # bit-identical everywhere.
    sd_c = F.sqrt(
        var_num.cast("double") / (BOLL_WINDOW * (BOLL_WINDOW - 1))
    )
    # band rounding is spelled as floor(x·10⁴ + 0.5)/10⁴ on BOTH engines:
    # the ×100 corpus replication at synthetic scales shifts 6-decimal
    # band values onto EXACT 4-decimal half-boundaries, where Spark's
    # round() (HALF_UP on the shortest decimal string) and DuckDB's (on
    # the double bits) disagree — the explicit floor spelling is the same
    # IEEE ops everywhere. (ma7 = s/700 can never land on a half: 8k ≡ 7
    # (mod 14) has no integer solution; rev = cents/100 is 2-exact.)
    explicit_round4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return w.select(
        "d",
        F.round(F.col("rev_c") / 100.0, 2).alias("rev"),
        F.round(mean_c / 100.0, 4).alias("ma7"),
        explicit_round4((mean_c + BOLL_K * sd_c) / 100.0).alias("upper_band"),
        explicit_round4((mean_c - BOLL_K * sd_c) / 100.0).alias("lower_band"),
        (
            F.lit(BOLL_WINDOW - 1).cast("decimal(38,0)") * dev * dev
            > F.lit(BOLL_K * BOLL_K * BOLL_WINDOW).cast("decimal(38,0)")
            * var_num
        ).alias("breakout"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of cumulative daily revenue
# ---------------------------------------------------------------------------

max_drawdown_oracle = f"""
WITH daily AS MATERIALIZED ({_DAILY_CENTS_SQL}),
run AS (
  SELECT d, rev_c,
         max(rev_c) OVER (ORDER BY d) AS peak
  FROM daily
),
dd AS (SELECT d, peak - rev_c AS ddc, peak FROM run),
mx AS (SELECT max(ddc) AS max_ddc FROM dd)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
       round(mx.max_ddc / 100.0, 2) AS max_drawdown,
       CAST(min(dd.d) AS BIGINT) AS trough_d,
       round(CAST(mx.max_ddc AS DOUBLE)
             / nullif(arg_min(dd.peak, dd.d), 0), 6) AS drawdown_frac
FROM dd, mx WHERE dd.ddc = mx.max_ddc
GROUP BY mx.max_ddc
"""


@register("max_drawdown_revenue", max_drawdown_oracle)
def max_drawdown_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the DAILY revenue level: the deepest fall of a
    day's revenue below the best day seen so far — the worst sustained
    slump, in dollars and as a fraction of that running peak. (The
    equity-curve form — drawdown of CUMULATIVE revenue — is identically 0
    here because daily revenue is nonnegative, so the level form is the
    one that carries information for a revenue series.) The trough is the
    EARLIEST day attaining the max drawdown (ties broken
    deterministically on exact integers).

    Running max and the argmax scan run over the day-DOMAIN relation in
    exact cents — calendar-bounded windows (plan-audit allowlisted),
    exact-integer comparisons everywhere; the data-sized stage is the ONE
    combinable daily groupBy."""
    daily = _daily_cents(spark, sf_dir).select("d", "rev_c")
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    run = daily.withColumn("peak", F.max("rev_c").over(w))
    dd = run.select("d", (F.col("peak") - F.col("rev_c")).alias("ddc"), "peak")
    mx = dd.agg(F.max("ddc").alias("max_ddc"))
    n = daily.agg(F.count("*").alias("n_days"))
    return (
        dd.join(F.broadcast(mx), F.col("ddc") == F.col("max_ddc"))
        .agg(
            F.round(F.max("max_ddc") / 100.0, 2).alias("max_drawdown"),
            F.min("d").alias("trough_d"),
            F.round(
                F.max("max_ddc").cast("double")
                / F.nullif(F.min_by("peak", "d").cast("double"), F.lit(0.0)),
                6,
            ).alias("drawdown_frac"),
        )
        .crossJoin(F.broadcast(n))
        .select("n_days", "max_drawdown", "trough_d", "drawdown_frac")
    )


# ---------------------------------------------------------------------------
# Day-over-day revenue change profile (volatility / hit-rate summary)
# ---------------------------------------------------------------------------

return_profile_oracle = f"""
WITH daily AS MATERIALIZED ({_DAILY_CENTS_SQL}),
chg AS (
  SELECT rev_c - lag(rev_c) OVER (ORDER BY d) AS r
  FROM daily
)
SELECT CAST(count(*) AS BIGINT) AS n_changes,
       round(avg(r / 100.0), 4) AS mean_chg,
       round(stddev_samp(r / 100.0), 4) AS std_chg,
       round(avg(r / 100.0) / nullif(stddev_samp(r / 100.0), 0), 6)
         AS mean_over_std,
       round(avg(CASE WHEN r > 0 THEN 1.0 ELSE 0.0 END), 6) AS frac_up
FROM chg WHERE r IS NOT NULL
"""


@register("daily_return_profile", return_profile_oracle)
def daily_return_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue change profile: mean and volatility of the
    first difference of daily revenue between consecutive OBSERVED days,
    their ratio (the Sharpe-ratio shape, unannualized), and the up-day
    hit rate — the one-row volatility summary a desk reads before the
    Bollinger chart. Changes are exact integer cents; only the final
    moments are floats (round-6, the repo convention).

    lag() runs over the day-DOMAIN series (calendar-bounded, plan-audit
    allowlisted); everything else is one combinable aggregate."""
    daily = _daily_cents(spark, sf_dir).select("d", "rev_c")
    w = Window.orderBy("d")
    chg = daily.select(
        (F.col("rev_c") - F.lag("rev_c").over(w)).alias("r")
    ).filter(F.col("r").isNotNull())
    rd = F.col("r") / 100.0
    return chg.agg(
        F.count("*").alias("n_changes"),
        F.round(F.avg(rd), 4).alias("mean_chg"),
        F.round(F.stddev_samp(rd), 4).alias("std_chg"),
        F.round(
            F.avg(rd) / F.nullif(F.stddev_samp(rd), F.lit(0.0)), 6
        ).alias("mean_over_std"),
        F.round(F.avg((F.col("r") > 0).cast("double")), 6).alias("frac_up"),
    )


# ---------------------------------------------------------------------------
# RSI (Cutler's SMA form) over daily revenue — exact-integer regime flags
# ---------------------------------------------------------------------------

RSI_WINDOW = 14  # observed (trading) days, gaps skipped — bollinger convention
RSI_HI = 70  # overbought threshold
RSI_LO = 30  # oversold threshold
_RSI_HI_10 = RSI_HI // 10
_RSI_LO_10 = RSI_LO // 10

rsi_oracle = f"""
WITH daily AS MATERIALIZED ({_DAILY_CENTS_SQL}),
diffed AS (
  SELECT d, rev_c,
         rev_c - lag(rev_c) OVER (ORDER BY d) AS diff
  FROM daily
), gl AS (
  SELECT d, rev_c,
         greatest(diff, 0) AS gain,
         greatest(-diff, 0) AS loss,
         CAST(count(diff) OVER win AS BIGINT) AS wn,
         CAST(sum(greatest(diff, 0)) OVER win AS BIGINT) AS g,
         CAST(sum(greatest(-diff, 0)) OVER win AS BIGINT) AS l
  FROM diffed
  WINDOW win AS (ORDER BY d ROWS BETWEEN {RSI_WINDOW - 1} PRECEDING
                 AND CURRENT ROW)
)
SELECT d, round(rev_c / 100.0, 2) AS rev,
       floor(100.0 * g / nullif(g + l, 0) * 10000 + 0.5) / 10000 AS rsi,
       (10 * g > {_RSI_HI_10} * (g + l)) AS overbought,
       (10 * g < {_RSI_LO_10} * (g + l)) AS oversold
FROM gl WHERE wn = {RSI_WINDOW}
"""


@register("rsi_daily_revenue", rsi_oracle)
def rsi_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (Cutler's SMA form — the window-algebra
    spelling; Wilder's EWMA variant is `ewma_values`' recursive family)
    over the daily revenue series: RSI = 100·G/(G+L) where G/L are the
    trailing 14-observed-day sums of up-moves and down-moves in cents.
    The overbought/oversold flags are decided ENTIRELY in exact int64
    (100G > 70(G+L) ⟺ 10G > 7(G+L), integers both sides — the bollinger
    breakout discipline), so a threshold-touching day can never flip on
    float noise; the displayed RSI uses the explicit
    floor(x·10⁴+0.5)/10⁴ spelling (identical IEEE ops both engines).

    Scale: ONE combinable daily groupBy is the data-sized stage; diffs
    and the rolling G/L ride the day-DOMAIN window (calendar-bounded,
    plan-audit allowlisted — seasonal_decompose shape)."""
    daily = _daily_cents(spark, sf_dir).select("d", "rev_c")
    w_lag = Window.orderBy("d")
    win = Window.orderBy("d").rowsBetween(-(RSI_WINDOW - 1), 0)
    diffed = daily.select(
        "d",
        "rev_c",
        (F.col("rev_c") - F.lag("rev_c").over(w_lag)).alias("diff"),
    )
    gl = diffed.select(
        "d",
        "rev_c",
        F.count("diff").over(win).alias("wn"),
        F.sum(F.greatest(F.col("diff"), F.lit(0))).over(win).alias("g"),
        F.sum(F.greatest(-F.col("diff"), F.lit(0))).over(win).alias("l"),
    ).filter(F.col("wn") == RSI_WINDOW)
    tot = F.col("g") + F.col("l")
    return gl.select(
        "d",
        F.round(F.col("rev_c") / 100.0, 2).alias("rev"),
        (
            F.floor(
                100.0 * F.col("g") / F.nullif(tot.cast("double"), F.lit(0.0))
                * 10000
                + 0.5
            )
            / 10000
        ).alias("rsi"),
        (10 * F.col("g") > (RSI_HI // 10) * tot).alias("overbought"),
        (10 * F.col("g") < (RSI_LO // 10) * tot).alias("oversold"),
    )


# ---------------------------------------------------------------------------
# Round-14: Hurst exponent (rescaled-range long-memory estimate)
# ---------------------------------------------------------------------------

HURST_BLOCKS = (8, 16, 32, 64)  # dyadic block sizes for the R/S regression

hurst_oracle = f"""
WITH daily AS ({_DAILY_CENTS_SQL}),
idx AS (
  SELECT rev_c AS x,
         CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS i
  FROM daily
), lat AS (
  SELECT l.e, CAST(1 << l.e AS BIGINT) AS bn, i.x, i.i
  FROM idx i CROSS JOIN (
    SELECT unnest([3, 4, 5, 6]) AS e
  ) l
), blk AS (
  SELECT e, bn, i // bn AS blk, x, i,
         row_number() OVER (PARTITION BY e, i // bn ORDER BY i) AS r,
         count(*) OVER (PARTITION BY e, i // bn) AS cnt,
         sum(CAST(x AS HUGEINT)) OVER (PARTITION BY e, i // bn) AS s,
         sum(CAST(x AS HUGEINT) * x) OVER (PARTITION BY e, i // bn) AS q,
         sum(CAST(x AS HUGEINT)) OVER (
           PARTITION BY e, i // bn ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM lat
), dev AS (
  SELECT e, bn, blk, cnt, s, q,
         bn * cum - r * s AS dv
  FROM blk
), rs AS (
  SELECT e, bn,
         CAST(floor(CAST(max(dv) - min(dv) AS DOUBLE)
                    / sqrt(CAST(bn * q - s * s AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS rs_q
  FROM dev
  WHERE cnt = bn AND bn * q - s * s > 0
  GROUP BY e, bn, blk, s, q
), per_n AS (
  SELECT e, bn, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(rs_q) AS BIGINT) AS sq,
         CAST(floor(ln(CAST(sum(rs_q) AS DOUBLE) / count(*) / 1000000)
                    * 1000000000 + 0.5) AS BIGINT) AS yq
  FROM rs GROUP BY e, bn
), fit AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(e) AS BIGINT) AS se,
         CAST(sum(e * e) AS BIGINT) AS see,
         CAST(sum(yq) AS HUGEINT) AS sy,
         CAST(sum(e * yq) AS HUGEINT) AS sey
  FROM per_n
)
SELECT p.bn AS block_n, p.n_blocks,
       floor(CAST(p.sq AS DOUBLE) / p.n_blocks / 1000000 * 1000000 + 0.5)
         / 1000000 AS mean_rs,
       floor(CAST(f.k * f.sey - f.se * f.sy AS DOUBLE)
             / (f.k * f.see - f.se * f.se) / 1000000000 / ln(2)
             * 10000 + 0.5) / 10000 AS hurst
FROM per_n p CROSS JOIN fit f
"""


@register("hurst_exponent_daily", hurst_oracle)
def hurst_exponent_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST EXPONENT of the daily revenue series by classical rescaled
    range: for dyadic block sizes n ∈ {8,16,32,64}, each complete block
    of n consecutive days yields R/S = (max−min of mean-adjusted
    cumulative deviations) / population σ, and H is the slope of
    log(mean R/S) against log n — H≈0.5 random walk, H>0.5 trending
    (long memory), H<0.5 mean-reverting. The long-memory readout beside
    `acf_daily_revenue` (fixed lags) and `rsi_daily_revenue` (local).

    Exactness: with S=Σx, Q=Σx², cum_i all exact ints, the scaled
    deviation D_i = n·cum_i − i·S makes R/S = (maxD−minD)/√(nQ−S²) a
    single fixed-spelling double from exact HUGEINT/DECIMAL pieces
    (x² forces the decimal lane at 100 TB: 10¹³ cents/day squares past
    int64). Per-block R/S quantizes to 1e-6 and per-n log-means to 1e-9
    BEFORE their sums, so no accumulation order exists anywhere; the
    4-point OLS slope runs on exact integer sums (x = the dyadic
    exponent e, an int). Scale shape: one combinable daily groupBy is
    the data-sized stage; everything after lives on the day-DOMAIN
    lattice (days × 4 rows, calendar-bounded — the seasonal_decompose
    allowlist class)."""
    import math

    daily = _daily_cents(spark, sf_dir).select("d", "rev_c")
    idx = daily.select(
        F.col("rev_c").alias("x"),
        (F.row_number().over(Window.orderBy("d")) - 1)
        .cast("bigint")
        .alias("i"),
    )
    lat = idx.crossJoin(
        F.broadcast(
            local_df(
                idx.sparkSession,
                [(e, 1 << e) for e in (3, 4, 5, 6)],
                "e int, bn long",
            )
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    wb = Window.partitionBy("e", "blk")
    wc = (
        Window.partitionBy("e", "blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    blk = lat.withColumn("blk", F.floor(F.col("i") / F.col("bn"))).select(
        "e",
        "bn",
        "blk",
        "i",
        F.row_number().over(Window.partitionBy("e", "blk").orderBy("i"))
        .alias("r"),
        F.count("*").over(wb).alias("cnt"),
        F.sum(dec(F.col("x"))).over(wb).alias("s"),
        F.sum(dec(F.col("x")) * F.col("x")).over(wb).alias("q"),
        F.sum(dec(F.col("x"))).over(wc).alias("cum"),
    )
    dev = blk.select(
        "e",
        "bn",
        "blk",
        "cnt",
        "s",
        "q",
        (F.col("bn") * F.col("cum") - F.col("r") * F.col("s")).alias("dv"),
    )
    var_num = (F.col("bn") * F.col("q") - F.col("s") * F.col("s"))
    rs = (
        dev.groupBy("e", "bn", "blk", "s", "q", "cnt")
        .agg(F.max("dv").alias("mx"), F.min("dv").alias("mn"))
        .filter((F.col("cnt") == F.col("bn")) & (var_num > 0))
        .select(
            "e",
            "bn",
            F.floor(
                (F.col("mx") - F.col("mn")).cast("double")
                / F.sqrt(var_num.cast("double"))
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("rs_q"),
        )
    )
    per_n = rs.groupBy("e", "bn").agg(
        F.count("*").alias("n_blocks"),
        F.sum("rs_q").alias("sq"),
        F.floor(
            F.log(
                F.sum("rs_q").cast("double") / F.count("*") / 1000000
            )
            * 1000000000
            + 0.5
        )
        .cast("long")
        .alias("yq"),
    )
    fit = per_n.agg(
        F.count("*").alias("k"),
        F.sum("e").alias("se"),
        F.sum(F.col("e") * F.col("e")).alias("see"),
        F.sum(dec(F.col("yq"))).alias("sy"),
        F.sum(dec(F.col("e") * F.col("yq"))).alias("sey"),
    )
    hurst = (
        (F.col("k") * F.col("sey") - F.col("se") * F.col("sy"))
        .cast("double")
        / (F.col("k") * F.col("see") - F.col("se") * F.col("se"))
        / 1000000000
        / math.log(2)
    )
    return per_n.crossJoin(F.broadcast(fit)).select(
        F.col("bn").cast("long").alias("block_n"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
        (
            F.floor(
                F.col("sq").cast("double") / F.col("n_blocks") / 1000000
                * 1000000
                + 0.5
            )
            / 1000000
        ).alias("mean_rs"),
        (F.floor(hurst * 10000 + 0.5) / 10000).alias("hurst"),
    )


# ---------------------------------------------------------------------------
# Chatterjee's ξ — rank correlation that detects ANY dependence (round-15)
# ---------------------------------------------------------------------------

chatterjee_oracle = f"""
WITH daily AS ({_DAILY_CENTS_SQL}),
ranked AS (
  SELECT d, n_orders AS x, rev_c AS y,
         count(*) OVER (ORDER BY rev_c
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS r,
         count(*) OVER (ORDER BY rev_c DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS l
  FROM daily
),
seq AS (
  SELECT r, l, lag(r) OVER (ORDER BY x, d) AS pr FROM ranked
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(1.0 - CAST(count(*) * sum(CASE WHEN pr IS NULL THEN 0
                                            ELSE abs(r - pr) END) AS DOUBLE)
             / nullif(2.0 * (count(*) * sum(l) - sum(l * l)), 0), 6) AS xi
FROM seq
"""


@register("chatterjee_xi_daily", chatterjee_oracle)
def chatterjee_xi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's ξ (JASA 2020) of daily revenue AGAINST daily order
    count — the modern rank-dependence coefficient: unlike Kendall τ /
    Spearman ρ (monotone-only, and O(days²) pair stages here), ξ is
    computed from one sorted pass and converges to 0 iff independent and
    1 iff y is a measurable FUNCTION of x — oscillating or V-shaped
    dependence that τ scores ≈0 still drives ξ up.

    ξ = 1 − n·Σ|r_{{i+1}} − r_i| / (2·Σ l_i(n − l_i)) with the sequence
    ordered by x, r_i = #{{y_j ≤ y_i}}, l_i = #{{y_j ≥ y_i}} (the
    ties-correct general form). DETERMINISTIC tie policy: the original
    statistic breaks x-ties uniformly at random; this operator orders by
    (x, d) — stable content key, same statistic family, bit-replayable —
    and the oracle mirrors it exactly. Σl(n−l) is expanded to
    n·Σl − Σl² so one aggregate row carries everything; all terms are
    exact integers (≤ n³ ≈ 2⁴² at a 100-year calendar), one IEEE
    division at the end.

    Shape: the data-sized stage is the combinable daily groupBy; the
    three unpartitioned windows (two RANGE tie-rank counts, one lag) run
    over the day-DOMAIN relation — calendar-bounded at any scale, the
    spearman_daily_corr allowlist class (plan_audit entry: 3)."""
    daily = _daily_cents(spark, sf_dir)
    w_r = Window.orderBy("y").rangeBetween(Window.unboundedPreceding, 0)
    w_l = Window.orderBy(F.desc("y")).rangeBetween(
        Window.unboundedPreceding, 0
    )
    ranked = daily.select(
        "d",
        F.col("n_orders").alias("x"),
        F.col("rev_c").alias("y"),
    ).select(
        "d",
        "x",
        "y",
        F.count("*").over(w_r).alias("r"),
        F.count("*").over(w_l).alias("l"),
    )
    seq = ranked.withColumn("pr", F.lag("r").over(Window.orderBy("x", "d")))
    n = F.count("*")
    num = n * F.sum(
        F.when(F.col("pr").isNull(), F.lit(0)).otherwise(
            F.abs(F.col("r") - F.col("pr"))
        )
    )
    den = 2.0 * (n * F.sum("l") - F.sum(F.col("l") * F.col("l")))
    return seq.agg(
        n.cast("bigint").alias("n_days"),
        F.round(
            num.cast("double") / F.nullif(den, F.lit(0.0)), 6
        ).alias("_xi_raw"),
    ).select(
        "n_days",
        F.round(1.0 - F.col("_xi_raw"), 6).alias("xi"),
    )


# ---------------------------------------------------------------------------
# Historical VaR / CVaR over daily revenue returns (round-15)
# ---------------------------------------------------------------------------

var_cvar_oracle = f"""
WITH daily AS ({_DAILY_CENTS_SQL}),
micro AS (
  SELECT d,
         CAST((num - ((num % den + den) % den)) / den AS BIGINT) AS ret_micro
  FROM (
    SELECT d, (rev_c - prev_c) * 1000000 AS num, prev_c AS den
    FROM (
      SELECT d, rev_c, lag(rev_c) OVER (ORDER BY d) AS prev_c FROM daily
    )
    WHERE prev_c IS NOT NULL AND prev_c > 0
  )
),
ordered AS (
  SELECT ret_micro, row_number() OVER (ORDER BY ret_micro, d) AS rn
  FROM micro
),
tot AS (
  SELECT count(*) AS n,
         CAST(floor((count(*) + 19) / 20.0) AS BIGINT) AS k
  FROM micro
)
SELECT CAST(n AS BIGINT) AS n_returns,
       CAST(k AS BIGINT) AS k_tail,
       CAST((SELECT max(ret_micro) FROM ordered, tot WHERE rn <= k)
            AS BIGINT) AS var_ret_micro,
       round(CAST((SELECT sum(ret_micro) FROM ordered, tot WHERE rn <= k)
                  AS DOUBLE) / k, 6) AS cvar_ret_micro
FROM tot
"""


@register("var_cvar_daily", var_cvar_oracle)
def var_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 95% Value-at-Risk and CVaR (expected shortfall) of
    daily revenue returns — the tail-risk readout `daily_return_profile`
    (mean/stdev) and `max_drawdown_revenue` (path extremum) both miss:
    VaR is the k-th worst return (k = ceil(0.05 n) — the empirical 5%
    quantile), CVaR the MEAN of those k worst — the coherent tail
    measure Basel replaced VaR with.

    Exactness: returns are sign-safe exact integer micro-units —
    (drev * 1e6 - posmod)/prev with posmod = ((num % den + den) % den),
    the floor division both engines agree on for NEGATIVE numerators
    (plain DIV truncates toward zero and DuckDB // floors — they would
    disagree on every losing day; the posmod spelling is
    engine-independent, and the final division is exact because the
    numerator is made divisible). The tail cut orders by (ret_micro, d)
    so the boundary is deterministic, and tied boundary VALUES are
    equal, so VaR/CVaR are tie-invariant anyway. CVaR is one IEEE
    division of an exact integer tail sum; k = (n + 19) div 20 exact.

    Shape: the combinable daily groupBy is the data-sized stage; the
    lag and the order-statistic row_number run over the day-DOMAIN
    series (the rsi_daily_revenue allowlist class; plan_audit: 2)."""
    daily = _daily_cents(spark, sf_dir)
    micro = (
        daily.select(
            "d",
            "rev_c",
            F.lag("rev_c").over(Window.orderBy("d")).alias("prev_c"),
        )
        .filter(F.col("prev_c").isNotNull() & (F.col("prev_c") > 0))
        .select(
            "d",
            ((F.col("rev_c") - F.col("prev_c")) * 1000000).alias("num"),
            F.col("prev_c").alias("den"),
        )
        .select(
            "d",
            F.expr(
                "CAST((num - ((num % den + den) % den)) / den AS BIGINT)"
            ).alias("ret_micro"),
        )
    )
    ordered = micro.select(
        "ret_micro",
        F.row_number().over(Window.orderBy("ret_micro", "d")).alias("rn"),
    )
    tot = micro.agg(
        F.count("*").alias("n"),
        F.floor((F.count("*") + 19) / 20.0).cast("bigint").alias("k"),
    )
    tail = ordered.crossJoin(F.broadcast(tot)).filter(F.col("rn") <= F.col("k"))
    return tail.groupBy("n", "k").agg(
        F.max("ret_micro").alias("_var"),
        F.sum("ret_micro").alias("_s"),
    ).select(
        F.col("n").cast("bigint").alias("n_returns"),
        F.col("k").cast("bigint").alias("k_tail"),
        F.col("_var").cast("bigint").alias("var_ret_micro"),
        F.round(F.col("_s").cast("double") / F.col("k"), 6).alias(
            "cvar_ret_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Seasonal Mann-Kendall — trend with the weekly cycle blocked out (round-15)
# ---------------------------------------------------------------------------

seasonal_mk_oracle = f"""
WITH daily AS MATERIALIZED (
  SELECT d, rev_c, d % 7 AS season FROM ({_DAILY_CENTS_SQL})
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
s AS (
  SELECT CAST(sum(CAST(sign(b.rev_c - a.rev_c) AS BIGINT)) AS BIGINT)
    AS s_stat
  FROM daily a JOIN daily b ON b.d > a.d AND b.season = a.season
),
v AS (
  SELECT CAST(sum(ns * (ns - 1) * (2 * ns + 5)) AS BIGINT)
         - CAST(coalesce((
             SELECT sum(tt * (tt - 1) * (2 * tt + 5))
             FROM (SELECT count(*) AS tt FROM daily GROUP BY season, rev_c)
             WHERE tt > 1), 0) AS BIGINT) AS var18
  FROM (SELECT count(*) AS ns FROM daily GROUP BY season)
)
SELECT n.n_days, s.s_stat,
       CAST(v.var18 AS BIGINT) AS var_s_x18,
       round(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                  WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                  ELSE 0 END
             / nullif(sqrt(v.var18 / 18.0), 0), 6) AS z_smk
FROM n, s, v
"""


@register("seasonal_mann_kendall", seasonal_mk_oracle)
def seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall (Hirsch-Slack) on daily revenue with
    day-of-week seasons: S sums sign(rev_j − rev_i) only over SAME-dow
    pairs, so the weekly cycle — which plain `mann_kendall_trend` reads
    as noise (or worse, as trend when the calendar window is ragged) —
    is blocked out entirely; the hydrology-standard spelling of "is
    there a trend AFTER seasonality". Variance sums the per-season
    tie-corrected MK variances (independent-season assumption); the
    published `var_s_x18` keeps the exact ×18 integer so no engine ever
    rounds it.

    Exactness: integer-cents revenue makes every sign and tie group
    exact; season = epoch-day mod 7 (day index is nonnegative) is the
    same integer both engines; the only floats are √(var/18) and z.

    Shape: the same O(days²) calendar-bounded pair stage as Kendall τ /
    MK (round-robin repartitioned, broadcast right side), with the
    season equality as an extra join predicate — pair count drops ~7×;
    tie groups key on (season, rev_c)."""
    n_parts = shuffle_partition_count(spark)
    daily = _daily_cents(spark, sf_dir).select(
        "d", "rev_c", (F.col("d") % 7).alias("season")
    )
    pairs = _day_pairs(daily, n_parts, ["rev_c", "season"]).filter(
        F.col("season_2") == F.col("season_1")
    )
    s = pairs.agg(
        F.sum(F.signum(F.col("rev_c_2") - F.col("rev_c_1")).cast("bigint"))
        .alias("s_stat")
    )
    n = daily.agg(F.count("*").alias("n_days"))
    per_season = (
        daily.groupBy("season")
        .agg(F.count("*").alias("ns"))
        .agg(
            F.sum(
                F.col("ns") * (F.col("ns") - 1) * (2 * F.col("ns") + 5)
            ).alias("base")
        )
    )
    ties = (
        daily.groupBy("season", "rev_c")
        .agg(F.count("*").alias("tt"))
        .filter(F.col("tt") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5)),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    corrected = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(F.lit(0))
    )
    var18 = (F.col("base") - F.col("tie_term")).cast("bigint")
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(per_season))
        .crossJoin(F.broadcast(ties))
        .select(
            "n_days",
            "s_stat",
            var18.alias("var_s_x18"),
            F.round(
                corrected
                / F.nullif(F.sqrt(var18 / 18.0), F.lit(0.0)),
                6,
            ).alias("z_smk"),
        )
    )


# ---------------------------------------------------------------------------
# Bartels rank test — von Neumann randomness on ranks (round-15)
# ---------------------------------------------------------------------------

bartels_oracle = f"""
WITH daily AS MATERIALIZED ({_DAILY_CENTS_SQL}),
tot AS (SELECT count(*) AS n FROM daily),
ranked AS (
  SELECT d, n,
         count(*) OVER (ORDER BY rev_c
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           + n
           - count(*) OVER (ORDER BY rev_c DESC
                            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           + 1 AS r2
  FROM daily, tot
),
seq AS (
  SELECT n, r2, lead(r2) OVER (ORDER BY d) AS nr2 FROM ranked
),
agg AS (
  SELECT n,
         sum(CASE WHEN nr2 IS NULL THEN 0
                  ELSE (r2 - nr2) * (r2 - nr2) END) AS num,
         sum((r2 - n - 1) * (r2 - n - 1)) AS den
  FROM seq GROUP BY n
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(CAST(num AS DOUBLE) / nullif(den, 0), 6) AS rvn,
       round((CAST(num AS DOUBLE) / nullif(den, 0) - 2)
             / nullif(sqrt(4.0 * (n - 2) * (5.0 * n * n - 2 * n - 9)
                           / (5.0 * n * (n + 1) * (n - 1.0) * (n - 1))), 0),
             6) AS z_rvn
FROM agg
"""


@register("bartels_rank_test", bartels_oracle)
def bartels_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels' rank version of von Neumann's ratio — randomness of the
    daily revenue SEQUENCE tested on ranks: RVN = Σ(r_i − r_{{i+1}})² /
    Σ(r_i − r̄)², ≈2 under randomness, <2 for momentum (adjacent days
    alike), >2 for oscillation. `runs_test_daily` dichotomizes at the
    median and discards magnitude order; Bartels keeps the full ranking
    (more powerful against trend/AR alternatives — Bartels 1982) while
    staying distribution-free where ACF assumes stationary Gaussian.

    Exactness: DOUBLED midranks 2r = cnt_le + (n − cnt_ge) + 1 are exact
    integers (the chatterjee RANGE-window trick); with midranks the rank
    mean is exactly (n+1)/2, so numerator and denominator are exact
    integer sums whose shared ×4 scale cancels in the ratio — RVN is ONE
    division of exact ints; z uses Bartels' exact-moment variance
    4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²).

    Shape: one combinable daily groupBy, then three unpartitioned
    windows over the day-DOMAIN relation (two RANGE tie-rank counts +
    one lead — the chatterjee_xi_daily allowlist class; plan_audit: 3)."""
    daily = _daily_cents(spark, sf_dir)
    w_le = Window.orderBy("rev_c").rangeBetween(Window.unboundedPreceding, 0)
    w_ge = Window.orderBy(F.desc("rev_c")).rangeBetween(
        Window.unboundedPreceding, 0
    )
    n_sub = daily.agg(F.count("*").alias("n"))
    ranked = (
        daily.select(
            "d",
            "rev_c",
            F.count("*").over(w_le).alias("cle"),
            F.count("*").over(w_ge).alias("cge"),
        )
        .crossJoin(F.broadcast(n_sub))
        .select(
            "d",
            "n",
            (F.col("cle") + F.col("n") - F.col("cge") + 1).alias("r2"),
        )
    )
    seq = ranked.withColumn("nr2", F.lead("r2").over(Window.orderBy("d")))
    num = F.sum(
        F.when(F.col("nr2").isNull(), F.lit(0)).otherwise(
            (F.col("r2") - F.col("nr2")) * (F.col("r2") - F.col("nr2"))
        )
    )
    nn = F.max("n")
    den = F.sum((F.col("r2") - F.col("n") - 1) * (F.col("r2") - F.col("n") - 1))
    rvn = num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0))
    var = (
        4.0
        * (nn - 2)
        * (5.0 * nn * nn - 2 * nn - 9)
        / (5.0 * nn * (nn + 1) * (nn - 1.0) * (nn - 1))
    )
    return seq.agg(
        nn.cast("bigint").alias("n_days"),
        F.round(rvn, 6).alias("rvn"),
        F.round((rvn - 2) / F.nullif(F.sqrt(var), F.lit(0.0)), 6).alias(
            "z_rvn"
        ),
    )

"""Statistical-inference surface over events/lineitem (round-8 additions).

The reference's product loop stops at point aggregates (`processing.scala:
116-127` — mean usage, max normalization); the questions the same team asks
next are inferential: is usage TRENDING, do groups DIFFER, does the revenue
ledger look FABRICATED. Each query here is the in-plan Spark spelling of a
classical test, built only from associative aggregates (counts, second
moments) so map-side combine applies and nothing bigger than the group
cardinality crosses a shuffle — the same discipline as `stat_aggregates`
and `ab_test_proportions`.

Float discipline (repo convention, see stat_aggregates): every reported
statistic is a RATIO of centered sums or of integer counts, so cross-engine
accumulation-order noise cancels to ~1e-12 relative and round-6 outputs are
hash-stable. Constants that enter a formula (Benford expectations) are
computed ONCE in Python and embedded as identical literals in both the
Spark plan and the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import sql_hash_mod
from ..functions.ranking import range_partition_offsets
from ..functions.timeutil import epoch_ms
from ..functions.localdf import local_df
from ..registry import register
from ..session import shuffle_partition_count
from ..sources import load_table

# ---------------------------------------------------------------------------
# Per-group linear trend (regr_slope / regr_intercept / regr_r2)
# ---------------------------------------------------------------------------

regression_trend_oracle = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(regr_slope(value, epoch_ms(CAST(ts AS TIMESTAMP)) / 86400000.0), 6)
         AS slope_per_day,
       round(regr_intercept(value, epoch_ms(CAST(ts AS TIMESTAMP)) / 86400000.0), 4)
         AS intercept,
       round(regr_r2(value, epoch_ms(CAST(ts AS TIMESTAMP)) / 86400000.0), 6)
         AS r2
FROM events
GROUP BY event_type
"""


@register("regression_trend", regression_trend_oracle)
def regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of value over time (days since
    epoch): slope, intercept, R² via the SQL-standard ``regr_*`` family —
    single-pass streaming second moments, so the whole test is one
    group-cardinality shuffle regardless of data size. Slope/R² are ratios
    of centered sums (accumulation-order noise cancels, round-6 stable);
    the reference has no trend surface at all — its usage statistics are
    static means (`processing.scala:116-127`)."""
    ev = load_table(spark, sf_dir, "events")
    x = (epoch_ms(F.col("ts").cast("timestamp")) / F.lit(86400000.0)).alias("x")
    return (
        ev.select("event_type", F.col("value").alias("y"), x)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope_per_day"),
            F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit profile (ledger-fabrication audit)
# ---------------------------------------------------------------------------

#: Benford expected frequencies log10(1 + 1/d), embedded as IDENTICAL
#: literals in the Spark plan and the oracle so no transcendental function
#: is evaluated by either engine.
_BENFORD_EXPECTED = {d: round(math.log10(1.0 + 1.0 / d), 10) for d in range(1, 10)}

_benford_case_sql = " ".join(
    f"WHEN {d} THEN {_BENFORD_EXPECTED[d]}" for d in range(1, 10)
)

benford_oracle = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM lineitem
  WHERE l_extendedprice > 0
), counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
), tot AS (SELECT sum(n) AS total FROM counts)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / total, 6) AS observed_freq,
       CAST(CASE digit {_benford_case_sql} END AS DOUBLE) AS expected_freq,
       round(pow(n - total * (CASE digit {_benford_case_sql} END), 2)
             / (total * (CASE digit {_benford_case_sql} END)), 6) AS chi2_term
FROM counts, tot
"""


@register("benford_digit_profile", benford_oracle)
def benford_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of extended price vs Benford's
    law, with per-digit χ² contributions — the classic fabricated-ledger
    audit. The digit is extracted through exact integer cents (string head
    of a BIGINT), never ``log10`` — a price that sits on a power of ten
    would make the logarithm's last-ulp behaviour engine-dependent, while
    integer→string is identical everywhere. One scan → 9-row aggregate;
    the grand total joins back as a 1-row cross join (broadcast for free).
    Expected frequencies are Python-computed literals shared with the
    oracle."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    digit = (
        F.substring(
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    counts = li.select(digit).groupBy("digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    expected = F.col("digit")
    exp_expr = None
    for d in range(1, 10):
        lit = F.lit(_BENFORD_EXPECTED[d])
        exp_expr = (
            F.when(expected == d, lit)
            if exp_expr is None
            else exp_expr.when(expected == d, lit)
        )
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
            "observed_freq"
        ),
        exp_expr.alias("expected_freq"),
        F.round(
            F.pow(F.col("n") - F.col("total") * exp_expr, 2)
            / (F.col("total") * exp_expr),
            6,
        ).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA (F test) across event types
# ---------------------------------------------------------------------------

anova_oracle = """
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         avg(value) AS mean_v,
         var_samp(value) AS var_v
  FROM events GROUP BY event_type
), grand AS (
  SELECT sum(n) AS n_total, CAST(count(*) AS BIGINT) AS k,
         sum(n * mean_v) / sum(n) AS grand_mean
  FROM g
), parts AS (
  SELECT sum(n * pow(mean_v - grand_mean, 2)) AS ssb,
         sum((n - 1) * var_v) AS ssw,
         any_value(k) AS k, any_value(n_total) AS n_total
  FROM g, grand
)
SELECT k AS k_groups, n_total,
       round(ssb / (k - 1) / (ssw / (n_total - k)), 6) AS f_stat,
       round(ssb / (ssb + ssw), 6) AS eta_squared
FROM parts
"""


@register("anova_f_oneway", anova_oracle)
def anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across event types: F statistic and
    effect size η² from per-group (n, mean, sample variance) — the
    between/within decomposition needs ONLY associative second moments, so
    the plan is one group-cardinality shuffle, a k-row broadcast of the
    grand mean, and a 1-row reduce. Complements the categorical χ²
    (`chi_square_type_dow`) and the two-arm z test (`ab_test_proportions`)
    with the k-group continuous-response case. F and η² are ratios of
    centered sums → round-6 hash-stable cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("mean_v"),
        F.var_samp("value").alias("var_v"),
    )
    grand = g.agg(
        F.sum("n").alias("n_total"),
        F.count("*").alias("k"),
        (F.sum(F.col("n") * F.col("mean_v")) / F.sum("n")).alias("grand_mean"),
    )
    parts = (
        g.crossJoin(F.broadcast(grand))
        .agg(
            F.sum(F.col("n") * F.pow(F.col("mean_v") - F.col("grand_mean"), 2)).alias(
                "ssb"
            ),
            F.sum((F.col("n") - 1) * F.col("var_v")).alias("ssw"),
            F.any_value("k").alias("k"),
            F.any_value("n_total").alias("n_total"),
        )
    )
    return parts.select(
        F.col("k").alias("k_groups"),
        "n_total",
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n_total") - F.col("k"))),
            6,
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias(
            "eta_squared"
        ),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test — distributed tie-aware ranking
# ---------------------------------------------------------------------------

MW_GROUP_A = "purchase"
MW_GROUP_B = "click"

mann_whitney_oracle = f"""
WITH vals AS (
  SELECT value,
         CAST(sum(CASE WHEN event_type = '{MW_GROUP_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS a_cnt,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE event_type IN ('{MW_GROUP_A}', '{MW_GROUP_B}')
  GROUP BY value
), ranked AS (
  SELECT a_cnt, cnt,
         COALESCE(sum(cnt) OVER (ORDER BY value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM vals
), s AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
         CAST(sum(cnt) - sum(a_cnt) AS BIGINT) AS n_b,
         sum(a_cnt * (cum_before + (cnt + 1) / 2.0)) AS r_a,
         sum(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie_sum
  FROM ranked
)
SELECT n_a, n_b,
       round(r_a - n_a * (n_a + 1) / 2.0, 1) AS u_stat,
       round((r_a - n_a * (n_a + 1) / 2.0 - CAST(n_a AS DOUBLE) * n_b / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                    * ((n_a + n_b + 1)
                       - tie_sum / (CAST(n_a + n_b AS DOUBLE)
                                    * (n_a + n_b - 1.0)))), 6) AS z_score,
       round(1.0 - 2.0 * (r_a - n_a * (n_a + 1) / 2.0)
                   / (CAST(n_a AS DOUBLE) * n_b), 6) AS rank_biserial
FROM s
"""


@register("mann_whitney_u", mann_whitney_oracle)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test of `value` between two
    event-type samples, with tie-corrected normal approximation — the
    nonparametric complement to the parametric arm tests (z / CUPED /
    ANOVA): no distributional assumption, robust to the heavy-tailed
    values `winsorized_means` clips.

    Distributed ranking WITHOUT a global sort: observations collapse to
    per-distinct-value counts first (one combinable groupBy — the only
    data-sized exchange), then the COLLAPSED table is range-partitioned
    and locally rank-summed, with O(P) per-partition totals collected and
    broadcast back as rank offsets (`quartiles_distributed` pattern).
    Equal values land in one range partition, so tie groups are never
    split and the average-rank arithmetic stays exact: every average rank
    is a multiple of 0.5 below 2^52, so the rank-sum is bit-identical
    cross-engine, not merely round-stable."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(MW_GROUP_A, MW_GROUP_B))
        .select(
            "value",
            (F.col("event_type") == MW_GROUP_A).cast("long").alias("is_a"),
        )
    )
    vals = ev.groupBy("value").agg(
        F.sum("is_a").alias("a_cnt"), F.count("*").alias("cnt")
    )
    n_parts = shuffle_partition_count(spark)
    # pid-pinned range partitioning + O(P) offset collection — shared
    # machinery in functions/ranking.py
    ranged, _, offsets_df, _ = range_partition_offsets(
        vals, ["value"], [("tot", F.sum("cnt"))], n_parts
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        ranged.withColumn("cum_local", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .join(F.broadcast(offsets_df), "pid")
        .select(
            "a_cnt",
            "cnt",
            (F.col("off_tot") + F.col("cum_local")).alias("cum_before"),
        )
    )
    s = ranked.agg(
        F.sum("a_cnt").alias("n_a"),
        (F.sum("cnt") - F.sum("a_cnt")).alias("n_b"),
        F.sum(
            F.col("a_cnt") * (F.col("cum_before") + (F.col("cnt") + 1) / 2.0)
        ).alias("r_a"),
        F.sum(
            F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie_sum"),
    )
    u = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / 2.0
    n_a_d = F.col("n_a").cast("double")
    n_b_d = F.col("n_b").cast("double")
    n_tot = F.col("n_a") + F.col("n_b")
    var = (
        n_a_d
        * n_b_d
        / 12.0
        * (
            (n_tot + 1)
            - F.col("tie_sum") / (n_tot.cast("double") * (n_tot - 1.0))
        )
    )
    return s.select(
        "n_a",
        "n_b",
        F.round(u, 1).alias("u_stat"),
        F.round((u - n_a_d * n_b_d / 2.0) / F.sqrt(var), 6).alias("z_score"),
        F.round(1.0 - 2.0 * u / (n_a_d * n_b_d), 6).alias("rank_biserial"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (time-to-conversion with right-censoring)
# ---------------------------------------------------------------------------

#: a purchase with value above this converts the user (the event under study)
KM_VALUE_THRESHOLD = 100

kaplan_meier_oracle = f"""
WITH pu AS (
  SELECT user_id,
         epoch_ms(CAST(min(ts) AS TIMESTAMP)) AS first_ms,
         epoch_ms(CAST(min(CASE WHEN event_type = 'purchase'
                                 AND value > {KM_VALUE_THRESHOLD}
                                THEN ts END) AS TIMESTAMP)) AS hit_ms
  FROM events GROUP BY user_id
), horizon AS (
  SELECT max(epoch_ms(CAST(ts AS TIMESTAMP))) AS end_ms FROM events
), marked AS (
  SELECT CAST(floor((COALESCE(hit_ms, end_ms) - first_ms) / 86400000.0)
              AS BIGINT) AS t_days,
         CASE WHEN hit_ms IS NOT NULL THEN 1 ELSE 0 END AS converted
  FROM pu, horizon
), lt AS (
  SELECT t_days,
         CAST(sum(converted) AS BIGINT) AS d,
         CAST(count(*) - sum(converted) AS BIGINT) AS c
  FROM marked GROUP BY t_days
), tot AS (SELECT sum(d + c) AS n_users FROM lt),
risk AS (
  SELECT t_days, d, c,
         n_users - COALESCE(sum(d + c) OVER (ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at_risk
  FROM lt, tot
), surv AS (
  SELECT t_days, d, c, n_at_risk,
         CASE WHEN max(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
              THEN 0.0
              ELSE exp(sum(CASE WHEN d > 0 AND d < n_at_risk
                                THEN ln((n_at_risk - d) / CAST(n_at_risk AS DOUBLE))
                                ELSE 0.0 END)
                       OVER (ORDER BY t_days
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         END AS s
  FROM risk
)
SELECT t_days, CAST(n_at_risk AS BIGINT) AS n_at_risk, d AS n_converted,
       c AS n_censored, round(s, 6) AS survival
FROM surv WHERE d > 0
"""


@register("kaplan_meier_conversion", kaplan_meier_oracle)
def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve: per user, days from first
    activity to the first high-value purchase (value > threshold); users
    who never convert are right-CENSORED at the end of the observation
    window — S(t) = Π_(u≤t) (n_u − d_u)/n_u is the estimator that uses
    censored users correctly (they stay in the at-risk denominator until
    their censor time), which the naive "conversion rate by day" readout
    gets wrong.

    Scale shape: the data-sized stage is ONE combinable user groupBy; the
    KM recursion then runs over the duration-DOMAIN table, bounded by the
    corpus day span (≤ a few hundred rows at any data size) — the
    `counting_median` domain-count strategy applied to survival. The
    cumulative product is spelled exp(Σ ln) over an ordered running frame
    (deterministic accumulation order in both engines, round-6 stable);
    d = n terminal rows short-circuit to exactly 0 through a running flag
    so ln(0) is never evaluated (Spark returns NULL there, DuckDB −inf —
    the one spelling the engines disagree on). Censored-at-t users stay
    at risk for conversions at t (standard KM tie convention). The two
    unpartitioned windows sit over the day-span-bounded domain table
    (plan-audit allowlisted, `mom_revenue_growth` precedent)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        epoch_ms(F.min("ts").cast("timestamp")).alias("first_ms"),
        epoch_ms(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > KM_VALUE_THRESHOLD),
                    F.col("ts"),
                )
            ).cast("timestamp")
        ).alias("hit_ms"),
    )
    horizon = ev.agg(epoch_ms(F.max("ts").cast("timestamp")).alias("end_ms"))
    marked = pu.crossJoin(F.broadcast(horizon)).select(
        F.floor(
            (F.coalesce(F.col("hit_ms"), F.col("end_ms")) - F.col("first_ms"))
            / 86400000.0
        )
        .cast("bigint")
        .alias("t_days"),
        F.col("hit_ms").isNotNull().cast("long").alias("converted"),
    )
    lt = marked.groupBy("t_days").agg(
        F.sum("converted").alias("d"),
        (F.count("*") - F.sum("converted")).alias("c"),
    )
    tot = lt.agg(F.sum(F.col("d") + F.col("c")).alias("n_users"))
    w_before = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = lt.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "d",
        "c",
        (
            F.col("n_users")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_before), F.lit(0))
        ).alias("n_at_risk"),
    )
    zero_seen = (
        F.max((F.col("d") >= F.col("n_at_risk")).cast("int")).over(w_run) == 1
    )
    log_term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")),
        F.log(
            (F.col("n_at_risk") - F.col("d")) / F.col("n_at_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    surv = risk.select(
        "t_days",
        "d",
        "c",
        "n_at_risk",
        F.when(zero_seen, F.lit(0.0))
        .otherwise(F.exp(F.sum(log_term).over(w_run)))
        .alias("s"),
    )
    return surv.filter(F.col("d") > 0).select(
        "t_days",
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("n_converted"),
        F.col("c").alias("n_censored"),
        F.round("s", 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (deterministic hash randomness)
# ---------------------------------------------------------------------------

#: bootstrap replicas
BOOT_REPS = 100
#: integer thresholds = floor(CDF_Poisson(1)(k) * 1e6) for k = 0..7; a
#: uniform draw u ∈ [0, 1e6) maps to the weight by ladder walk — ALL-INTEGER
#: comparisons, so both engines draw identical weights (tail mass beyond 8
#: truncated: ~1e-5, irrelevant for the interval and identical either way)
_POIS_CDF_1E6 = (367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989)


def _pois_ladder_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF_1E6)
    )
    return f"CASE {cases} ELSE 8 END"


poisson_bootstrap_oracle = f"""
WITH reps AS (
  SELECT e.event_id, e.value, r.rep
  FROM events e CROSS JOIN (SELECT unnest(range(0, {BOOT_REPS})) AS rep) r
), weighted AS (
  SELECT rep, value,
         {_pois_ladder_sql(sql_hash_mod(
             "concat(CAST(event_id AS VARCHAR), ':', CAST(rep AS VARCHAR))",
             1_000_000))} AS w
  FROM reps
), per_rep AS (
  SELECT rep, round(sum(w * value) / nullif(sum(w), 0), 6) AS mean_rep
  FROM weighted GROUP BY rep
), ranked AS (
  SELECT mean_rep,
         row_number() OVER (ORDER BY mean_rep NULLS LAST, rep) AS rn
  FROM per_rep
)
SELECT CAST({BOOT_REPS} AS BIGINT) AS n_reps,
       round(avg(mean_rep), 6) AS boot_mean,
       round(min(CASE WHEN rn = 3 THEN mean_rep END), 6) AS ci_lower,
       round(min(CASE WHEN rn = 98 THEN mean_rep END), 6) AS ci_upper
FROM ranked
"""


@register("poisson_bootstrap_ci", poisson_bootstrap_oracle)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for mean event value via the
    POISSON bootstrap — the resampling scheme that works on distributed
    data: instead of drawing n rows with replacement (which needs global
    coordination), each row enters replica r with weight ~ Poisson(1),
    drawn DETERMINISTICALLY from the portable hash of (event_id, r). One
    scan explodes each row into {BOOT_REPS} (rep, weight) contributions;
    map-side combine collapses them to {BOOT_REPS} partial sums per
    partition, so the shuffle carries O(reps × partitions) rows at any
    data size. The CI picks order statistics 3 and 98 of the 100 rounded
    replica means (2.5%/97.5%, documented convention).

    Determinism: the uniform draw is an integer hash mod 1e6 compared
    against INTEGER CDF thresholds (no float boundary); replica means are
    rounded before ranking so the order-statistic cut is cross-engine
    stable. The explode happens BEFORE hashing, keeping md5 in a flat
    codegen projection (the round-1 HOF-lambda trap). The one
    unpartitioned ranking window runs over the {BOOT_REPS}-row replica
    table (allowlisted)."""
    from pyspark.sql import Window

    from ..functions.hashing import portable_hash_mod

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    reps = ev.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))).alias("rep"),
    )
    u = portable_hash_mod(
        F.concat(
            F.col("event_id").cast("string"),
            F.lit(":"),
            F.col("rep").cast("string"),
        ),
        1_000_000,
    )
    w_expr = None
    for k, t in enumerate(_POIS_CDF_1E6):
        w_expr = (
            F.when(u < t, k) if w_expr is None else w_expr.when(u < t, k)
        )
    w_expr = w_expr.otherwise(8)
    per_rep = (
        reps.select("rep", "value", w_expr.alias("w"))
        .groupBy("rep")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("value"))
                / F.nullif(F.sum("w"), F.lit(0)),
                6,
            ).alias("mean_rep")
        )
    )
    # NULLS LAST spelled explicitly on BOTH engines: a degenerate all-zero-
    # weight replica makes mean_rep NULL via nullif, and Spark's ascending
    # default (NULLS FIRST) disagrees with DuckDB's (NULLS LAST) — the
    # rn=3/rn=98 order-statistic cut would diverge cross-engine there.
    ranked = per_rep.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("mean_rep").asc_nulls_last(), "rep")
        ),
    )
    return ranked.agg(
        F.lit(BOOT_REPS).cast("bigint").alias("n_reps"),
        F.round(F.avg("mean_rep"), 6).alias("boot_mean"),
        F.round(F.min(F.when(F.col("rn") == 3, F.col("mean_rep"))), 6).alias(
            "ci_lower"
        ),
        F.round(F.min(F.when(F.col("rn") == 98, F.col("mean_rep"))), 6).alias(
            "ci_upper"
        ),
    )


# ---------------------------------------------------------------------------
# ROC AUC of a quality score against a binary label (rank-sum identity)
# ---------------------------------------------------------------------------

AUC_POS_LANG = "en"

roc_auc_oracle = f"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
), vocab AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), total AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab
), scores AS (
  SELECT t.doc_id,
         round(CAST(sum(CAST(ln(v.c / tt.n) AS DECIMAL(18,9)))
                    AS DOUBLE) / count(*), 6) AS score
  FROM toks t JOIN vocab v USING (tok), total tt
  GROUP BY t.doc_id
), labeled AS (
  SELECT s.score,
         CASE WHEN d.lang = '{AUC_POS_LANG}' THEN 1 ELSE 0 END AS pos
  FROM scores s JOIN documents d USING (doc_id)
), vals AS (
  SELECT score, CAST(sum(pos) AS BIGINT) AS p_cnt,
         CAST(count(*) AS BIGINT) AS cnt
  FROM labeled GROUP BY score
), ranked AS (
  SELECT p_cnt, cnt,
         COALESCE(sum(cnt) OVER (ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM vals
), s AS (
  SELECT CAST(sum(p_cnt) AS BIGINT) AS n_pos,
         CAST(sum(cnt) - sum(p_cnt) AS BIGINT) AS n_neg,
         sum(p_cnt * (cum_before + (cnt + 1) / 2.0)) AS r_pos
  FROM ranked
)
SELECT n_pos, n_neg,
       round((r_pos - n_pos * (n_pos + 1) / 2.0)
             / nullif(CAST(n_pos AS DOUBLE) * n_neg, 0), 6) AS auc
FROM s
"""


@register("roc_auc_quality", roc_auc_oracle)
def roc_auc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the corpus unigram quality score as a detector of
    AUC_POS_LANG documents, via the rank-sum identity
    AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻) with mid-rank tie handling — the
    model-evaluation readout that tells a curation team whether a score
    RANKS the class it is about to threshold on (the `mann_whitney_u`
    statistic re-expressed as a classifier metric; same distributed
    ranking, no global sort).

    The score is the `unigram_logprob_quality` signal recomputed in-plan
    (same DECIMAL(18,9) quantized-log discipline, so per-doc scores are
    exact and identical cross-engine; grouping by the round-6 score
    merges ties identically). Ranking: per-distinct-score counts, then
    the range-partition + O(P) offset pattern shared with Mann-Whitney
    — every average rank is a multiple of 0.5, so R⁺ is bit-identical
    cross-engine."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n"))
    scores = (
        toks.join(vocab, "tok")
        .join(total)
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.log(F.col("c") / F.col("n")).cast("decimal(18,9)")
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("score")
        )
    )
    labeled = scores.join(docs.select("doc_id", "lang"), "doc_id").select(
        "score",
        (F.col("lang") == AUC_POS_LANG).cast("long").alias("pos"),
    )
    vals = labeled.groupBy("score").agg(
        F.sum("pos").alias("p_cnt"), F.count("*").alias("cnt")
    )
    n_parts = shuffle_partition_count(spark)
    ranged, _, offsets_df, _ = range_partition_offsets(
        vals, ["score"], [("tot", F.sum("cnt"))], n_parts
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        ranged.withColumn(
            "cum_local", F.coalesce(F.sum("cnt").over(w), F.lit(0))
        )
        .join(F.broadcast(offsets_df), "pid")
        .select(
            "p_cnt",
            "cnt",
            (F.col("off_tot") + F.col("cum_local")).alias("cum_before"),
        )
    )
    s = ranked.agg(
        F.sum("p_cnt").alias("n_pos"),
        (F.sum("cnt") - F.sum("p_cnt")).alias("n_neg"),
        F.sum(
            F.col("p_cnt") * (F.col("cum_before") + (F.col("cnt") + 1) / 2.0)
        ).alias("r_pos"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        # nullif: a single-class corpus zeroes n_pos*n_neg — NULL AUC,
        # not an ANSI DIVIDE_BY_ZERO abort (poisson_bootstrap convention)
        F.round(
            (F.col("r_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / F.nullif(
                F.col("n_pos").cast("double") * F.col("n_neg"), F.lit(0.0)
            ),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H — k-group rank test (the nonparametric ANOVA)
# ---------------------------------------------------------------------------

#: the five order priorities (fixture domain, embedded as literals so both
#: engines aggregate the same fixed group columns in the same order)
KW_GROUPS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _kw_oracle() -> str:
    gcols = ",\n         ".join(
        f"CAST(sum(CASE WHEN o_orderpriority = '{g}' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS g{j}"
        for j, g in enumerate(KW_GROUPS)
    )
    rsums = ",\n         ".join(
        f"CAST(sum(g{j}) AS BIGINT) AS n{j}, "
        f"sum(g{j} * (cum_before + (cnt + 1) / 2.0)) AS r{j}"
        for j in range(len(KW_GROUPS))
    )
    # explicit 5-term sum — identical evaluation order on both engines
    ssq = " + ".join(f"r{j} * r{j} / n{j}" for j in range(len(KW_GROUPS)))
    return f"""
WITH vals AS (
  SELECT o_totalprice AS v,
         CAST(count(*) AS BIGINT) AS cnt,
         {gcols}
  FROM orders
  GROUP BY 1
), ranked AS (
  SELECT *,
         COALESCE(sum(cnt) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM vals
), s AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         sum(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie_sum,
         {rsums}
  FROM ranked
)
SELECT n AS n_total,
       round(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * ({ssq})
             - 3.0 * (n + 1), 6) AS h_stat,
       round((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * ({ssq})
              - 3.0 * (n + 1))
             / (1.0 - tie_sum / (CAST(n AS DOUBLE) * n * n - n)), 6)
         AS h_tie_adj,
       round((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * ({ssq})
              - 3.0 * (n + 1)) * (n + 1)
             / (CAST(n AS DOUBLE) * n - 1.0), 6) AS epsilon_sq
FROM s
"""


@register("kruskal_wallis_h", _kw_oracle())
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of o_totalprice across the five order
    priorities — the k-group generalization of `mann_whitney_u` and the
    rank-based (distribution-free) counterpart of `anova_f_oneway`: does
    ANY priority class price differently? Reports the raw H, the
    tie-corrected H (H / (1 - Σ(t³−t)/(N³−N))), and the ε² effect size.

    Same distributed-ranking discipline as mann_whitney_u: observations
    collapse to per-distinct-price counts carrying the FIVE group
    occupancy columns (one combinable groupBy — the only data-sized
    exchange), the collapsed table is range-partitioned with O(P) rank
    offsets (`functions/ranking.py`), and every rank-sum R_j accumulates
    exact multiples of 0.5 (binary-exact doubles below 2^52), so the five
    R_j are bit-identical cross-engine. The H formula is then spelled as
    the SAME explicit 5-term expression in both engines — no
    accumulation-order noise enters anywhere before the final round-6."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), "o_orderpriority"
    )
    vals = orders.groupBy("v").agg(
        F.count("*").alias("cnt"),
        *[
            F.sum((F.col("o_orderpriority") == g).cast("long")).alias(f"g{j}")
            for j, g in enumerate(KW_GROUPS)
        ],
    )
    n_parts = shuffle_partition_count(spark)
    ranged, _, offsets_df, _ = range_partition_offsets(
        vals, ["v"], [("tot", F.sum("cnt"))], n_parts
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    midrank = F.col("cum_before") + (F.col("cnt") + 1) / 2.0
    s = (
        ranged.withColumn("cum_local", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .join(F.broadcast(offsets_df), "pid")
        .withColumn("cum_before", F.col("off_tot") + F.col("cum_local"))
        .agg(
            F.sum("cnt").alias("n"),
            F.sum(
                F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")
                - F.col("cnt")
            ).alias("tie_sum"),
            *[
                x
                for j in range(len(KW_GROUPS))
                for x in (
                    F.sum(F.col(f"g{j}")).alias(f"n{j}"),
                    F.sum(F.col(f"g{j}") * midrank).alias(f"r{j}"),
                )
            ],
        )
    )
    n_d = F.col("n").cast("double")
    ssq = None
    for j in range(len(KW_GROUPS)):
        term = F.col(f"r{j}") * F.col(f"r{j}") / F.col(f"n{j}")
        ssq = term if ssq is None else ssq + term
    h = 12.0 / (n_d * (F.col("n") + 1)) * ssq - 3.0 * (F.col("n") + 1)
    return s.select(
        F.col("n").alias("n_total"),
        F.round(h, 6).alias("h_stat"),
        F.round(
            h / (1.0 - F.col("tie_sum") / (n_d * F.col("n") * F.col("n") - F.col("n"))),
            6,
        ).alias("h_tie_adj"),
        F.round(h * (F.col("n") + 1) / (n_d * F.col("n") - 1.0), 6).alias(
            "epsilon_sq"
        ),
    )


# ---------------------------------------------------------------------------
# 1-D Wasserstein (earth mover's) distance between two samples
# ---------------------------------------------------------------------------

WS_GROUP_A = "purchase"
WS_GROUP_B = "click"

wasserstein_oracle = f"""
WITH vals AS (
  SELECT value AS v,
         CAST(sum(CASE WHEN event_type = '{WS_GROUP_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS a_cnt,
         CAST(sum(CASE WHEN event_type = '{WS_GROUP_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS b_cnt
  FROM events WHERE event_type IN ('{WS_GROUP_A}', '{WS_GROUP_B}')
  GROUP BY 1
), cdf AS (
  SELECT v,
         sum(a_cnt) OVER (ORDER BY v) AS cum_a,
         sum(b_cnt) OVER (ORDER BY v) AS cum_b,
         lead(v) OVER (ORDER BY v) AS v_next
  FROM vals
), tot AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
         CAST(sum(b_cnt) AS BIGINT) AS n_b
  FROM vals
)
SELECT n_a, n_b,
       round(sum(abs(cum_a * n_b - cum_b * n_a) * (v_next - v))
             / (CAST(n_a AS DOUBLE) * n_b), 6) AS w1_distance
FROM cdf, tot
WHERE v_next IS NOT NULL
GROUP BY n_a, n_b
"""


@register("wasserstein_1d_values", wasserstein_oracle)
def wasserstein_1d_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between the `value`
    distributions of two event types — W1 = ∫|F_A − F_B| dx over the
    pooled support. `mann_whitney_u` (same two samples) says WHETHER the
    distributions differ; this says BY HOW MUCH, in the value's own units
    (the metric drift monitors threshold on, cf. `drift_psi_event_types`
    which needs binning; W1 is bin-free).

    Distributed exact CDF integration WITHOUT a global sort: per-distinct-
    value counts (one combinable groupBy), then the collapsed table rides
    the `functions/ranking.py` range-partition kernel — inclusive
    cumulative counts = broadcast per-partition offsets + local window;
    the integration gap (v_next − v) at each partition's LAST row comes
    from the O(P) driver-collected per-pid minima broadcast back (no row
    crosses partitions). The integrand |cumA·n_b − cumB·n_a| is exact
    BIGINT at any scale; only the final nonnegative-term sum is float, so
    accumulation noise is ~1e-15 relative and round-6 is hash-stable."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(WS_GROUP_A, WS_GROUP_B))
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == WS_GROUP_A).cast("long").alias("is_a"),
            (F.col("event_type") == WS_GROUP_B).cast("long").alias("is_b"),
        )
    )
    vals = ev.groupBy("v").agg(
        F.sum("is_a").alias("a_cnt"), F.sum("is_b").alias("b_cnt")
    )
    n_parts = shuffle_partition_count(spark)
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals,
        ["v"],
        [("a", F.sum("a_cnt")), ("b", F.sum("b_cnt"))],
        n_parts,
    )
    # O(P) driver rows (ranged is pid-pinned by its checkpoint, so this
    # second tiny job reads the checkpointed partitions, not a re-sample):
    # each pid's successor value is the NEXT non-empty partition's minimum
    # (None for the last: its final gap term is zero)
    mins = sorted(
        ranged.groupBy("pid").agg(F.min("v").alias("vmin")).collect(),
        key=lambda r: r.pid,
    )
    next_min = {
        mins[i].pid: float(mins[i + 1]["vmin"]) for i in range(len(mins) - 1)
    }
    nm_df = local_df(
        spark,
        [(int(p), v) for p, v in next_min.items()] or [(int(-1), float(0.0))],
        "pid int, next_vmin double",
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lead_w = Window.partitionBy("pid").orderBy("v")
    n_a, n_b = int(totals["a"]), int(totals["b"])
    cdf = (
        ranged.withColumn("cum_a_loc", F.sum("a_cnt").over(w))
        .withColumn("cum_b_loc", F.sum("b_cnt").over(w))
        .withColumn("v_lead", F.lead("v").over(lead_w))
        .join(F.broadcast(offsets_df), "pid")
        .join(F.broadcast(nm_df), "pid", "left")
        .select(
            (F.col("off_a") + F.col("cum_a_loc")).alias("cum_a"),
            (F.col("off_b") + F.col("cum_b_loc")).alias("cum_b"),
            (F.coalesce(F.col("v_lead"), F.col("next_vmin")) - F.col("v")).alias(
                "gap"
            ),
        )
        .filter(F.col("gap").isNotNull())
    )
    return cdf.agg(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.round(
            F.sum(
                F.abs(F.col("cum_a") * n_b - F.col("cum_b") * n_a) * F.col("gap")
            )
            / (float(n_a) * n_b),
            6,
        ).alias("w1_distance"),
    )


# ---------------------------------------------------------------------------
# Two-sample Cramér–von Mises statistic (round 13): the L2 member
# ---------------------------------------------------------------------------

cvm_oracle = f"""
WITH vals AS (
  SELECT value AS v,
         CAST(sum(CASE WHEN event_type = '{WS_GROUP_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS a_cnt,
         CAST(sum(CASE WHEN event_type = '{WS_GROUP_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS b_cnt
  FROM events WHERE event_type IN ('{WS_GROUP_A}', '{WS_GROUP_B}')
  GROUP BY 1
), cdf AS (
  SELECT a_cnt + b_cnt AS w,
         sum(a_cnt) OVER (ORDER BY v) AS cum_a,
         sum(b_cnt) OVER (ORDER BY v) AS cum_b
  FROM vals
), tot AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
         CAST(sum(b_cnt) AS BIGINT) AS n_b
  FROM vals
), num AS (
  SELECT sum(CAST(w AS HUGEINT)
             * CAST(cum_a * n_b - cum_b * n_a AS HUGEINT)
             * CAST(cum_a * n_b - cum_b * n_a AS HUGEINT)) AS s
  FROM cdf, tot
)
SELECT t.n_a, t.n_b,
       round(CAST(m.s AS DOUBLE)
             / (CAST(t.n_a + t.n_b AS DOUBLE) * (t.n_a + t.n_b)
                * t.n_a * t.n_b), 6) AS t_stat,
       round(CAST(m.s AS DOUBLE)
             / (CAST(t.n_a + t.n_b AS DOUBLE) * (t.n_a + t.n_b)
                * t.n_a * t.n_b)
             - (t.n_a + t.n_b + 1.0) / (6.0 * (t.n_a + t.n_b)), 6)
         AS excess_over_null
FROM tot t, num m
"""


@register("cramer_von_mises", cvm_oracle)
def cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic between the same two
    event-type value distributions as `ks_two_sample_price` /
    `wasserstein_1d_values` — completing the two-sample trio: KS reads
    the SUP of |F_A − F_B| (one worst point), W1 its L1 integral (units
    of value), CvM its L2 energy T = n_a·n_b/N² · Σ(F_A−F_B)² over the
    pooled points — sensitive to broad mid-distribution shifts a single
    KS extremum misses, scale-free unlike W1. Ties handled exactly by
    evaluating at per-DISTINCT values weighted by pooled multiplicity.

    Shape: the wasserstein kernel minus the gap machinery — one
    combinable per-distinct-value groupBy, ranking-kernel inclusive
    cumulatives, and a single reduce. The summand w·(cumA·n_b −
    cumB·n_a)² overflows int64 at sf0.1 (cum·n ~ 1e10, squared 1e20),
    so it accumulates EXACTLY in Spark DECIMAL(38,0) / DuckDB HUGEINT
    (the bollinger variance-numerator discipline) and converts to
    double ONCE for the two output divisions."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(WS_GROUP_A, WS_GROUP_B))
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == WS_GROUP_A).cast("long").alias("is_a"),
            (F.col("event_type") == WS_GROUP_B).cast("long").alias("is_b"),
        )
    )
    vals = ev.groupBy("v").agg(
        F.sum("is_a").alias("a_cnt"), F.sum("is_b").alias("b_cnt")
    )
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals,
        ["v"],
        [("a", F.sum("a_cnt")), ("b", F.sum("b_cnt"))],
        shuffle_partition_count(spark),
    )
    n_a, n_b = int(totals["a"]), int(totals["b"])
    n = n_a + n_b
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # The cumulative counts are cast to decimal(38,0) BEFORE the ×n_b/×n_a
    # products so the linear term (cum·n ~ 3e9 rows per arm passes int64)
    # accumulates exactly, matching DuckDB's HUGEINT window-sum product —
    # not just the square (round-14 ADVICE fix).
    diff = (
        (F.col("off_a") + F.sum("a_cnt").over(w)).cast("decimal(38,0)") * n_b
        - (F.col("off_b") + F.sum("b_cnt").over(w)).cast("decimal(38,0)")
        * n_a
    )
    summand = (
        (F.col("a_cnt") + F.col("b_cnt")).cast("decimal(38,0)") * diff * diff
    )
    num = (
        ranged.join(F.broadcast(offsets_df), "pid")
        .select(summand.alias("s"))
        .agg(F.sum("s").alias("s"))
    )
    t_stat = F.col("s").cast("double") / (
        float(n) * n * n_a * n_b
    )
    return num.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(t_stat - (n + 1.0) / (6.0 * n), 6).alias("excess_over_null"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-based Levene) equality-of-spread test
# ---------------------------------------------------------------------------

brown_forsythe_oracle = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY 1
), z AS (
  SELECT e.event_type, abs(e.value - m.med) AS z
  FROM events e JOIN med m ON m.event_type = e.event_type
), g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         avg(z) AS mean_z, var_samp(z) AS var_z
  FROM z GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS k,
         sum(n * mean_z) / sum(n) AS grand_mean
  FROM g
), s AS (
  SELECT sum(g.n * (g.mean_z - t.grand_mean) * (g.mean_z - t.grand_mean))
           AS ssb,
         sum((g.n - 1) * g.var_z) AS ssw,
         any_value(t.k) AS k,
         any_value(t.n_total) AS n_total
  FROM g, tot t
)
SELECT k AS k_groups, n_total,
       round((ssb / (k - 1)) / (ssw / (n_total - k)), 6) AS f_stat
FROM s
"""


@register("brown_forsythe_spread", brown_forsythe_oracle)
def brown_forsythe_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (median-based Levene) of spread equality of
    `value` across event types — do the groups differ in VARIABILITY,
    not location? The robust pre-check behind `anova_f_oneway` (whose F
    assumes equal variances) and `welch_t_test` (which exists because
    they often aren't): one-way ANOVA on z = |x − median_group|, with
    the group median's outlier-resistance replacing classic Levene's
    mean. Both engines use the same interpolated-median definition
    (Spark percentile ≡ DuckDB median = percentile_cont), so z is
    identical before any aggregation.

    Shape: per-group medians are one combinable aggregate (Spark's
    percentile is a partial-aggregable sketch of the k-group values —
    here k=5 groups of bounded value domain), broadcast back as a k-row
    join; then the `anova_f_oneway` plan on z — one group-cardinality
    shuffle and a 1-row reduce."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("z").alias("mean_z"),
        F.var_samp("z").alias("var_z"),
    )
    tot = g.agg(
        F.sum("n").alias("n_total"),
        F.count("*").alias("k"),
        (F.sum(F.col("n") * F.col("mean_z")) / F.sum("n")).alias("grand_mean"),
    )
    s = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("n")
            * (F.col("mean_z") - F.col("grand_mean"))
            * (F.col("mean_z") - F.col("grand_mean"))
        ).alias("ssb"),
        F.sum((F.col("n") - 1) * F.col("var_z")).alias("ssw"),
        F.any_value("k").alias("k"),
        F.any_value("n_total").alias("n_total"),
    )
    return s.select(
        F.col("k").alias("k_groups"),
        "n_total",
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n_total") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Gumbel (EV-I) method-of-moments fit of daily extreme values
# ---------------------------------------------------------------------------

_EULER_GAMMA = 0.5772156649015329
_SQRT6_PI = 0.7796968012336093  # √6/π, embedded identically both engines
GUMBEL_RETURN_P = 0.99  # 1-in-100-days return level

gumbel_oracle = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, max(value) AS mx
  FROM events GROUP BY 1
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         avg(mx) AS mean_mx,
         stddev_samp(mx) AS sd_mx,
         max(mx) AS worst
  FROM daily
)
SELECT n_days,
       round(mean_mx, 6) AS mean_daily_max,
       round(sd_mx * {_SQRT6_PI!r}, 6) AS beta,
       round(mean_mx - {_EULER_GAMMA!r} * sd_mx * {_SQRT6_PI!r}, 6) AS mu,
       round((mean_mx - {_EULER_GAMMA!r} * sd_mx * {_SQRT6_PI!r})
             - sd_mx * {_SQRT6_PI!r} * ln(-ln({GUMBEL_RETURN_P!r})), 6)
         AS return_level_100d,
       round(1.0 - exp(-exp(-((worst
             - (mean_mx - {_EULER_GAMMA!r} * sd_mx * {_SQRT6_PI!r}))
             / (sd_mx * {_SQRT6_PI!r})))), 6) AS p_exceed_worst
FROM s
"""


@register("gumbel_fit_daily_max", gumbel_oracle)
def gumbel_fit_daily_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (extreme-value type I) fit of the DAILY MAXIMUM event value
    by method of moments — β̂ = s·√6/π, μ̂ = x̄ − γβ̂ (Euler-Mascheroni γ
    embedded as an identical literal on both engines) — plus the
    1-in-100-days return level μ − β·ln(−ln 0.99) and the fitted
    exceedance probability of the observed worst day. Block-maxima EVT
    is the capacity-planning question (`fulfillment_latency_percentiles`
    reads the bulk; this reads the TAIL the bulk never shows —
    cf. `hill_tail_index` for the power-law alternative).

    Shape: ONE combinable daily-max groupBy (the day-domain argument),
    then a 1-row moments reduce. Ratios/exp/ln of identical doubles →
    round-6 hash-stable."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.max("value").alias("mx")
    )
    s = daily.agg(
        F.count("*").alias("n_days"),
        F.avg("mx").alias("mean_mx"),
        F.stddev_samp("mx").alias("sd_mx"),
        F.max("mx").alias("worst"),
    )
    beta = F.col("sd_mx") * _SQRT6_PI
    mu = F.col("mean_mx") - _EULER_GAMMA * beta
    return s.select(
        "n_days",
        F.round("mean_mx", 6).alias("mean_daily_max"),
        F.round(beta, 6).alias("beta"),
        F.round(mu, 6).alias("mu"),
        F.round(
            mu - beta * F.log(-F.log(F.lit(GUMBEL_RETURN_P))), 6
        ).alias("return_level_100d"),
        F.round(
            1.0 - F.exp(-F.exp(-((F.col("worst") - mu) / beta))), 6
        ).alias("p_exceed_worst"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-brand two-proportion return-rate tests
# ---------------------------------------------------------------------------

BH_Q = 0.10  # target false-discovery rate

#: Abramowitz-Stegun 26.2.17 Φ approximation constants — embedded as the
#: SAME literals in both engines; |error| < 7.5e-8, far above round-8
_AS_T = 0.2316419
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_INV_SQRT_2PI = 0.3989422804014327


def _phi_tail_sql(z: str) -> str:
    """1 − Φ(|z|) as the A&S polynomial, Horner order fixed — identical
    arithmetic on both engines (`z` must be a nonnegative expression)."""
    b1, b2, b3, b4, b5 = _AS_B
    t = f"(1.0 / (1.0 + {_AS_T!r} * {z}))"
    horner = (
        f"((((({b5!r} * {t} + {b4!r}) * {t} + {b3!r}) * {t} + {b2!r})"
        f" * {t} + {b1!r}) * {t})"
    )
    return f"(exp(-({z}) * ({z}) / 2.0) * {_INV_SQRT_2PI!r} * {horner})"


def _bh_oracle() -> str:
    z = "abs(g.z)"
    p = f"(2.0 * {_phi_tail_sql(z)})"
    return f"""
WITH b AS (
  SELECT p.p_brand AS brand,
         CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS x1
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(n1) AS BIGINT) AS n, CAST(sum(x1) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS m
  FROM b
), g AS (
  SELECT b.brand, b.n1, b.x1, t.m,
         (CAST(b.x1 AS DOUBLE) / b.n1
          - CAST(t.x - b.x1 AS DOUBLE) / (t.n - b.n1))
         / sqrt((CAST(t.x AS DOUBLE) / t.n) * (1.0 - CAST(t.x AS DOUBLE) / t.n)
                * (1.0 / b.n1 + 1.0 / (t.n - b.n1))) AS z
  FROM b, tot t
), pv AS (
  SELECT brand, n1, x1, m, z, {p} AS p_value FROM g
), ranked AS (
  SELECT a.brand, a.n1, a.x1, a.m, a.z, a.p_value,
         (SELECT count(*) FROM pv x
          WHERE x.p_value < a.p_value
             OR (x.p_value = a.p_value AND x.brand <= a.brand)) AS r
  FROM pv a
), kk AS (
  SELECT coalesce(max(r), 0) AS k FROM ranked
  WHERE p_value <= r * {BH_Q!r} / m
)
SELECT r.brand, r.n1 AS n_items, r.x1 AS n_returned,
       round(r.z, 6) AS z_score,
       round(r.p_value, 8) AS p_value,
       CAST(r.r AS BIGINT) AS p_rank,
       round(r.r * {BH_Q!r} / r.m, 8) AS bh_threshold,
       (r.r <= k.k) AS rejected
FROM ranked r, kk k
"""


@register("bh_fdr_brand_returns", _bh_oracle())
def bh_fdr_brand_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the per-brand return-rate
    screen: each brand gets a two-proportion z test (brand vs rest-of-
    corpus return rate), p-values rank ascending, and the step-up rule
    rejects ranks ≤ max{i : p_i ≤ i·q/m} at q = 0.10 — the
    multiple-testing discipline `ab_test_proportions` needs the moment
    it runs per-segment (25 brands at α=.05 expects ~1 false alarm;
    BH bounds the EXPECTED FALSE-DISCOVERY share instead). Φ is the
    Abramowitz-Stegun 26.2.17 polynomial spelled with identical literals
    and Horner order on both engines — no engine's own erf is trusted.

    Shape: ONE combinable (brand) aggregate over the part join is the
    data-sized stage; z/p are per-row algebra on exact integer counts
    (bit-identical cross-engine up to libm exp's last ulp); the rank is
    a brand² (≤625-row) comparison join — never a window, never a sort —
    and the step-up cutoff is a 1-row reduce broadcast back."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n1"),
            F.sum((F.col("l_returnflag") == "R").cast("long")).alias("x1"),
        )
    )
    tot = b.agg(
        F.sum("n1").alias("n"), F.sum("x1").alias("x"), F.count("*").alias("m")
    )
    g = b.crossJoin(F.broadcast(tot))
    p_hat = F.col("x").cast("double") / F.col("n")
    z = (
        F.col("x1").cast("double") / F.col("n1")
        - (F.col("x") - F.col("x1")).cast("double") / (F.col("n") - F.col("n1"))
    ) / F.sqrt(
        p_hat * (1.0 - p_hat)
        * (1.0 / F.col("n1") + 1.0 / (F.col("n") - F.col("n1")))
    )
    az = F.abs(F.col("z"))
    t = 1.0 / (1.0 + _AS_T * az)
    b1, b2, b3, b4, b5 = _AS_B
    horner = ((((F.lit(b5) * t + b4) * t + b3) * t + b2) * t + b1) * t
    tail = F.exp(-az * az / 2.0) * _INV_SQRT_2PI * horner
    pv = g.select(
        "brand", "n1", "x1", "m", z.alias("z")
    ).withColumn("p_value", 2.0 * tail)
    a, x = pv.alias("a"), pv.alias("x")
    ranked = (
        a.join(
            x,
            (F.col("x.p_value") < F.col("a.p_value"))
            | (
                (F.col("x.p_value") == F.col("a.p_value"))
                & (F.col("x.brand") <= F.col("a.brand"))
            ),
        )
        .groupBy(
            F.col("a.brand").alias("brand"),
            F.col("a.n1").alias("n1"),
            F.col("a.x1").alias("x1"),
            F.col("a.m").alias("m"),
            F.col("a.z").alias("z"),
            F.col("a.p_value").alias("p_value"),
        )
        .agg(F.count("*").alias("r"))
    )
    kk = ranked.filter(
        F.col("p_value") <= F.col("r") * BH_Q / F.col("m")
    ).agg(F.coalesce(F.max("r"), F.lit(0)).alias("k"))
    return ranked.crossJoin(F.broadcast(kk)).select(
        "brand",
        F.col("n1").alias("n_items"),
        F.col("x1").alias("n_returned"),
        F.round("z", 6).alias("z_score"),
        F.round("p_value", 8).alias("p_value"),
        F.col("r").alias("p_rank"),
        F.round(F.col("r") * BH_Q / F.col("m"), 8).alias("bh_threshold"),
        (F.col("r") <= F.col("k")).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# SPRT — Wald's sequential probability ratio test on daily conversion
# ---------------------------------------------------------------------------

SPRT_P0 = 0.18  # H0 purchase share
SPRT_P1 = 0.22  # H1 purchase share
SPRT_ALPHA = 0.05
SPRT_BETA = 0.05
_SPRT_W1 = math.log(SPRT_P1 / SPRT_P0)  # per-conversion LLR weight
_SPRT_W0 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))  # per-miss weight
_SPRT_HI = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)  # accept H1 above
_SPRT_LO = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))  # accept H0 below

sprt_oracle = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events GROUP BY 1
), cum AS (
  SELECT day, n, x,
         sum(x * {_SPRT_W1!r} + (n - x) * {_SPRT_W0!r})
           OVER (ORDER BY day) AS llr
  FROM daily
)
SELECT day, n, x, round(llr, 6) AS llr,
       CASE WHEN llr >= {_SPRT_HI!r} THEN 'reject_h0'
            WHEN llr <= {_SPRT_LO!r} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum
"""


@register("sprt_ab_sequential", sprt_oracle)
def sprt_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT run day by day on the purchase share: cumulative
    log-likelihood ratio of H1 (p=0.22) against H0 (p=0.18) with ±ln
    boundaries at α=β=0.05 — the SEQUENTIAL experiment monitor that can
    stop early with controlled error, where `ab_test_proportions` is the
    fixed-horizon test a peeking analyst invalidates. Per day: the LLR
    and the decision the boundary implies at that day.

    Determinism: daily (n, x) are exact integers; the two LLR weights and
    both boundaries are Python-computed literals embedded identically in
    both engines; the cumulative sums identical doubles in identical day
    order. The data-sized stage is ONE combinable daily aggregate; the
    cumulative rides the day-DOMAIN window (calendar-bounded,
    plan-audit-allowlisted — the cusum_changepoint shape)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("x"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.withColumn(
        "llr",
        F.sum(
            F.col("x") * _SPRT_W1 + (F.col("n") - F.col("x")) * _SPRT_W0
        ).over(w),
    )
    return cum.select(
        "day",
        "n",
        "x",
        F.round("llr", 6).alias("llr"),
        F.when(F.col("llr") >= _SPRT_HI, F.lit("reject_h0"))
        .when(F.col("llr") <= _SPRT_LO, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (Fleming-Harrington survival)
# ---------------------------------------------------------------------------

nelson_aalen_oracle = f"""
WITH pu AS (
  SELECT user_id,
         epoch_ms(CAST(min(ts) AS TIMESTAMP)) AS first_ms,
         epoch_ms(CAST(min(CASE WHEN event_type = 'purchase'
                                 AND value > {KM_VALUE_THRESHOLD}
                                THEN ts END) AS TIMESTAMP)) AS hit_ms
  FROM events GROUP BY user_id
), horizon AS (
  SELECT max(epoch_ms(CAST(ts AS TIMESTAMP))) AS end_ms FROM events
), marked AS (
  SELECT CAST(floor((COALESCE(hit_ms, end_ms) - first_ms) / 86400000.0)
              AS BIGINT) AS t_days,
         CASE WHEN hit_ms IS NOT NULL THEN 1 ELSE 0 END AS converted
  FROM pu, horizon
), lt AS (
  SELECT t_days,
         CAST(sum(converted) AS BIGINT) AS d,
         CAST(count(*) - sum(converted) AS BIGINT) AS c
  FROM marked GROUP BY t_days
), tot AS (SELECT sum(d + c) AS n_users FROM lt),
risk AS (
  SELECT t_days, d, c,
         n_users - COALESCE(sum(d + c) OVER (ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at_risk
  FROM lt, tot
), haz AS (
  SELECT t_days, d, c, n_at_risk,
         sum(CAST(d AS DOUBLE) / n_at_risk)
           OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h,
         sum(CAST(d AS DOUBLE) / (CAST(n_at_risk AS DOUBLE) * n_at_risk))
           OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
  FROM risk
)
SELECT t_days, CAST(n_at_risk AS BIGINT) AS n_at_risk, d AS n_converted,
       round(h, 6) AS cum_hazard,
       round(sqrt(v), 6) AS hazard_se,
       round(exp(-h), 6) AS fh_survival
FROM haz WHERE d > 0
"""


@register("nelson_aalen_hazard", nelson_aalen_oracle)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard H(t) = Σ_{u≤t} d_u/n_u over the same
    time-to-conversion lifetable as `kaplan_meier_conversion`, with the
    Poisson-variance standard error √(Σ d/n²) and the Fleming-Harrington
    survival exp(−H) — the estimator preferred over KM in small risk sets
    (no product term ever hits zero while anyone is at risk) and the
    quantity hazard-RATE models are fit against. One estimator family,
    two readouts: KM answers "what fraction survives", this answers "how
    much hazard has accumulated".

    Scale shape: identical to KM — ONE combinable user groupBy, then the
    duration-DOMAIN lifetable (day-span bounded) carries the cumulative
    windows (plan-audit allowlisted, KM precedent). Hazard increments are
    positive ratios of exact integers summed in the same order both
    engines → round-6 hash-stable."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        epoch_ms(F.min("ts").cast("timestamp")).alias("first_ms"),
        epoch_ms(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > KM_VALUE_THRESHOLD),
                    F.col("ts"),
                )
            ).cast("timestamp")
        ).alias("hit_ms"),
    )
    horizon = ev.agg(epoch_ms(F.max("ts").cast("timestamp")).alias("end_ms"))
    marked = pu.crossJoin(F.broadcast(horizon)).select(
        F.floor(
            (F.coalesce(F.col("hit_ms"), F.col("end_ms")) - F.col("first_ms"))
            / 86400000.0
        )
        .cast("bigint")
        .alias("t_days"),
        F.col("hit_ms").isNotNull().cast("long").alias("converted"),
    )
    lt = marked.groupBy("t_days").agg(
        F.sum("converted").alias("d"),
        (F.count("*") - F.sum("converted")).alias("c"),
    )
    tot = lt.agg(F.sum(F.col("d") + F.col("c")).alias("n_users"))
    w_before = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    risk = lt.crossJoin(F.broadcast(tot)).withColumn(
        "n_at_risk",
        F.col("n_users")
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_before), F.lit(0)),
    )
    haz = risk.withColumn(
        "h", F.sum(F.col("d").cast("double") / F.col("n_at_risk")).over(w_run)
    ).withColumn(
        "v",
        F.sum(
            F.col("d").cast("double")
            / (F.col("n_at_risk").cast("double") * F.col("n_at_risk"))
        ).over(w_run),
    )
    return haz.filter(F.col("d") > 0).select(
        "t_days",
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("n_converted"),
        F.round("h", 6).alias("cum_hazard"),
        F.round(F.sqrt("v"), 6).alias("hazard_se"),
        F.round(F.exp(-F.col("h")), 6).alias("fh_survival"),
    )


# ---------------------------------------------------------------------------
# Randomized response: plausibly-deniable proportion estimation
# ---------------------------------------------------------------------------

RR_Q = 0.25  # probability a respondent answers with the coin, not the truth


def _rr_oracle() -> str:
    from ..functions.hashing import sql_hash64

    key1 = "concat('rr1:', CAST(c_custkey AS VARCHAR))"
    key2 = "concat('rr2:', CAST(c_custkey AS VARCHAR))"
    use_coin = f"({sql_hash64(key1)} % 4 = 0)"
    coin = f"({sql_hash64(key2)} % 2 = 0)"
    return f"""
WITH resp AS (
  SELECT c_custkey,
         (c_mktsegment = 'BUILDING') AS truth,
         CASE WHEN {use_coin} THEN {coin}
              ELSE (c_mktsegment = 'BUILDING') END AS answer
  FROM customer
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         CAST(sum(CASE WHEN answer THEN 1 ELSE 0 END) AS BIGINT) AS n_yes
  FROM resp
)
SELECT n, n_true, n_yes,
       round(CAST(n_true AS DOUBLE) / n, 6) AS true_p,
       round(CAST(n_yes AS DOUBLE) / n, 6) AS observed_p,
       round((CAST(n_yes AS DOUBLE) / n - {RR_Q!r} / 2.0)
             / (1.0 - {RR_Q!r}), 6) AS estimated_p,
       round(abs((CAST(n_yes AS DOUBLE) / n - {RR_Q!r} / 2.0)
             / (1.0 - {RR_Q!r}) - CAST(n_true AS DOUBLE) / n), 6)
         AS abs_err
FROM s
"""


@register("randomized_response_estimate", _rr_oracle())
def randomized_response_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner-style randomized response over a sensitive bit (market
    segment = BUILDING): with probability q each respondent answers a
    coin flip instead of the truth, giving per-row plausible deniability;
    the population share is still recoverable as
    p̂ = (observed − q/2)/(1 − q). The LOCAL-privacy counterpart of the
    aggregate-side governance ops (`k_anonymity_profile` suppresses
    quasi-identifiers; this perturbs at COLLECTION time). Both the coin
    and the use-coin choice are salted portable hashes — the mechanism is
    deterministic, replayable, and engine-identical, so the estimator and
    its realized error are exact-checkable (a production rollout swaps
    the hash for true randomness; the ESTIMATOR algebra is what's under
    test).

    Shape: one scan, one 1-row combinable reduce — integer counts, one
    final ratio."""
    from ..functions.hashing import portable_hash64

    cust = load_table(spark, sf_dir, "customer")
    truth = F.col("c_mktsegment") == "BUILDING"
    use_coin = (
        F.pmod(
            portable_hash64(
                F.concat(F.lit("rr1:"), F.col("c_custkey").cast("string"))
            ),
            F.lit(4),
        )
        == 0
    )
    coin = (
        F.pmod(
            portable_hash64(
                F.concat(F.lit("rr2:"), F.col("c_custkey").cast("string"))
            ),
            F.lit(2),
        )
        == 0
    )
    resp = cust.select(
        truth.alias("truth"),
        F.when(use_coin, coin).otherwise(truth).alias("answer"),
    )
    s = resp.agg(
        F.count("*").alias("n"),
        F.sum(F.col("truth").cast("long")).alias("n_true"),
        F.sum(F.col("answer").cast("long")).alias("n_yes"),
    )
    obs = F.col("n_yes").cast("double") / F.col("n")
    est = (obs - RR_Q / 2.0) / (1.0 - RR_Q)
    return s.select(
        "n",
        "n_true",
        "n_yes",
        F.round(F.col("n_true").cast("double") / F.col("n"), 6).alias("true_p"),
        F.round(obs, 6).alias("observed_p"),
        F.round(est, 6).alias("estimated_p"),
        F.round(
            F.abs(est - F.col("n_true").cast("double") / F.col("n")), 6
        ).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# Two-group log-rank test (round 13): the survival-curve TEST
# ---------------------------------------------------------------------------

logrank_oracle = f"""
WITH pu AS (
  SELECT user_id, user_id % 2 AS arm,
         epoch_ms(CAST(min(ts) AS TIMESTAMP)) AS first_ms,
         epoch_ms(CAST(min(CASE WHEN event_type = 'purchase'
                                 AND value > {KM_VALUE_THRESHOLD}
                                THEN ts END) AS TIMESTAMP)) AS hit_ms
  FROM events GROUP BY user_id
), horizon AS (
  SELECT max(epoch_ms(CAST(ts AS TIMESTAMP))) AS end_ms FROM events
), marked AS (
  SELECT arm,
         CAST(floor((COALESCE(hit_ms, end_ms) - first_ms) / 86400000.0)
              AS BIGINT) AS t_days,
         CASE WHEN hit_ms IS NOT NULL THEN 1 ELSE 0 END AS converted
  FROM pu, horizon
), lt AS (
  SELECT t_days,
         CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
           AS d1,
         CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
           AS d0,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m0
  FROM marked GROUP BY t_days
), tot AS (
  SELECT CAST(sum(m1) AS BIGINT) AS nu1, CAST(sum(m0) AS BIGINT) AS nu0
  FROM lt
), risk AS (
  SELECT t_days, d1, d0,
         nu1 - COALESCE(sum(m1) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
         nu0 - COALESCE(sum(m0) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0
  FROM lt, tot
), terms AS (
  SELECT d1 + d0 AS d, n1 + n0 AS n, d1, n1, n0,
         CAST(floor((d1 - ((d1 + d0) * CAST(n1 AS DOUBLE)) / (n1 + n0))
                    * 1000000 + 0.5) AS BIGINT) AS oe_micro,
         CAST(floor((((d1 + d0) * CAST(n1 AS DOUBLE)) / (n1 + n0))
                    * (CAST(n0 AS DOUBLE) / (n1 + n0))
                    * (CAST(n1 + n0 - d1 - d0 AS DOUBLE)
                       / (n1 + n0 - 1))
                    * 1000000 + 0.5) AS BIGINT) AS v_micro
  FROM risk
  WHERE d1 + d0 > 0 AND n1 + n0 > 1
)
SELECT t.nu1 AS n_arm1, t.nu0 AS n_arm0,
       CAST(sum(x.d1) AS BIGINT) AS events_arm1,
       round(sum(x.oe_micro) / 1000000.0, 6) AS o_minus_e,
       round((sum(x.oe_micro) / 1000000.0)
             / sqrt(sum(x.v_micro) / 1000000.0), 6) AS z_score,
       round((sum(x.oe_micro) / 1000000.0)
             * (sum(x.oe_micro) / 1000000.0)
             / (sum(x.v_micro) / 1000000.0), 6) AS chi2
FROM terms x, tot t
GROUP BY t.nu1, t.nu0
"""


@register("logrank_test_conversion", logrank_oracle)
def logrank_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group (Mantel-Cox) log-rank test over time-to-conversion: do
    the even/odd user arms share one survival curve? The TEST completing
    the survival family — `kaplan_meier_conversion` draws the curve,
    `nelson_aalen_hazard` its hazard, this says whether two curves
    DIFFER, using censored users correctly (a naive conversion-rate
    z-test throws censoring away). At each event day: O₁ = d₁, E₁ =
    d·n₁/n under the hypergeometric null, V its variance; Z =
    Σ(O−E)/√ΣV.

    Determinism discipline: per-day O−E and V are rationals of bounded
    integers computed as IEEE doubles in an EXPLICIT shared operand
    order (each factor parenthesized identically in both engines —
    products like d·n₁·n₀·(n−d) overflow int64 at scale, so the
    factored-double form is the exact-enough spelling), then quantized
    to micro-units (floor(x·1e6 + 0.5)) BEFORE summation — the sums are
    exact integers, so no accumulation order on either engine can move
    the round-6 outputs.

    Shape: one combinable user groupBy (the data-sized stage), a
    duration-DOMAIN lifetable with BOTH arms as columns (no second
    shuffle), two allowlisted day-domain windows, one reduce."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        epoch_ms(F.min("ts").cast("timestamp")).alias("first_ms"),
        epoch_ms(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > KM_VALUE_THRESHOLD),
                    F.col("ts"),
                )
            ).cast("timestamp")
        ).alias("hit_ms"),
    ).select(
        F.pmod(F.col("user_id"), F.lit(2)).alias("arm"),
        "first_ms",
        "hit_ms",
    )
    horizon = ev.agg(epoch_ms(F.max("ts").cast("timestamp")).alias("end_ms"))
    marked = pu.crossJoin(F.broadcast(horizon)).select(
        "arm",
        F.floor(
            (F.coalesce(F.col("hit_ms"), F.col("end_ms")) - F.col("first_ms"))
            / 86400000.0
        )
        .cast("bigint")
        .alias("t_days"),
        F.col("hit_ms").isNotNull().cast("long").alias("converted"),
    )
    one = F.lit(1)
    lt = marked.groupBy("t_days").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias("d0"),
        F.sum(F.when(F.col("arm") == 1, one).otherwise(0)).alias("m1"),
        F.sum(F.when(F.col("arm") == 0, one).otherwise(0)).alias("m0"),
    )
    tot = lt.agg(F.sum("m1").alias("nu1"), F.sum("m0").alias("nu0"))
    w_before = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = lt.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "d1",
        "d0",
        (F.col("nu1") - F.coalesce(F.sum("m1").over(w_before), F.lit(0))).alias("n1"),
        (F.col("nu0") - F.coalesce(F.sum("m0").over(w_before), F.lit(0))).alias("n0"),
        "nu1",
        "nu0",
    )
    d = F.col("d1") + F.col("d0")
    n = F.col("n1") + F.col("n0")
    e1 = (d * F.col("n1").cast("double")) / n
    v = (
        e1
        * (F.col("n0").cast("double") / n)
        * ((n - d).cast("double") / (n - 1))
    )
    terms = risk.filter((d > 0) & (n > 1)).select(
        "d1",
        "nu1",
        "nu0",
        F.floor((F.col("d1") - e1) * 1000000 + 0.5).cast("bigint").alias(
            "oe_micro"
        ),
        F.floor(v * 1000000 + 0.5).cast("bigint").alias("v_micro"),
    )
    oe = F.sum("oe_micro") / 1000000.0
    vv = F.sum("v_micro") / 1000000.0
    return terms.groupBy("nu1", "nu0").agg(
        F.sum("d1").alias("events_arm1"),
        F.round(oe, 6).alias("o_minus_e"),
        F.round(oe / F.sqrt(vv), 6).alias("z_score"),
        F.round(oe * oe / vv, 6).alias("chi2"),
    ).select(
        F.col("nu1").alias("n_arm1"),
        F.col("nu0").alias("n_arm0"),
        "events_arm1",
        "o_minus_e",
        "z_score",
        "chi2",
    )


# ---------------------------------------------------------------------------
# Wilson score intervals for the two conversion arms (round 13)
# ---------------------------------------------------------------------------

#: z for a 95% two-sided interval — one shared literal, no engine ever
#: evaluates an inverse normal
WILSON_Z = 1.959964

wilson_oracle = f"""
WITH pu AS (
  SELECT user_id % 2 AS arm,
         max(CASE WHEN event_type = 'purchase'
                   AND value > {KM_VALUE_THRESHOLD} THEN 1 ELSE 0 END)
           AS conv
  FROM events GROUP BY user_id
), s AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS x
  FROM pu GROUP BY arm
)
SELECT CAST(arm AS INT) AS arm, n, x AS n_converted,
       round(CAST(x AS DOUBLE) / n, 6) AS rate,
       round(((CAST(x AS DOUBLE) / n) + {WILSON_Z} * {WILSON_Z} / (2.0 * n))
             / (1.0 + {WILSON_Z} * {WILSON_Z} / n)
             - ({WILSON_Z} / (1.0 + {WILSON_Z} * {WILSON_Z} / n))
               * sqrt((CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n)
                      / n
                      + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)), 6)
         AS wilson_lo,
       round(((CAST(x AS DOUBLE) / n) + {WILSON_Z} * {WILSON_Z} / (2.0 * n))
             / (1.0 + {WILSON_Z} * {WILSON_Z} / n)
             + ({WILSON_Z} / (1.0 + {WILSON_Z} * {WILSON_Z} / n))
               * sqrt((CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n)
                      / n
                      + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)), 6)
         AS wilson_hi
FROM s
"""


@register("wilson_ci_conversion", wilson_oracle)
def wilson_ci_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% interval for each arm's conversion rate — the
    CI that stays inside [0, 1] and behaves at small x where the Wald
    interval (p̂ ± z√(p̂q̂/n)) collapses; the per-arm uncertainty readout
    beside `ab_test_proportions` (the difference test) and
    `logrank_test_conversion` (the duration test). z is a shared
    literal; every term derives from the exact integers (n, x) through
    identically-spelled IEEE arithmetic, so round-6 cannot straddle.

    Shape: one combinable user groupBy, a 2-row arm aggregate."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > KM_VALUE_THRESHOLD)
            ).cast("int")
        ).alias("conv")
    ).select(F.pmod(F.col("user_id"), F.lit(2)).alias("arm"), "conv")
    s = pu.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("conv").alias("x")
    )
    z = WILSON_Z
    p = F.col("x").cast("double") / F.col("n")
    n = F.col("n")
    center = (p + z * z / (2.0 * n)) / (1.0 + z * z / n)
    half = (z / (1.0 + z * z / n)) * F.sqrt(
        p * (1.0 - p) / n + z * z / (4.0 * n * n)
    )
    return s.select(
        F.col("arm").cast("int").alias("arm"),
        "n",
        F.col("x").alias("n_converted"),
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test (round 13): ordered-category proportions
# ---------------------------------------------------------------------------

cochran_armitage_oracle = """
WITH o AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), g AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n_s, CAST(sum(y) AS BIGINT) AS r_s
  FROM o GROUP BY s
), m AS (
  SELECT CAST(sum(n_s) AS HUGEINT) AS n, CAST(sum(r_s) AS HUGEINT) AS r,
         CAST(sum(n_s * s) AS HUGEINT) AS ns1,
         CAST(sum(n_s * s * s) AS HUGEINT) AS ns2,
         CAST(sum(r_s * s) AS HUGEINT) AS rs1
  FROM g
)
SELECT CAST(n AS BIGINT) AS n_orders,
       round(CAST(n * rs1 - r * ns1 AS DOUBLE)
             / sqrt(CAST(r * (n - r) AS DOUBLE)
                    * CAST(n * ns2 - ns1 * ns1 AS DOUBLE) / n), 6)
         AS z_trend
FROM m
"""


@register("cochran_armitage_trend", cochran_armitage_oracle)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a LINEAR TREND in the fulfilled-order
    proportion across the five ORDERED priority classes — the ordered
    alternative `chi_square_type_dow` can't see (χ² treats categories as
    nominal and dilutes a monotone drift over k−1 df; CA concentrates it
    in one). z = (n·Σrₛs − r·Σnₛs) / √(r(n−r)(n·Σnₛs² − (Σnₛs)²)/n).

    Every moment is an exact integer (priority scores 1–5, counts);
    products like n·Σnₛs² reach ~10¹⁸·25 at a 100 TB year, so they
    accumulate in HUGEINT/DECIMAL(38,0) and convert to double once —
    the granger discipline. One combinable 5-group aggregate; nothing
    else moves."""
    o = load_table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("s"),
        (F.col("o_orderstatus") == "F").cast("long").alias("y"),
    )
    g = o.groupBy("s").agg(
        F.count("*").alias("n_s"), F.sum("y").alias("r_s")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = g.agg(
        F.sum(dec(F.col("n_s"))).alias("n"),
        F.sum(dec(F.col("r_s"))).alias("r"),
        F.sum(dec(F.col("n_s")) * F.col("s")).alias("ns1"),
        F.sum(dec(F.col("n_s")) * F.col("s") * F.col("s")).alias("ns2"),
        F.sum(dec(F.col("r_s")) * F.col("s")).alias("rs1"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(
            (F.col("n") * F.col("rs1") - F.col("r") * F.col("ns1")).cast(
                "double"
            )
            / F.sqrt(
                (F.col("r") * (F.col("n") - F.col("r"))).cast("double")
                * (
                    F.col("n") * F.col("ns2") - F.col("ns1") * F.col("ns1")
                ).cast("double")
                / F.col("n").cast("double")
            ),
            6,
        ).alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# Friedman test over day blocks (round 13): blocked nonparametric ANOVA
# ---------------------------------------------------------------------------

friedman_oracle = """
WITH days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
), types AS (
  SELECT DISTINCT event_type FROM events
), counts AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT d.day, t.event_type, COALESCE(c.y, 0) AS y
  FROM days d CROSS JOIN types t
  LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
), ranked AS (
  -- midrank ×2 (exact integer): 2·rank + ties − 1
  SELECT day, event_type,
         2 * rank() OVER (PARTITION BY day ORDER BY y)
         + count(*) OVER (PARTITION BY day, y) - 1 AS r2
  FROM grid
), rsums AS (
  SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2_sum FROM ranked
  GROUP BY event_type
), dims AS (
  SELECT CAST((SELECT count(*) FROM days) AS BIGINT) AS n,
         CAST((SELECT count(*) FROM types) AS BIGINT) AS k
)
SELECT d.n AS n_blocks, CAST(d.k AS INT) AS k_treatments,
       round(3.0 * sum(CAST(r.r2_sum AS DOUBLE) * r.r2_sum)
             / (d.n * d.k * (d.k + 1)) - 3.0 * d.n * (d.k + 1), 6)
         AS friedman_chi2,
       round((3.0 * sum(CAST(r.r2_sum AS DOUBLE) * r.r2_sum)
              / (d.n * d.k * (d.k + 1)) - 3.0 * d.n * (d.k + 1))
             / (d.n * (d.k - 1)), 6) AS kendalls_w
FROM rsums r, dims d
GROUP BY d.n, d.k
"""


@register("friedman_test_types", friedman_oracle)
def friedman_test_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the event TYPES keep the same daily-volume
    ordering across day blocks? The BLOCKED nonparametric ANOVA —
    `kruskal_wallis_h` pools all observations (a busy day inflates
    every type together and drowns the signal); Friedman ranks WITHIN
    each day, so only the type ordering matters. Kendall's W =
    χ²/(n(k−1)) is the agreement readout (1 = same ranking every day).
    Missing (day, type) cells materialize as ZERO counts through the
    day×type grid — silently dropping them would shrink some blocks'
    k and break the rank algebra.

    Determinism: midranks ×2 are exact integers (2·rank + ties − 1);
    rank sums are exact; two divisions at the end. All windows are
    day-partitioned; the grid is calendar×enum-bounded at any scale
    (the only data-sized stage is the combinable (day, type) count)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("y"))
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    types = ev.select("event_type").distinct()
    grid = (
        days.crossJoin(types)
        .join(counts, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("y", F.lit(0)).alias("y"))
    )
    wr = Window.partitionBy("day").orderBy("y")
    wt = Window.partitionBy("day", "y")
    ranked = grid.select(
        "event_type",
        (2 * F.rank().over(wr) + F.count("*").over(wt) - 1).alias("r2"),
    )
    rsums = ranked.groupBy("event_type").agg(F.sum("r2").alias("r2_sum"))
    dims = grid.agg(
        F.count_distinct("day").alias("n"),
        F.count_distinct("event_type").alias("k"),
    )
    j = rsums.crossJoin(F.broadcast(dims))
    chi2 = 3.0 * F.sum(
        F.col("r2_sum").cast("double") * F.col("r2_sum")
    ) / (F.col("n") * F.col("k") * (F.col("k") + 1)) - 3.0 * F.col("n") * (
        F.col("k") + 1
    )
    return j.groupBy("n", "k").agg(
        F.round(chi2, 6).alias("friedman_chi2"),
        F.round(chi2 / (F.col("n") * (F.col("k") - 1)), 6).alias(
            "kendalls_w"
        ),
    ).select(
        F.col("n").alias("n_blocks"),
        F.col("k").cast("int").alias("k_treatments"),
        "friedman_chi2",
        "kendalls_w",
    )


# ---------------------------------------------------------------------------
# Round-14 two-sample additions: energy distance (exact rank-formula
# pairsums), Anderson-Darling (variance-weighted L2), Mood's median test
# ---------------------------------------------------------------------------

energy_distance_oracle = f"""
WITH ev AS (
  SELECT CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vi,
         CASE WHEN event_type = '{WS_GROUP_A}' THEN 1 ELSE 0 END AS is_a,
         CASE WHEN event_type = '{WS_GROUP_B}' THEN 1 ELSE 0 END AS is_b
  FROM events WHERE event_type IN ('{WS_GROUP_A}', '{WS_GROUP_B}')
), vals AS (
  SELECT vi, CAST(sum(is_a) AS BIGINT) AS a_cnt,
         CAST(sum(is_b) AS BIGINT) AS b_cnt
  FROM ev GROUP BY vi
), cum AS (
  SELECT vi, a_cnt, b_cnt,
         sum(a_cnt) OVER w - a_cnt AS bel_a,
         sum(b_cnt) OVER w - b_cnt AS bel_b,
         sum(a_cnt * vi) OVER w - a_cnt * vi AS bels_a,
         sum(b_cnt * vi) OVER w - b_cnt * vi AS bels_b
  FROM vals
  WINDOW w AS (ORDER BY vi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), terms AS (
  SELECT
    sum(CAST(a_cnt AS HUGEINT) * (CAST(bel_a AS HUGEINT) * vi - bels_a))
      AS sa,
    sum(CAST(b_cnt AS HUGEINT) * (CAST(bel_b AS HUGEINT) * vi - bels_b))
      AS sb,
    sum(CAST(a_cnt + b_cnt AS HUGEINT)
        * (CAST(bel_a + bel_b AS HUGEINT) * vi - (bels_a + bels_b))) AS sp,
    CAST(sum(a_cnt) AS BIGINT) AS n_a, CAST(sum(b_cnt) AS BIGINT) AS n_b
  FROM cum
)
SELECT n_a, n_b,
  floor(CAST(sp - sa - sb AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
        / 1000000.0 * 1000000 + 0.5) / 1000000 AS e_cross,
  floor(2.0 * CAST(sa AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_a)
        / 1000000.0 * 1000000 + 0.5) / 1000000 AS e_within_a,
  floor(2.0 * CAST(sb AS DOUBLE) / (CAST(n_b AS DOUBLE) * n_b)
        / 1000000.0 * 1000000 + 0.5) / 1000000 AS e_within_b,
  floor((2.0 * CAST(sp - sa - sb AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
         - 2.0 * CAST(sa AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_a)
         - 2.0 * CAST(sb AS DOUBLE) / (CAST(n_b AS DOUBLE) * n_b))
        / 1000000.0 * 1000000 + 0.5) / 1000000 AS energy_distance
FROM terms
"""


@register("energy_distance_values", energy_distance_oracle)
def energy_distance_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample ENERGY DISTANCE (Székely-Rizzo) between the value
    distributions of two event types: D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'| —
    zero iff the distributions are equal, metric in the value's own
    units; completes the two-sample family as the CHARACTERISTIC-function
    member beside KS (sup), W1 (L1 of CDF gap), CvM (L2 of CDF gap).

    Scale/exactness design: NO pair stage anywhere — for a sorted
    multiset, Σ_{{i<j}}(x_j − x_i) = Σ_v cnt_v·(below_cnt·v − below_sum),
    so all three pairwise expectation sums come from ONE per-distinct
    groupBy + the `functions/ranking.py` inclusive-cumulative kernel
    (cross pairsum = pooled − within_A − within_B). Values are quantized
    ONCE to integer micro-units; every cumulative, product, and sum runs
    exact (int64 cumulatives — bounded by 10⁶·Σ|value|, safe through
    ~9·10¹² of value mass per arm — then DECIMAL(38,0)/HUGEINT products);
    the single int→double conversion and fixed-order division chain are
    bit-identical on both engines (the CvM discipline), outputs rounded
    by the explicit floor spelling."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(WS_GROUP_A, WS_GROUP_B))
        .select(
            F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("vi"),
            (F.col("event_type") == WS_GROUP_A).cast("long").alias("is_a"),
            (F.col("event_type") == WS_GROUP_B).cast("long").alias("is_b"),
        )
    )
    vals = ev.groupBy("vi").agg(
        F.sum("is_a").alias("a_cnt"), F.sum("is_b").alias("b_cnt")
    )
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals.withColumn("av", F.col("a_cnt") * F.col("vi")).withColumn(
            "bv", F.col("b_cnt") * F.col("vi")
        ),
        ["vi"],
        [
            ("a", F.sum("a_cnt")),
            ("b", F.sum("b_cnt")),
            ("av", F.sum("av")),
            ("bv", F.sum("bv")),
        ],
        shuffle_partition_count(spark),
    )
    n_a, n_b = int(totals["a"]), int(totals["b"])
    w = (
        Window.partitionBy("pid")
        .orderBy("vi")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    bel_a = F.col("off_a") + F.sum("a_cnt").over(w) - F.col("a_cnt")
    bel_b = F.col("off_b") + F.sum("b_cnt").over(w) - F.col("b_cnt")
    bels_a = F.col("off_av") + F.sum("av").over(w) - F.col("av")
    bels_b = F.col("off_bv") + F.sum("bv").over(w) - F.col("bv")
    t = (
        ranged.join(F.broadcast(offsets_df), "pid")
        .select(
            (dec(F.col("a_cnt")) * (dec(bel_a) * F.col("vi") - dec(bels_a)))
            .alias("ta"),
            (dec(F.col("b_cnt")) * (dec(bel_b) * F.col("vi") - dec(bels_b)))
            .alias("tb"),
            (
                dec(F.col("a_cnt") + F.col("b_cnt"))
                * (
                    dec(bel_a + bel_b) * F.col("vi")
                    - dec(bels_a + bels_b)
                )
            ).alias("tp"),
        )
        .agg(
            F.sum("ta").alias("sa"),
            F.sum("tb").alias("sb"),
            F.sum("tp").alias("sp"),
        )
    )
    r6 = lambda c: F.floor(c * 1000000 + 0.5) / 1000000  # noqa: E731
    cross = (F.col("sp") - F.col("sa") - F.col("sb")).cast("double")
    # every double expression is spelled in the ORACLE'S exact operation
    # order (ulp-identical given the same exact integer inputs)
    t1 = 2.0 * cross / (F.lit(float(n_a)) * n_b)
    t2 = 2.0 * F.col("sa").cast("double") / (F.lit(float(n_a)) * n_a)
    t3 = 2.0 * F.col("sb").cast("double") / (F.lit(float(n_b)) * n_b)
    return t.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        r6(cross / (F.lit(float(n_a)) * n_b) / 1000000.0).alias("e_cross"),
        r6(t2 / 1000000.0).alias("e_within_a"),
        r6(t3 / 1000000.0).alias("e_within_b"),
        r6((t1 - t2 - t3) / 1000000.0).alias("energy_distance"),
    )


anderson_darling_oracle = f"""
WITH ev AS (
  SELECT value AS v,
         CASE WHEN event_type = '{WS_GROUP_A}' THEN 1 ELSE 0 END AS is_a,
         CASE WHEN event_type = '{WS_GROUP_B}' THEN 1 ELSE 0 END AS is_b
  FROM events WHERE event_type IN ('{WS_GROUP_A}', '{WS_GROUP_B}')
), vals AS (
  SELECT v, CAST(sum(is_a) AS BIGINT) AS a_cnt,
         CAST(sum(is_b) AS BIGINT) AS b_cnt
  FROM ev GROUP BY v
), tot AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
         CAST(sum(b_cnt) AS BIGINT) AS n_b
  FROM vals
), cum AS (
  SELECT v, a_cnt, b_cnt,
         sum(a_cnt) OVER w AS ma, sum(b_cnt) OVER w AS mb
  FROM vals
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), terms AS (
  SELECT CAST(floor(
           (  (a_cnt + b_cnt)
              * CAST(CAST((n_a + n_b) AS HUGEINT) * ma
                     - CAST(n_a AS HUGEINT) * (ma + mb) AS DOUBLE)
              * CAST(CAST((n_a + n_b) AS HUGEINT) * ma
                     - CAST(n_a AS HUGEINT) * (ma + mb) AS DOUBLE)
              / n_a
            + (a_cnt + b_cnt)
              * CAST(CAST((n_a + n_b) AS HUGEINT) * mb
                     - CAST(n_b AS HUGEINT) * (ma + mb) AS DOUBLE)
              * CAST(CAST((n_a + n_b) AS HUGEINT) * mb
                     - CAST(n_b AS HUGEINT) * (ma + mb) AS DOUBLE)
              / n_b
           ) / (n_a + n_b)
             / CAST(CAST(ma + mb AS HUGEINT)
                    * ((n_a + n_b) - (ma + mb)) AS DOUBLE)
           * 1000000000 + 0.5) AS HUGEINT) AS ti
  FROM cum CROSS JOIN tot
  WHERE ma + mb < n_a + n_b
)
SELECT (SELECT n_a FROM tot) AS n_a, (SELECT n_b FROM tot) AS n_b,
       floor(CAST(sum(ti) AS DOUBLE) / 1000000000 * 1000000 + 0.5)
         / 1000000 AS a2_stat
FROM terms
"""


@register("anderson_darling_two_sample", anderson_darling_oracle)
def anderson_darling_two_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample ANDERSON-DARLING A² (Scholz-Stephens k=2, discrete
    version, ties exact): the VARIANCE-weighted L2 member of the
    two-sample family — the 1/(H(1−H)) weight makes it the tail-
    sensitive complement of CvM's uniform L2 (a drifted p99 moves A²
    long before it moves T). Evaluated at pooled distinct values
    (all but the last), A² = Σ_j l_j/N · Σ_arms (N·M_ij − n_i·B_j)² /
    (n_i · B_j(N−B_j)).

    Exactness: every count product (N·M − n·B, B·(N−B)) is exact
    HUGEINT/DECIMAL; each per-value term's two divisions run in double
    FROM those exact ints in a fixed spelling (correctly-rounded and
    therefore bit-identical on both engines), and terms are quantized to
    1e-9 BEFORE the sum so no accumulation order exists — the gains-chart
    lesson applied prophylactically. One per-distinct groupBy + the
    ranking kernel; no sort, no pair stage."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(WS_GROUP_A, WS_GROUP_B))
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == WS_GROUP_A).cast("long").alias("is_a"),
            (F.col("event_type") == WS_GROUP_B).cast("long").alias("is_b"),
        )
    )
    vals = ev.groupBy("v").agg(
        F.sum("is_a").alias("a_cnt"), F.sum("is_b").alias("b_cnt")
    )
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals,
        ["v"],
        [("a", F.sum("a_cnt")), ("b", F.sum("b_cnt"))],
        shuffle_partition_count(spark),
    )
    n_a, n_b = int(totals["a"]), int(totals["b"])
    n = n_a + n_b
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ma = F.col("off_a") + F.sum("a_cnt").over(w)
    mb = F.col("off_b") + F.sum("b_cnt").over(w)
    l = F.col("a_cnt") + F.col("b_cnt")  # noqa: E741
    da = (dec(ma) * n - dec(ma + mb) * n_a).cast("double")
    db = (dec(mb) * n - dec(ma + mb) * n_b).cast("double")
    denom = (dec(ma + mb) * (F.lit(n) - (ma + mb))).cast("double")
    term = (
        (l * da * da / F.lit(float(n_a)) + l * db * db / F.lit(float(n_b)))
        / F.lit(float(n))
        / denom
    )
    ti = F.floor(term * 1000000000 + 0.5).cast("decimal(38,0)")
    # window expressions can't live in a filter — project them first
    agg = (
        ranged.join(F.broadcast(offsets_df), "pid")
        .select(ti.alias("ti"), (ma + mb).alias("bt"))
        .filter(F.col("bt") < n)
        .agg(F.sum("ti").alias("s"))
    )
    return agg.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        (
            F.floor(
                F.col("s").cast("double") / 1000000000 * 1000000 + 0.5
            )
            / 1000000
        ).alias("a2_stat"),
    )


moods_median_oracle = f"""
WITH ev AS (
  SELECT value AS v,
         CASE WHEN event_type = '{WS_GROUP_A}' THEN 1 ELSE 0 END AS is_a,
         CASE WHEN event_type = '{WS_GROUP_B}' THEN 1 ELSE 0 END AS is_b
  FROM events WHERE event_type IN ('{WS_GROUP_A}', '{WS_GROUP_B}')
), vals AS (
  SELECT v, CAST(sum(is_a) AS BIGINT) AS a_cnt,
         CAST(sum(is_b) AS BIGINT) AS b_cnt
  FROM ev GROUP BY v
), tot AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
         CAST(sum(b_cnt) AS BIGINT) AS n_b
  FROM vals
), cum AS (
  SELECT v, a_cnt, b_cnt,
         sum(a_cnt + b_cnt) OVER
           (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS bp
  FROM vals
), med AS (
  SELECT min(v) AS median FROM cum CROSS JOIN tot
  WHERE bp * 2 >= n_a + n_b
), counts AS (
  SELECT CAST(sum(CASE WHEN v > median THEN a_cnt ELSE 0 END) AS BIGINT)
           AS a_above,
         CAST(sum(CASE WHEN v > median THEN b_cnt ELSE 0 END) AS BIGINT)
           AS b_above
  FROM vals CROSS JOIN med
)
SELECT n_a, n_b, median, a_above, b_above,
       floor(
         CAST((n_a + n_b) AS DOUBLE)
         * CAST(CAST(a_above AS HUGEINT) * (n_b - b_above)
                - CAST(b_above AS HUGEINT) * (n_a - a_above) AS DOUBLE)
         * CAST(CAST(a_above AS HUGEINT) * (n_b - b_above)
                - CAST(b_above AS HUGEINT) * (n_a - a_above) AS DOUBLE)
         / CAST(CAST(a_above + b_above AS HUGEINT)
                * ((n_a + n_b) - (a_above + b_above)) AS DOUBLE)
         / (CAST(n_a AS DOUBLE) * n_b)
         * 1000000 + 0.5) / 1000000 AS chi2
FROM counts CROSS JOIN tot CROSS JOIN med
"""


@register("moods_median_test", moods_median_oracle)
def moods_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOOD'S MEDIAN TEST between two event-type value samples: the
    robust location test that survives what rank tests don't — it only
    reads which side of the POOLED median each observation falls on, so
    a 1%-contaminated heavy tail that inflates Welch's t and still
    perturbs Mann-Whitney's rank sums leaves it untouched. 2×2 χ² (no
    continuity correction) of arm × {{above, ≤}} pooled median.

    Shape: pooled median is the distributed counting order-statistic
    (per-distinct counts + the ranking-kernel cumulative — here the
    kernel degenerates to one window over the collapsed table because
    only ONE threshold row survives), above/≤ counts are one conditional
    aggregate against the 1-row broadcast median, and the χ² is closed-
    form from four exact ints — the classic determinant spelling
    N·(ad−bc)²/(r₁r₂c₁c₂) in exact HUGEINT/DECIMAL, one double
    conversion, fixed division order. Tie policy: observations EQUAL to
    the median count as ≤ (documented; both engines identical)."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(WS_GROUP_A, WS_GROUP_B))
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == WS_GROUP_A).cast("long").alias("is_a"),
            (F.col("event_type") == WS_GROUP_B).cast("long").alias("is_b"),
        )
    )
    vals = ev.groupBy("v").agg(
        F.sum("is_a").alias("a_cnt"), F.sum("is_b").alias("b_cnt")
    )
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals,
        ["v"],
        [
            ("p", F.sum(F.col("a_cnt") + F.col("b_cnt"))),
            ("a", F.sum("a_cnt")),
            ("b", F.sum("b_cnt")),
        ],
        shuffle_partition_count(spark),
    )
    n_a, n_b = int(totals["a"]), int(totals["b"])
    n = n_a + n_b
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bp = F.col("off_p") + F.sum(F.col("a_cnt") + F.col("b_cnt")).over(w)
    med = (
        ranged.join(F.broadcast(offsets_df), "pid")
        .select("v", bp.alias("bp"))
        .filter(F.col("bp") * 2 >= n)
        .agg(F.min("v").alias("median"))
    )
    counts = (
        vals.crossJoin(F.broadcast(med))
        .agg(
            F.sum(
                F.when(F.col("v") > F.col("median"), F.col("a_cnt"))
                .otherwise(F.lit(0))
            ).alias("a_above"),
            F.sum(
                F.when(F.col("v") > F.col("median"), F.col("b_cnt"))
                .otherwise(F.lit(0))
            ).alias("b_above"),
            F.first("median").alias("median"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ad_bc = (
        dec(F.col("a_above")) * (F.lit(n_b) - F.col("b_above"))
        - dec(F.col("b_above")) * (F.lit(n_a) - F.col("a_above"))
    ).cast("double")
    denom = (
        dec(F.col("a_above") + F.col("b_above"))
        * (F.lit(n) - (F.col("a_above") + F.col("b_above")))
    ).cast("double")
    chi2 = (
        F.lit(float(n)) * ad_bc * ad_bc / denom
        / (F.lit(float(n_a)) * n_b)
    )
    return counts.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        "median",
        F.col("a_above").cast("long").alias("a_above"),
        F.col("b_above").cast("long").alias("b_above"),
        (F.floor(chi2 * 1000000 + 0.5) / 1000000).alias("chi2"),
    )


kuiper_oracle = f"""
WITH ev AS (
  SELECT value AS v,
         CASE WHEN event_type = '{WS_GROUP_A}' THEN 1 ELSE 0 END AS is_a,
         CASE WHEN event_type = '{WS_GROUP_B}' THEN 1 ELSE 0 END AS is_b
  FROM events WHERE event_type IN ('{WS_GROUP_A}', '{WS_GROUP_B}')
), vals AS (
  SELECT v, CAST(sum(is_a) AS BIGINT) AS a_cnt,
         CAST(sum(is_b) AS BIGINT) AS b_cnt
  FROM ev GROUP BY v
), tot AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
         CAST(sum(b_cnt) AS BIGINT) AS n_b
  FROM vals
), cum AS (
  SELECT sum(a_cnt) OVER w AS ma, sum(b_cnt) OVER w AS mb
  FROM vals
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), d AS (
  SELECT max(CAST(ma AS HUGEINT) * n_b - CAST(mb AS HUGEINT) * n_a)
           AS d_plus_i,
         max(CAST(mb AS HUGEINT) * n_a - CAST(ma AS HUGEINT) * n_b)
           AS d_minus_i,
         n_a, n_b
  FROM cum CROSS JOIN tot
  GROUP BY n_a, n_b
)
SELECT n_a, n_b,
       floor(CAST(greatest(d_plus_i, 0) AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * n_b) * 1000000 + 0.5) / 1000000
         AS d_plus,
       floor(CAST(greatest(d_minus_i, 0) AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * n_b) * 1000000 + 0.5) / 1000000
         AS d_minus,
       floor(CAST(greatest(d_plus_i, 0) + greatest(d_minus_i, 0) AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * n_b) * 1000000 + 0.5) / 1000000
         AS kuiper_v
FROM d
"""


@register("kuiper_test_values", kuiper_oracle)
def kuiper_test_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KUIPER statistic V = D⁺ + D⁻ (max one-sided CDF gaps,
    summed): the rotation-invariant cousin of KS — equally sensitive at
    the distribution's center AND tails/wrap point, the standard choice
    for cyclic domains (time-of-day, phase) where KS's single sup misses
    a shift that moves mass symmetrically. Both one-sided gaps read off
    the SAME ranking-kernel cumulatives as KS; D⁺/D⁻ stay exact integers
    (cumA·n_b − cumB·n_a in HUGEINT/DECIMAL, clamped at 0) until the one
    double division each."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(WS_GROUP_A, WS_GROUP_B))
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == WS_GROUP_A).cast("long").alias("is_a"),
            (F.col("event_type") == WS_GROUP_B).cast("long").alias("is_b"),
        )
    )
    vals = ev.groupBy("v").agg(
        F.sum("is_a").alias("a_cnt"), F.sum("is_b").alias("b_cnt")
    )
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals,
        ["v"],
        [("a", F.sum("a_cnt")), ("b", F.sum("b_cnt"))],
        shuffle_partition_count(spark),
    )
    n_a, n_b = int(totals["a"]), int(totals["b"])
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ma = F.col("off_a") + F.sum("a_cnt").over(w)
    mb = F.col("off_b") + F.sum("b_cnt").over(w)
    d = (
        ranged.join(F.broadcast(offsets_df), "pid")
        .select(
            (dec(ma) * n_b - dec(mb) * n_a).alias("dp"),
            (dec(mb) * n_a - dec(ma) * n_b).alias("dm"),
        )
        .agg(F.max("dp").alias("d_plus_i"), F.max("dm").alias("d_minus_i"))
    )
    nn = F.lit(float(n_a)) * n_b
    r6 = lambda c: F.floor(c * 1000000 + 0.5) / 1000000  # noqa: E731
    zero = F.lit(0).cast("decimal(38,0)")
    dp = F.greatest(F.col("d_plus_i"), zero)
    dm = F.greatest(F.col("d_minus_i"), zero)
    return d.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        r6(dp.cast("double") / nn).alias("d_plus"),
        r6(dm.cast("double") / nn).alias("d_minus"),
        r6((dp + dm).cast("double") / nn).alias("kuiper_v"),
    )


cliffs_delta_oracle = f"""
WITH ev AS (
  SELECT value AS v,
         CASE WHEN event_type = '{WS_GROUP_A}' THEN 1 ELSE 0 END AS is_a,
         CASE WHEN event_type = '{WS_GROUP_B}' THEN 1 ELSE 0 END AS is_b
  FROM events WHERE event_type IN ('{WS_GROUP_A}', '{WS_GROUP_B}')
), vals AS (
  SELECT v, CAST(sum(is_a) AS BIGINT) AS a_cnt,
         CAST(sum(is_b) AS BIGINT) AS b_cnt
  FROM ev GROUP BY v
), cum AS (
  SELECT a_cnt, b_cnt,
         sum(b_cnt) OVER w - b_cnt AS b_below,
         sum(a_cnt) OVER w - a_cnt AS a_below
  FROM vals
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
         CAST(sum(b_cnt) AS BIGINT) AS n_b,
         sum(CAST(a_cnt AS HUGEINT) * b_below) AS gt,
         sum(CAST(b_cnt AS HUGEINT) * a_below) AS lt,
         sum(CAST(a_cnt AS HUGEINT) * b_cnt) AS ties
  FROM cum
)
SELECT n_a, n_b,
       CAST(gt AS BIGINT) AS n_greater, CAST(lt AS BIGINT) AS n_less,
       CAST(ties AS BIGINT) AS n_ties,
       floor(CAST(gt - lt AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
             * 1000000 + 0.5) / 1000000 AS cliffs_delta
FROM s
"""


@register("cliffs_delta_values", cliffs_delta_oracle)
def cliffs_delta_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIFF'S DELTA δ = (#{{a>b}} − #{{a<b}})/(n_a·n_b): the ORDINAL
    effect size completing the pair with `cohens_d_arms` — d assumes
    metric scale and finite variance; δ only needs order, caps at ±1,
    and is what Mann-Whitney's p-value should be reported WITH (at
    corpus scale everything is significant; δ says by how much the
    distributions actually separate). Both dominance counts come from
    the energy-distance cross-pair identity on the ranking-kernel
    cumulatives — #{{a>b}} = Σ_v a_cnt·(B below v) — so the whole
    statistic is exact integers until one double division; ties are
    counted (and published) exactly."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(WS_GROUP_A, WS_GROUP_B))
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == WS_GROUP_A).cast("long").alias("is_a"),
            (F.col("event_type") == WS_GROUP_B).cast("long").alias("is_b"),
        )
    )
    vals = ev.groupBy("v").agg(
        F.sum("is_a").alias("a_cnt"), F.sum("is_b").alias("b_cnt")
    )
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals,
        ["v"],
        [("a", F.sum("a_cnt")), ("b", F.sum("b_cnt"))],
        shuffle_partition_count(spark),
    )
    n_a, n_b = int(totals["a"]), int(totals["b"])
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    b_below = F.col("off_b") + F.sum("b_cnt").over(w) - F.col("b_cnt")
    a_below = F.col("off_a") + F.sum("a_cnt").over(w) - F.col("a_cnt")
    s = (
        ranged.join(F.broadcast(offsets_df), "pid")
        .select(
            (dec(F.col("a_cnt")) * dec(b_below)).alias("gt"),
            (dec(F.col("b_cnt")) * dec(a_below)).alias("lt"),
            (dec(F.col("a_cnt")) * F.col("b_cnt")).alias("ties"),
        )
        .agg(
            F.sum("gt").alias("gt"),
            F.sum("lt").alias("lt"),
            F.sum("ties").alias("ties"),
        )
    )
    return s.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.col("gt").cast("long").alias("n_greater"),
        F.col("lt").cast("long").alias("n_less"),
        F.col("ties").cast("long").alias("n_ties"),
        (
            F.floor(
                (F.col("gt") - F.col("lt")).cast("double")
                / (F.lit(float(n_a)) * n_b)
                * 1000000
                + 0.5
            )
            / 1000000
        ).alias("cliffs_delta"),
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank — PAIRED two-sample test over daily revenue (round-15)
# ---------------------------------------------------------------------------

_WSR_A = "('1-URGENT', '2-HIGH')"

wilcoxon_oracle = f"""
WITH daily AS (
  SELECT CAST(floor(epoch_ms(CAST(o_orderdate AS TIMESTAMP)) / 86400000.0)
              AS BIGINT) AS d,
         sum(CASE WHEN o_orderpriority IN {_WSR_A}
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS a_c,
         sum(CASE WHEN o_orderpriority IN {_WSR_A} THEN 0
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END) AS b_c
  FROM orders GROUP BY d
),
diffs AS (
  SELECT d, a_c - b_c AS dd FROM daily WHERE a_c <> b_c
),
grp AS (
  SELECT abs(dd) AS ad, count(*) AS cnt,
         sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS pos
  FROM diffs GROUP BY abs(dd)
),
ranked AS (
  SELECT ad, cnt, pos,
         coalesce(sum(cnt) OVER (ORDER BY ad
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM grp
)
SELECT CAST(sum(cnt) AS BIGINT) AS n_pairs,
       round(sum(pos * (cum_before + (cnt + 1) / 2.0)), 1) AS w_plus,
       round(sum((cnt - pos) * (cum_before + (cnt + 1) / 2.0)), 1) AS w_minus,
       round((sum(pos * (cum_before + (cnt + 1) / 2.0))
              - sum(cnt) * (sum(cnt) + 1) / 4.0)
             / nullif(sqrt(sum(cnt) * (sum(cnt) + 1.0)
                           * (2.0 * sum(cnt) + 1) / 24.0
                           - sum(CAST(cnt AS DOUBLE) * cnt * cnt - cnt)
                             / 48.0), 0), 6) AS z_wilcoxon
FROM ranked
"""


@register("wilcoxon_signed_rank_daily", wilcoxon_oracle)
def wilcoxon_signed_rank_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test — the PAIRED member the two-sample
    family still lacked (Mann-Whitney/KS/CvM/AD/energy all compare
    independent samples; here each DAY pairs urgent+high-priority
    revenue against the rest, and the test asks whether the paired
    difference is symmetric about zero — the matched-design question a
    pre/post or A/B-on-the-same-unit readout needs).

    Classical recipe, exactly: zero differences drop, |d| gets average
    ranks (ties share one rank), W+ sums the ranks of positive d, and
    the tie-corrected normal approximation z = (W+ − n(n+1)/4) /
    sqrt(n(n+1)(2n+1)/24 − Σ(t³−t)/48).

    Exactness: differences are exact integer cents; tie-group counts are
    integers; every average rank is a multiple of 0.5 far below 2⁵², so
    W+ / W− are bit-identical cross-engine (the mann_whitney_u
    discipline), and z is a few IEEE ops on those exact sums.

    Shape: ONE combinable day groupBy is the data-sized stage; ranking
    collapses to the |d|-DISTINCT-VALUE relation (≤ day count) and its
    single cumulative window — calendar-bounded at any scale, the
    runs_test_daily allowlist class (plan_audit: 1)."""
    od = load_table(spark, sf_dir, "orders")
    is_a = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = (
        od.select(
            F.floor(epoch_ms(F.col("o_orderdate").cast("timestamp")) / 86400000)
            .cast("bigint")
            .alias("d"),
            F.when(is_a, cents).otherwise(F.lit(0)).alias("a"),
            F.when(is_a, F.lit(0)).otherwise(cents).alias("b"),
        )
        .groupBy("d")
        .agg(F.sum("a").alias("a_c"), F.sum("b").alias("b_c"))
    )
    grp = (
        daily.filter(F.col("a_c") != F.col("b_c"))
        .select((F.col("a_c") - F.col("b_c")).alias("dd"))
        .groupBy(F.abs("dd").alias("ad"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum((F.col("dd") > 0).cast("long")).alias("pos"),
        )
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grp.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    avg_rank = F.col("cum_before") + (F.col("cnt") + 1) / 2.0
    n = F.sum("cnt")
    w_plus = F.sum(F.col("pos") * avg_rank)
    w_minus = F.sum((F.col("cnt") - F.col("pos")) * avg_rank)
    tie = F.sum(
        F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")
        - F.col("cnt")
    )
    var = n * (n + 1.0) * (2.0 * n + 1) / 24.0 - tie / 48.0
    return ranked.agg(
        n.cast("bigint").alias("n_pairs"),
        F.round(w_plus, 1).alias("w_plus"),
        F.round(w_minus, 1).alias("w_minus"),
        F.round(
            (w_plus - n * (n + 1) / 4.0)
            / F.nullif(F.sqrt(var), F.lit(0.0)),
            6,
        ).alias("z_wilcoxon"),
    )


# ---------------------------------------------------------------------------
# Partial correlation — dependence with a confounder held fixed (round-15)
# ---------------------------------------------------------------------------

_PC_R = (
    "(CAST(n AS DOUBLE) * s{a}{b} - CAST(s{a} AS DOUBLE) * s{b}) "
    "/ nullif(sqrt((CAST(n AS DOUBLE) * s{a}{a} - CAST(s{a} AS DOUBLE) * s{a})"
    " * (CAST(n AS DOUBLE) * s{b}{b} - CAST(s{b} AS DOUBLE) * s{b})), 0)"
)

partial_corr_oracle = f"""
WITH m AS (
  SELECT count(*) AS n,
         sum(CAST(l_quantity AS HUGEINT)) AS sx,
         sum(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sy,
         sum(CAST(round(l_discount * 100) AS HUGEINT)) AS sz,
         sum(CAST(l_quantity AS HUGEINT) * l_quantity) AS sxx,
         sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS syy,
         sum(CAST(round(l_discount * 100) AS HUGEINT)
             * CAST(round(l_discount * 100) AS HUGEINT)) AS szz,
         sum(CAST(l_quantity AS HUGEINT)
             * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sxy,
         sum(CAST(l_quantity AS HUGEINT)
             * CAST(round(l_discount * 100) AS HUGEINT)) AS sxz,
         sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             * CAST(round(l_discount * 100) AS HUGEINT)) AS syz
  FROM lineitem
),
r AS (
  SELECT n,
         {_PC_R.format(a='x', b='y')} AS rxy,
         {_PC_R.format(a='x', b='z')} AS rxz,
         {_PC_R.format(a='y', b='z')} AS ryz
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round(rxy, 6) AS r_qty_price,
       round(rxz, 6) AS r_qty_disc,
       round(ryz, 6) AS r_price_disc,
       round((rxy - rxz * ryz)
             / nullif(sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 0), 6)
         AS partial_r_qty_price
FROM r
"""


@register("partial_correlation", partial_corr_oracle)
def partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation r(qty, price | discount) over
    lineitem — "does quantity still co-move with extended price once the
    discount level is held fixed?", the confounder-controlled readout
    plain `stat_aggregates` correlation can't give: r_xy·z =
    (r_xy − r_xz·r_yz) / sqrt((1−r_xz²)(1−r_yz²)).

    Exactness (the round-11 variance discipline, generalized to the full
    3×3 moment matrix): every sum and cross-product accumulates as EXACT
    integers — quantity integral, price in cents, discount in
    centi-units — in decimal(38,0)/HUGEINT; each correlation numerator
    n·S_ab − S_a·S_b is an exact integer difference (no catastrophic
    cancellation at any n), converted to double ONCE for the sqrt ratio.

    Shape: one combinable full-scan aggregate, zero joins, zero windows —
    the cheapest possible plan for the operator at any scale."""
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("z"),
    )
    m = li.agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("z"))).alias("sz"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
        F.sum(dec(F.col("z") * F.col("z"))).alias("szz"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("z"))).alias("sxz"),
        F.sum(dec(F.col("y")) * dec(F.col("z"))).alias("syz"),
    )

    def r(a: str, b: str):
        num = (
            dec(F.col("n")) * F.col(f"s{a}{b}")
            - F.col(f"s{a}") * F.col(f"s{b}")
        ).cast("double")
        va = (
            dec(F.col("n")) * F.col(f"s{a}{a}") - F.col(f"s{a}") * F.col(f"s{a}")
        ).cast("double")
        vb = (
            dec(F.col("n")) * F.col(f"s{b}{b}") - F.col(f"s{b}") * F.col(f"s{b}")
        ).cast("double")
        return num / F.nullif(F.sqrt(va * vb), F.lit(0.0))

    rxy, rxz, ryz = r("x", "y"), r("x", "z"), r("y", "z")
    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(rxy, 6).alias("r_qty_price"),
        F.round(rxz, 6).alias("r_qty_disc"),
        F.round(ryz, 6).alias("r_price_disc"),
        F.round(
            (rxy - rxz * ryz)
            / F.nullif(
                F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), F.lit(0.0)
            ),
            6,
        ).alias("partial_r_qty_price"),
    )


# ---------------------------------------------------------------------------
# Ansari-Bradley scale test (round-15)
# ---------------------------------------------------------------------------

ansari_oracle = f"""
WITH ev AS (
  SELECT value, CAST(event_type = '{MW_GROUP_A}' AS BIGINT) AS is_a
  FROM events WHERE event_type IN ('{MW_GROUP_A}', '{MW_GROUP_B}')
),
vals AS (
  SELECT value, count(*) AS cnt, sum(is_a) AS a_cnt FROM ev GROUP BY value
),
tot AS (SELECT sum(cnt) AS nn, (sum(cnt) + 1) // 2 AS h FROM vals),
ranked AS (
  SELECT cnt, a_cnt, nn, h,
         coalesce(sum(cnt) OVER (ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM vals, tot
),
scored AS (
  SELECT cnt, a_cnt, nn,
         (CASE WHEN cb + cnt <= h THEN (cb + cnt) * (cb + cnt + 1) // 2
               ELSE h * (h + 1) // 2
                    + (2 * nn + 1 - h - (cb + cnt)) * (cb + cnt - h) // 2
          END
          - CASE WHEN cb <= h THEN cb * (cb + 1) // 2
                 ELSE h * (h + 1) // 2 + (2 * nn + 1 - h - cb) * (cb - h) // 2
            END) AS ss
  FROM ranked
),
agg AS (
  SELECT max(nn) AS nn,
         sum(a_cnt) AS n_a,
         sum(cnt - a_cnt) AS n_b,
         sum(ss) AS sum_a,
         sum((2 * CAST(a_cnt AS HUGEINT) * ss * 1000000 + cnt)
             // (2 * cnt)) AS ab_micro,
         sum((2 * CAST(ss AS HUGEINT) * ss * 1000000 + cnt)
             // (2 * cnt)) AS a2_micro
  FROM scored
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       round(ab_micro / 1000000.0, 6) AS ab_stat,
       round((ab_micro / 1000000.0
              - CAST(n_a AS DOUBLE) * sum_a / nn)
             / nullif(sqrt(CAST(n_a AS DOUBLE) * n_b
                           * (nn * (a2_micro / 1000000.0)
                              - CAST(sum_a AS DOUBLE) * sum_a)
                           / (CAST(nn AS DOUBLE) * nn * (nn - 1))), 0), 6)
         AS z_ab
FROM agg
"""


@register("ansari_bradley_scale", ansari_oracle)
def ansari_bradley_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley test — do the purchase and click `value` samples
    differ in SCALE (dispersion about a common center)? The two-sample
    family tests location (MWU/Mood's) and whole-distribution shape
    (KS/CvM/AD/Kuiper/energy); A-B is the missing rank test aimed
    squarely at spread: scores a_i = min(i, N+1−i) peak at the center
    and fall toward both extremes, so a sample concentrated in the
    middle scores HIGH (smaller scale) — with midrank scores under ties
    and the tie-exact normal approximation
    z = (AB − n_a·ā) / sqrt(n_a·n_b·(N·ā² − Ā²)/(N²(N−1))).

    Distributed ranking: the mann_whitney_u kernel verbatim — collapse
    to per-distinct-value counts, range-partition, O(P) offsets — then
    each tie group's score SUM comes from the closed form of
    f(x) = Σ_{{i≤x}} min(i, N+1−i) (two triangle pieces split at
    h = ⌈N/2⌉): f(hi) − f(lo−1), all exact integers. Midrank score
    means are rationals with per-group denominators, so group terms are
    quantized to exact round-half-up MICRO-units via integral division
    ((2·a·s·10⁶ + c) DIV 2c — the anderson_darling quantize-before-sum
    discipline) and summed as exact integers; the z formula then runs
    on exact sums in identical IEEE doubles."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(MW_GROUP_A, MW_GROUP_B))
        .select(
            "value",
            (F.col("event_type") == MW_GROUP_A).cast("long").alias("is_a"),
        )
    )
    vals = ev.groupBy("value").agg(
        F.sum("is_a").alias("a_cnt"), F.count("*").alias("cnt")
    )
    n_parts = shuffle_partition_count(spark)
    ranged, _, offsets_df, totals = range_partition_offsets(
        vals, ["value"], [("tot", F.sum("cnt"))], n_parts
    )
    nn = int(totals["tot"])
    h = (nn + 1) // 2
    w = (
        Window.partitionBy("pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        ranged.withColumn("cum_local", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .join(F.broadcast(offsets_df), "pid")
        .select(
            "a_cnt",
            "cnt",
            (F.col("off_tot") + F.col("cum_local")).alias("cb"),
        )
    )

    # closed-form f(x) = sum_{i<=x} min(i, N+1-i), two triangle pieces.
    # Literals spelled CAST(.. AS BIGINT) BEFORE the products: at sf≈1
    # h ≈ 2·10⁵ and h·(h+1) overflows the INT32 the bare literal parses
    # as (ANSI abort — caught by the close_round sf1 gate); DuckDB's h is
    # already HUGEINT via sum(), so only the Spark spelling needed the
    # promotion.
    def tri(xcol):
        lowpart = F.expr(
            f"CAST((CAST(({xcol}) AS BIGINT) * (({xcol}) + 1)) DIV 2 "
            "AS BIGINT)"
        )
        highpart = F.expr(
            f"CAST(CAST({h} AS BIGINT) * ({h} + 1) DIV 2 "
            f"+ (2 * CAST({nn} AS BIGINT) + 1 - {h} - ({xcol})) "
            f"* (({xcol}) - {h}) DIV 2 AS BIGINT)"
        )
        return F.when(F.expr(f"({xcol}) <= {h}"), lowpart).otherwise(highpart)

    scored = ranked.select(
        "a_cnt",
        "cnt",
        (tri("cb + cnt") - tri("cb")).alias("ss"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = scored.agg(
        F.sum("a_cnt").alias("n_a"),
        F.sum(F.col("cnt") - F.col("a_cnt")).alias("n_b"),
        F.sum("ss").alias("sum_a"),
        F.sum(
            F.expr(
                "CAST((2 * CAST(a_cnt AS DECIMAL(38,0)) * ss * 1000000 + cnt)"
                " DIV (2 * cnt) AS DECIMAL(38,0))"
            )
        ).alias("ab_micro"),
        F.sum(
            F.expr(
                "CAST((2 * CAST(ss AS DECIMAL(38,0)) * ss * 1000000 + cnt)"
                " DIV (2 * cnt) AS DECIMAL(38,0))"
            )
        ).alias("a2_micro"),
    )
    ab = F.col("ab_micro").cast("double") / 1000000.0
    a2 = F.col("a2_micro").cast("double") / 1000000.0
    n_a_d = F.col("n_a").cast("double")
    n_b_d = F.col("n_b").cast("double")
    e_ab = n_a_d * F.col("sum_a") / nn
    var = (
        n_a_d
        * n_b_d
        * (nn * a2 - F.col("sum_a").cast("double") * F.col("sum_a"))
        / (float(nn) * nn * (nn - 1))
    )
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(ab, 6).alias("ab_stat"),
        F.round((ab - e_ab) / F.nullif(F.sqrt(var), F.lit(0.0)), 6).alias(
            "z_ab"
        ),
    )

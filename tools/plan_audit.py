"""Physical-plan audit over every registered query.

Prints one row per `queries()` entry: shuffle exchange count, single-partition
exchanges, join strategies, scan count, whether filters were pushed into the
parquet scan, and any cartesian products — the scale-readiness signals at a
glance. Writes the result as a markdown table (PLANS.md when --write).

ENFORCED invariant (exit 1 on violation): no query may contain an
UNPARTITIONED window (Window over Exchange SinglePartition — the whole
relation funneled through one task) except the allowlisted, documented
bounded cases below. A new unpartitioned window is exactly the kind of
scale bug that passes every small-sf correctness check, so the audit fails
loudly instead of noting it.

Usage:
    python tools/plan_audit.py [sf_dir] [--write]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

SF_DIR = next((a for a in sys.argv[1:] if not a.startswith("-")), "/root/testdata/sf0.01")
WRITE = "--write" in sys.argv

# Every allowlisted unpartitioned window sits over a BOUNDED relation.
# Round-8 shrink: recommend_rooms / recommend_rmse (global max) and
# share_of_parent (grand-total share) were re-spelled as 1-row/dimension
# aggregates broadcast-joined back — no unpartitioned Window exists in
# those plans anymore. The two survivors are genuinely order-dependent:
ALLOWED_UNPARTITIONED_WINDOWS = {
    # the deliberately-kept small-relation oracle form; its scale path is
    # quartiles_distributed (0 single-part exchanges)
    "ntile_quartiles": 1,
    # lag(revenue) = previous PRESENT month: a month-1 self-join would
    # silently change semantics on gapped months, so the exact-lag window
    # stays — its input is the monthly aggregate (month-count-bounded,
    # ~80 rows/decade); the event-sized aggregate below it is fully
    # parallel
    "mom_revenue_growth": 1,
    # KM recursion (at-risk running sum + survival running product) over
    # the duration-DOMAIN table — bounded by the corpus day span, never
    # data-sized (counting_median domain-count strategy)
    "kaplan_meier_conversion": 2,
    # same duration-DOMAIN lifetable as kaplan_meier (risk-set cumsum +
    # hazard cumsum)
    "nelson_aalen_hazard": 2,
    # largest-remainder ranking over the source-cardinality table
    "token_budget_apportion": 1,
    # order-statistic cut over the BOOT_REPS-row replica-mean table
    "poisson_bootstrap_ci": 1,
    # centered 7-day trend window over the day-DOMAIN table (corpus-span
    # bounded)
    "seasonal_decompose_daily": 1,
    # CUSUM running sum over the day-DOMAIN table
    "cusum_changepoint": 1,
    # mid-rank windows (rank by revenue, rank by order count) over the
    # day-DOMAIN table — calendar-bounded, never data-sized; the
    # data-sized stage is the combinable daily groupBy below them
    "spearman_daily_corr": 2,
    # 3-day SAX word lead()s over the day-DOMAIN symbol table (the
    # data-sized stage is the combinable daily groupBy below it)
    "sax_daily_motifs": 1,
    # above/below-median lag() over the day-DOMAIN sequence (the
    # cusum_changepoint shape — calendar-bounded, never data-sized)
    "runs_test_daily": 1,
    # 7-observed-day rolling sum/count/sum-of-squares frame over the
    # day-DOMAIN series (the seasonal_decompose shape)
    "bollinger_daily_revenue": 1,
    # lag() diff + 14-observed-day rolling gain/loss sums over the same
    # day-DOMAIN series (the bollinger shape; data-sized stage is the
    # combinable daily groupBy)
    "rsi_daily_revenue": 1,
    # round-14: the day-index row_number over the daily aggregate feeds
    # the dyadic block lattice — calendar-bounded input (the
    # seasonal_decompose class); all block windows are (e, blk)-
    # partitioned. Two plan occurrences = the same day-index window
    # consumed by both the rs and per_n subtrees.
    "hurst_exponent_daily": 2,
    # round-14: lag-1 residual window over the daily aggregate
    # (calendar-bounded — the rsi/newey_west class)
    "durbin_watson_daily": 1,
    # cumulative LLR over the day-DOMAIN daily-conversion series (the
    # cusum_changepoint shape)
    "sprt_ab_sequential": 1,
    # level-0 CUSUM cumsum over the day-DOMAIN series (level 1 is
    # PARTITIONED by segment side); 3 because the cp0 subtree
    # re-instantiates under the segment join and the root row (the
    # max_drawdown subtree-reuse effect)
    "binary_segmentation_changepoints": 3,
    # cumulative Q over the 10-row LAG domain (smaller than day-domain)
    "ljung_box_q": 1,
    # 10-row decile-domain cumulative share
    "lorenz_curve_deciles": 1,
    # lag() moving range over the day-DOMAIN series (bollinger shape);
    # 2 because the mR subtree re-instantiates under the limits aggregate
    # AND the chart join (max_drawdown subtree-reuse effect)
    "xmr_control_chart": 2,
    # day-DOMAIN rank spine (re-instantiated under BOTH anchor-row
    # lookups — subtree reuse) + 32-row trial-domain best-rank
    "ransac_trend_daily": 3,
    # sample_rank row_number over the K-row (WRS_K=100) top-k result
    "weighted_reservoir_sample": 1,
    # 10-row decile-domain cumulative positive share
    "gains_chart_stopword": 1,
    # lag(rev_c) first-difference over the day-DOMAIN series
    "daily_return_profile": 1,
    # running max over the day-DOMAIN series; 2 because the drawdown
    # relation re-instantiates under the max-scalar aggregate AND the
    # trough argmax join (the cusum subtree-reuse effect)
    "max_drawdown_revenue": 2,
    # round 13 — all over bounded domains:
    # ascending cumulative over the multiplicity DOMAIN (counts-of-counts
    # of the join key — tiny at any scale)
    "join_key_skew_profile": 1,
    # running sum + running min over the day-DOMAIN series (cusum shape)
    "page_hinkley_drift": 1,
    # at-risk cumsum over the duration-DOMAIN lifetable (the
    # kaplan_meier shape, both arms as columns of ONE table)
    "logrank_test_conversion": 1,
    # lag-1 window over the day-DOMAIN series (cusum shape)
    "granger_causality_daily": 1,
    # residual-autocovariance lag windows over the day-DOMAIN series
    # (one ordering, NW_LAGS lag columns in a single Window node)
    "newey_west_se": 1,
    # round 15 — all over the day-DOMAIN daily aggregate:
    # two RANGE tie-rank counts (y asc / y desc) + the x-ordered lag —
    # the spearman_daily_corr mid-rank class
    "chatterjee_xi_daily": 3,
    # lag(rev_c) return diff + the order-statistic row_number tail cut
    # (the rsi_daily_revenue class)
    "var_cvar_daily": 2,
    # one cumulative tie-group window over the |d|-DISTINCT-VALUE
    # relation (≤ day count — the runs_test_daily class)
    "wilcoxon_signed_rank_daily": 1,
    # two RANGE tie-rank counts + the day-ordered lead over the
    # day-DOMAIN series (the chatterjee_xi_daily class)
    "bartels_rank_test": 3,
}

HEADER = (
    "| query | exchanges | single-part | unpart-window | broadcast joins | "
    "shuffle joins | scans | pushed filters | cartesian |\n"
    "|---|---|---|---|---|---|---|---|---|"
)


# Unary pass-through nodes a Window's input may route through before its
# partitioning Exchange. Anything NOT in this set ends the walk (a join /
# scan / aggregate boundary means the window's input partitioning is
# established elsewhere).
_WINDOW_PASSTHROUGH = {
    "Sort",
    "Project",
    "Filter",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "InputAdapter",
    "WholeStageCodegen",
    "ColumnarToRow",
    "WindowGroupLimit",
    "CoalescedShuffleRead",
}

_NODE_NAME = re.compile(r"[A-Za-z][A-Za-z0-9]*")


def unpartitioned_windows(plan: str) -> int:
    """Count Window operators fed by an Exchange SinglePartition. Walks the
    Window's child chain through any number of unary pass-through nodes
    (Sort/Project/AQEShuffleRead/...) until the first Exchange or a
    non-unary boundary — a fixed 3-line lookahead missed windows separated
    from their exchange by longer chains (ADVICE r6)."""
    lines = plan.splitlines()
    hits = 0
    for i, line in enumerate(lines):
        if not re.search(r"\bWindow \[", line):
            continue
        for nxt in lines[i + 1 :]:
            m = _NODE_NAME.search(nxt.lstrip(" :+-*()0123456789"))
            if m is None:
                continue
            node = m.group(0)
            if "Exchange" in node or node == "ReusedExchange":
                if "SinglePartition" in nxt:
                    hits += 1
                break
            if node not in _WINDOW_PASSTHROUGH:
                break
    return hits


def main() -> int:
    from streamroom_bigdata_spark import registry
    from streamroom_bigdata_spark.session import get_spark

    spark = get_spark("plan_audit")
    lines = [HEADER]
    violations: list[str] = []
    for name, fn in sorted(registry.queries().items()):
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:
            lines.append(f"| {name} | ERR: {type(exc).__name__} | | | | | | | |")
            violations.append(f"{name}: plan build failed ({type(exc).__name__})")
            continue
        n_unpart = unpartitioned_windows(plan)
        allowed = ALLOWED_UNPARTITIONED_WINDOWS.get(name, 0)
        if n_unpart > allowed:
            violations.append(
                f"{name}: {n_unpart} unpartitioned window(s), allowed {allowed} "
                "— a Window over Exchange SinglePartition funnels the whole "
                "relation through one task; partition it or allowlist the "
                "bounded case with a justification"
            )
        lines.append(
            "| {} | {} | {} | {} | {} | {} | {} | {} | {} |".format(
                name,
                len(re.findall(r"Exchange hashpartitioning", plan)),
                len(re.findall(r"Exchange SinglePartition", plan)),
                n_unpart or "—",
                plan.count("BroadcastHashJoin")
                + plan.count("BroadcastNestedLoopJoin"),
                plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin"),
                plan.count("FileScan"),
                "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "—",
                plan.count("CartesianProduct") or "—",
            )
        )
    table = "\n".join(lines)
    if WRITE:
        with open("PLANS.md", "w") as f:
            f.write(
                "# Physical-plan audit (generated by tools/plan_audit.py at "
                f"{SF_DIR})\n\n"
                "Scale-readiness signals per registered query. Remaining "
                "single-part exchanges sit above bounded relations only: the "
                "final stage of a 1-row global aggregate (global_stats, "
                "recommend_rmse/rooms, tf_idf's corpus count, "
                "normalized_usage's max) — partial aggregation runs per "
                "partition first, so one row per partition crosses the "
                "exchange. Unpartitioned WINDOWS (the unbounded-funnel "
                "shape) are enforced against an allowlist of documented "
                "bounded cases — see tools/plan_audit.py; the audit exits "
                "nonzero on any new one. Cartesian products appear "
                "nowhere.\n\n"
                + table
                + "\n"
            )
        print("wrote PLANS.md")
    else:
        print(table)
    if violations:
        print("\nPLAN AUDIT VIOLATIONS:")
        for v in violations:
            print("  -", v)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

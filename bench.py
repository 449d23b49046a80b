"""Benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock seconds across the headline set (each query
executed to completion via ``count()`` — full plan execution, no driver-side
result materialization cost in the number). Per-query seconds are under
``queries``; per-query result cardinality under ``rows`` (so output-driven
growth is never conflated with plan cost).

MEASUREMENT PROTOCOL (frozen — BASELINE.md §"protocol"):
  1. one fresh SparkSession; warm-up = 1 non-headline query + one count of
     every fixture table + one trivial pandas-UDF pass over every core + the
     one-time layout prep (bucketed tables, committed ANN index chain),
     all in ``streamroom_bigdata_spark.instrument.Runner``. Nothing in the
     headline set runs before its measured run. The chain is built for
     any ``ann_index_*`` query but ``ann_index_probe_committed``, so in a
     subset run the cold time of a chain-backed one (for example
     ``ann_index_incremental``) excludes the chain build.
  2. each headline query then runs ONCE, cold (plan compile + execute) —
     that first-run number is ``queries``.
  3. the 5 slowest queries by cold time re-run 3 more times; the median is
     reported under ``warm_top5``.
The runner unpersists what each run persisted, so a warm median does not
re-use the query's own leftover caches and no cold run re-uses an earlier
query's.
Cold single-shot numbers at this scale carry ±20-30 % variance; compare
round-over-round via warm medians first, cold totals second.

DATA-SIZED TIER (round 16, additions-only): after the headline block, the
``SF1_TIER`` subset of data-dominated headline queries re-runs against a
10×-synthesized directory (tools/make_scale.py, cached across runs) in the
same session — the round-15 verdict's instrument fix: at sf0.1 every
8-vs-32-core scaling ratio was ≈1 (planning/JVM-bound), so cold sf0.1
single-shots cannot resolve optimization work; the sf≈1 block gives the
bench a tier where compute dominates and core-count scaling is visible.
Tier timings are ADDED to ``queries`` under ``sf1:<name>`` keys and
summarized under ``sf1_total``; ``value`` REMAINS the sf0.1 headline total,
same definition as every prior round, so round-over-round totals stay
like-for-like. The tier honors a wall-clock budget
(``$SPARK_GRAFT_SF1_BUDGET_S``, default 900 s) — queries skipped when the
budget is exhausted are listed, never silently dropped (guide §1).

JOB COUNTS (round 16): per-query counts of the jobs in each run's job group
ride along in BENCH_SELF.json under ``jobs`` — the driver-visible artifact
for plan-structure claims (e.g. "matvec once per round"); they are shed
from the stdout line first, like ``rows``.

Flags:
    python bench.py [query ...]       subset of the headline set
    python bench.py --sf1             synthesize (once) and run at sf≈1
                                      (10× the sf0.1 facts, /tmp/sf1_synth)
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one representative per operator family (SURVEY.md §2) —
# scan+agg, star join (plain + bucketed layout), window top-k, flagship
# recommendation, as-of and interval joins, exact + near dedup, similarity
# search, text analysis.
HEADLINE = [
    "pricing_summary",        # A6 multi-agg scan (TPC-H Q1 shape)
    "star_join_revenue",      # J3 fact ⋈ 4 dims
    "star_join_bucketed",     # J3 over the bucketed layout (zero-Exchange)
    "sql_revenue_share",      # SQL surface over the bucketed layout (r6+)
    "topk_per_brand",         # W1 window rank top-k
    "recommend_rooms",        # flagship hybrid scoring query
    "asof_join",              # J6 as-of via window
    "range_join_attribution", # J5 interval join
    "dedup_exact",            # L1 hash dedup
    "near_dup_pairs",         # L2 MinHash-LSH band join
    "cosine_topk",            # L3 brute-force similarity
    "ann_lsh_cosine",         # L3 ANN scale path
    "text_quality",           # L4 quality scoring
    "token_frequencies",      # D5 tokenize + count
    "running_totals",         # W3 frame aggregates
    "rollup_orders",          # A7 rollup
    # round-7 representatives (subtract for like-for-like vs the r02
    # reference set, as with star_join_bucketed/sql_revenue_share):
    "simhash_near_dup",       # L2± fingerprint banding + Hamming verify
    "pagerank_transactions",  # G1 iterative (8 rounds / driver fast path)
    "funnel_conversion",      # B1 behavioral analytics
    # round-7 second wave (same like-for-like subtraction rule):
    "q7_volume_shipping",     # Q7 two-dim-chain star, 1 exchange
    "scd2_type_history",      # SCD2 change compression, exchange-reused windows
    "rolling_active_users",   # bounded-explode rolling distinct
    # round-7 third wave (same like-for-like subtraction rule):
    "bm25_search",            # IR1 ranked retrieval (posting-list tf + top-k)
    "winnow_overlap_pairs",   # WIN2 contamination pairs (fp equi-join, df cap)
    # round-8 (reported separately vs the frozen 24-query r7 table —
    # BASELINE.md "FROZEN r7 reference" comparison rule):
    "kmeans_clusters",        # ML1 Lloyd's, driver-centroid rework (r8)
    "block_dup_stats",        # L2b sub-document (line-wise) dedup signal (r8)
    "kmv_source_overlap",     # SK5 KMV sketch cross-source overlap (r8)
    # round-10: statistical-wave representatives (reported separately vs
    # the frozen r7 table, same rule as the r8 additions):
    "mann_whitney_u",         # ST4 distributed tie-corrected ranking (the
                              # wave's one new exchange shape)
    "seasonal_decompose_daily",  # TS3 dow-partitioned seasonal split (the
                              # round-9 re-spelled single-subtree plan)
    # round-10: distribution-wave representatives (reported separately vs
    # the frozen r7 table, same rule):
    "ks_two_sample_price",    # ST8 two-CDF distributed ranking (the wave's
                              # one new exchange shape)
    "theil_sen_daily_trend",  # ST10 O(days²) pair stage + distributed
                              # order-statistic median
    # round-10: revenue-ops + governance representatives (reported
    # separately vs the frozen r7 table, same rule):
    "multi_touch_attribution",  # RV2 time-banded user join + purchase
                              # windows (the wave's heaviest shape)
    "rfm_segments",           # RV1 custkey agg + two 1-row percentile
                              # broadcasts (no ntile funnel)
    "lang_id_agreement_kappa",  # GV2 40-string-op codegen detection +
                              # confusion-cell reduce
    # round-10: model-fitting wave representatives (reported separately vs
    # the frozen r7 table, same rule):
    "naive_bayes_lang",       # MF1 train/score classifier (the wave's
                              # heaviest shape: two token explodes +
                              # model-broadcast scoring join)
    "pca_power_iteration",    # MF5 iterative matvec (5 rounds, per-round
                              # localCheckpoint state materialization)
    # round-11 representatives (reported separately vs the frozen r7
    # table, same rule):
    "kendall_tau_daily",      # ST15 day-domain pair stage + tie groupBys
                              # (the round's new exchange shape)
    "minhash_jaccard_calibration",  # SK9 full near-dup candidate pipeline
                              # + two signature joins (heaviest new op)
    "ohlc_daily_value",       # Q2 single-pass min_by/max_by day bars over
                              # the event stream
    "abc_classification",     # A12 ranking-kernel cumulative share over
                              # the part table
    # round-13 representatives (reported separately vs the frozen r7
    # table, same rule):
    "repeated_substring_spans",  # L2c exact substring dedup: sliding-gram
                              # seed + double gaps-islands (the round's
                              # heaviest new shuffle shape)
    "ann_ivfpq_cosine",       # L3 composed IVF-PQ (skinny-argmin
                              # assignment + code-join ADC scoring)
    "cramer_von_mises",       # ST18 two-sample L2 via the ranking kernel
                              # with DECIMAL-exact summands
    # round-14 representatives (reported separately vs the frozen r7
    # table, same rule):
    "ann_index_probe_committed",  # N4 persistent-index build+commit+probe
                              # end-to-end (the round's headline feature;
                              # cold = train+encode+commit+probe)
    "energy_distance_values",  # Y1 two-sample energy distance (the
                              # pair-free rank-formula kernel)
    "jaccard_links",          # Y9 capped pair stage + pinned degree joins
                              # (the round's heaviest new shuffle shape)
    # round-15 representatives (reported separately vs the frozen r7
    # table, same rule):
    "ann_index_probe_only",   # N12 probe ECONOMICS over the pre-built
                              # session chain (the production number the
                              # round-14 verdict asked to split out of the
                              # build-dominated N4 gate; chain build is
                              # untimed layout prep, like the bucketed
                              # star-join's table write)
    "ann_index_drift",        # N11 staleness readout: one residual scan
                              # + codes-occupancy join (the round's new
                              # shuffle shape; same untimed chain prep)
]

SF1_DIR = "/tmp/sf1_synth"
WARM_TOP_N = 5
WARM_RUNS = 3

# Data-dominated tier (round 16): headline queries whose work grows with
# the fact tables — one representative per family: scan-agg, star join,
# dim-chain join, window rank, text explode, ranking kernel, IR, ML
# train/score, fingerprint equi-join, and the full dedup pipeline.
# Excluded by design: the bucketed / committed-ANN entries (their one-time
# layout prep at 10× is build cost, not query cost) and driver-bounded
# trivia (sub-second shapes whose sf≈1 time is still planning). Capped at
# 10 entries so the stdout JSON line stays inside the driver's ~2000-char
# tail window with all 48 sf0.1 entries present. Ordered cheap → heavy so
# a budget skip drops the heaviest first.
SF1_TIER = [
    "pricing_summary",
    "token_frequencies",
    "topk_per_brand",
    "star_join_revenue",
    "q7_volume_shipping",
    "mann_whitney_u",
    "bm25_search",
    "naive_bayes_lang",
    "winnow_overlap_pairs",
    "near_dup_pairs",
]


def _ensure_sf1(src_dir: str = "/root/testdata/sf0.1") -> str:
    if not os.path.exists(f"{SF1_DIR}/lineitem.parquet"):
        subprocess.run(
            [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "tools", "make_scale.py"),
                src_dir,
                SF1_DIR,
                "10",
            ],
            check=True,
        )
    return SF1_DIR


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    sf1 = "--sf1" in argv
    only = [a for a in argv if not a.startswith("-")]

    sf_dir = (
        _ensure_sf1()
        if sf1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    names = only or HEADLINE

    # Box-state capture: this box suffers external load epochs that swing
    # cold timings 1.3-1.8x; recording loadavg before/after makes every
    # bench artifact self-diagnosing (compare rounds only when both ran on
    # a comparably quiet box).
    load_start = os.getloadavg()
    with open("/proc/uptime") as f:
        uptime_start = float(f.read().split()[0])

    def _steal_jiffies() -> int:
        # 8th field of the aggregate cpu line: time stolen by the
        # hypervisor. On this box steal bursts of 10-30 cpu-sec/min are
        # the measured cause of multi-second spikes in otherwise-trivial
        # stages — steal delta makes that diagnosable per artifact.
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])

    # Idle-steal PRE-check (round-13 verdict item 3): all three round-13
    # closing self-runs landed in a session-long steal storm and round 13
    # ended with no clean self-bench of record. Sample steal on an idle
    # box for a short window BEFORE any work: above the storm line the
    # artifact is stamped storm_epoch=true (self-diagnosing, never the
    # number of record); with --require-calm the run waits for a calm
    # window and refuses (exit 3) if none appears, so a storm can never
    # silently become the number of record.
    STORM_JPS = 40.0  # stolen jiffies/sec while idle ≈ 0.4 cpu-sec/s —
    # well below the measured storms (r13: 12,921 jiffies over ~90 s ≈ 140
    # j/s) and well above quiet-epoch noise (r7-r12 quiet runs: ≤5 j/s)
    PRECHECK_S = 3.0

    def _steal_precheck() -> dict:
        # idle window first...
        s0 = _steal_jiffies()
        time.sleep(PRECHECK_S)
        idle_d = _steal_jiffies() - s0
        # ...then a LOADED window: steal on this box is LOAD-CORRELATED
        # (round-14 finding: two runs with 0 j/s idle pre-checks both hit
        # ~4.2k jiffies once the 32 cores spun up — the hypervisor only
        # steals from cores we actually use, so an idle probe cannot see
        # it). Spin every core briefly and measure steal under load.
        import multiprocessing as mp

        def _burn(stop_t):
            while time.perf_counter() < stop_t:
                pass

        ncpu = os.cpu_count() or 8
        stop_t = time.perf_counter() + PRECHECK_S
        s0 = _steal_jiffies()
        procs = [
            mp.Process(target=_burn, args=(stop_t,), daemon=True)
            for _ in range(ncpu)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        loaded_d = _steal_jiffies() - s0
        return {
            "window_s": PRECHECK_S,
            "idle_jiffies": idle_d,
            "idle_jps": round(idle_d / PRECHECK_S, 1),
            "loaded_jiffies": loaded_d,
            "loaded_jps": round(loaded_d / PRECHECK_S, 1),
            "storm": max(idle_d, loaded_d) / PRECHECK_S > STORM_JPS,
        }

    pre = _steal_precheck()
    if "--require-calm" in argv:
        waited = 0.0
        while pre["storm"] and waited < 600.0:
            print(
                f"# storm epoch (idle {pre['idle_jps']} / loaded "
                f"{pre['loaded_jps']} steal-jiffies/s) — waiting",
                file=sys.stderr, flush=True)
            time.sleep(30.0)
            waited += 30.0
            pre = _steal_precheck()
        if pre["storm"]:
            print(json.dumps({
                "metric": "headline_queries_total", "value": None,
                "unit": "sec", "error": "storm_epoch_persisted",
                "steal_precheck": pre,
            }))
            return 3

    # measured-run steal starts AFTER the pre-check window
    steal_start = _steal_jiffies()

    from streamroom_bigdata_spark.instrument import Runner

    # Warm-up and layout prep (instrument.Runner): nothing in the headline
    # set runs before its measured run, so every headline number below is
    # an equally cold first run (on warm workers, as on a long-lived
    # cluster). A query that OOMs the JVM stops the SparkContext; the
    # runner revives it before the next run, so one broken query never
    # erases the run's performance signal.
    runner = Runner(sf_dir, names)

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    jobs: dict[str, int] = {}

    def run_cold(name: str, key: str, run_dir: str | None = None) -> None:
        r = runner.run(name, sf_dir=run_dir)
        if r.error is not None:
            errors[key] = f"{type(r.error).__name__}: {r.error}"[:400]
            return
        rows[key] = r.rows
        timings[key] = round(r.wall_s, 3)
        jobs[key] = r.jobs

    for name in names:
        run_cold(name, name)

    warm: dict[str, float] = {}
    for name in sorted(timings, key=timings.get, reverse=True)[:WARM_TOP_N]:
        runs = []
        for _ in range(WARM_RUNS):
            r = runner.run(name)
            if r.error is not None:
                errors[name] = (
                    f"warm: {type(r.error).__name__}: {r.error}"[:400]
                )
                break
            runs.append(r.wall_s)
        else:
            warm[name] = round(statistics.median(runs), 3)

    # ------------------------------------------------------------------
    # Data-sized tier (module docstring): SF1_TIER cold single-shots at a
    # 10×-synthesized directory, same session, same count() methodology.
    # Runs only on a full headline invocation at a sub-sf1 directory (a
    # subset run or an explicit --sf1 run times exactly what was asked).
    # ------------------------------------------------------------------
    sf1_total = None
    sf1_info: dict = {}
    m0 = re.match(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    run_sf1_tier = (
        names == HEADLINE
        and not sf1
        and (m0 is None or float(m0.group(1)) < 1.0)
        and os.environ.get("SPARK_GRAFT_SKIP_SF1_TIER") != "1"
    )
    if run_sf1_tier:
        budget_s = float(os.environ.get("SPARK_GRAFT_SF1_BUDGET_S", "900"))
        tier_t0 = time.perf_counter()
        try:
            sf1_dir = _ensure_sf1(sf_dir)
        except Exception as exc:  # noqa: BLE001
            sf1_dir = None
            sf1_info["synth_error"] = f"{type(exc).__name__}: {exc}"[:300]
        if sf1_dir:
            # footer/page-cache warm-up for the tier's tables, mirroring
            # the headline warm-up, so the first tier query isn't charged
            # first-read IO its peers skip
            try:
                runner.touch_tables(sf1_dir)
            except Exception:  # noqa: BLE001
                pass
            skipped: list[str] = []
            for name in SF1_TIER:
                if time.perf_counter() - tier_t0 > budget_s:
                    skipped.append(name)
                    continue
                run_cold(name, f"sf1:{name}", sf1_dir)
            sf1_total = round(
                sum(v for k, v in timings.items() if k.startswith("sf1:")), 3
            )
            sf1_info = {
                "dir": sf1_dir,
                "factor": 10,
                "budget_s": budget_s,
                "tier_wall_s": round(time.perf_counter() - tier_t0, 3),
            }
            if skipped:
                sf1_info["skipped_budget"] = skipped

    sf = float(m0.group(1)) if m0 else 1.0
    load_end = os.getloadavg()
    out = {
        "metric": "headline_queries_total",
        # value stays the sf_dir headline total ONLY (same definition as
        # every prior round); the sf1: tier entries live in `queries` and
        # sum under `sf1_total` — additions, never a redefinition
        "value": round(
            sum(v for k, v in timings.items() if not k.startswith("sf1:")), 3
        ),
        "unit": "sec",
        "queries": timings,
        "rows": rows,
        "warm_top5": warm,
        "jobs": jobs,
        "sf": sf,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "uptime_start": round(uptime_start, 1),
        "steal_jiffies": _steal_jiffies() - steal_start,
        "steal_precheck": pre,
        "storm_epoch": pre["storm"],
    }
    if sf1_total is not None:
        out["sf1_total"] = sf1_total
    if sf1_info:
        out["sf1"] = sf1_info
    if errors:
        out["errors"] = errors

    # Full result → a repo file, so every round's numbers are recoverable
    # standalone (BENCH_r10's driver artifact truncated mid-object and was
    # unparseable on its own — the driver keeps only the LAST ~2000 chars
    # of stdout, and a 38-query line with per-query rows blew past that).
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_SELF.json"), "w") as f:
        json.dump(out, f, indent=1)

    # stdout line: shed the biggest optional sections until the line fits
    # the driver's tail window — per-query cold timings are the signal the
    # driver must always be able to parse.
    compact = dict(out)
    line = json.dumps(compact)
    # shed order: per-query diagnostics first, then box-state fields (all
    # duplicated in BENCH_SELF.json); errors last — a failed query's
    # message should survive on stdout whenever it can fit
    for shed in (
        "jobs",
        "rows",
        "warm_top5",
        "steal_precheck",
        "loadavg_start",
        "loadavg_end",
        "uptime_start",
        "sf1",
        "steal_jiffies",
        "errors",
    ):
        if len(line) <= 1900:
            break
        if shed in compact:
            compact.pop(shed)
            compact["shed_to_bench_self"] = compact.get(
                "shed_to_bench_self", []
            ) + [shed]
            line = json.dumps(compact)
    if len(line) > 1900 and isinstance(
        compact.get("shed_to_bench_self"), list
    ):
        # last resort: the shed list itself is ~100 chars — collapse it to
        # a count (the full list is always in BENCH_SELF.json)
        compact["shed_to_bench_self"] = len(compact["shed_to_bench_self"])
        line = json.dumps(compact)
    print(line)
    # Nonzero-but-parsed: the driver still gets a full JSON line with every
    # healthy query's timing even when some query failed.
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())

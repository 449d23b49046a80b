"""Round-12 wave tests: rank stats, sweep line, phonetic blocking,
k-center, dHash, fertility, Holt-Winters — planted-case and textbook
agreement, complementing the SQL oracles (which verify cross-engine, not
cross-ALGORITHM)."""

from __future__ import annotations

import itertools
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from streamroom_bigdata_spark.operators import (
    fuzzyjoin,
    multimodal,
    quant,
    sessions,
    similarity,
    stats,
    timeseries,
)
from streamroom_bigdata_spark.sources import load_table


# ---------------------------------------------------------------------------
# Kruskal-Wallis vs the textbook O(n log n) single-machine computation
# ---------------------------------------------------------------------------


def test_kruskal_wallis_matches_textbook(spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_totalprice", "o_orderpriority")
        .collect()
    )
    vals = sorted((r.o_totalprice, r.o_orderpriority) for r in rows)
    n = len(vals)
    # tie-averaged midranks
    ranks: dict[int, float] = {}
    i = 0
    tie_sum = 0.0
    while i < n:
        j = i
        while j < n and vals[j][0] == vals[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        for k in range(i, j):
            ranks[k] = mid
        t = j - i
        tie_sum += t**3 - t
        i = j
    r_sum: dict[str, float] = {}
    n_g: dict[str, int] = {}
    for k, (_, g) in enumerate(vals):
        r_sum[g] = r_sum.get(g, 0.0) + ranks[k]
        n_g[g] = n_g.get(g, 0) + 1
    h = 12.0 / (n * (n + 1)) * sum(
        r * r / n_g[g] for g, r in r_sum.items()
    ) - 3.0 * (n + 1)
    h_adj = h / (1.0 - tie_sum / (float(n) ** 3 - n))
    got = stats.kruskal_wallis_h(spark, sf_dir).collect()[0]
    assert got.n_total == n
    assert got.h_stat == pytest.approx(h, abs=1e-4)
    assert got.h_tie_adj == pytest.approx(h_adj, abs=1e-4)


# ---------------------------------------------------------------------------
# Wasserstein vs the sorted-sample textbook integral
# ---------------------------------------------------------------------------


def test_wasserstein_matches_textbook(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(stats.WS_GROUP_A, stats.WS_GROUP_B))
        .select("event_type", "value")
        .collect()
    )
    a = sorted(r.value for r in ev if r.event_type == stats.WS_GROUP_A)
    b = sorted(r.value for r in ev if r.event_type == stats.WS_GROUP_B)
    support = sorted(set(a) | set(b))
    w1 = 0.0
    ia = ib = 0
    for v, v_next in zip(support, support[1:]):
        while ia < len(a) and a[ia] <= v:
            ia += 1
        while ib < len(b) and b[ib] <= v:
            ib += 1
        w1 += abs(ia / len(a) - ib / len(b)) * (v_next - v)
    got = stats.wasserstein_1d_values(spark, sf_dir).collect()[0]
    assert (got.n_a, got.n_b) == (len(a), len(b))
    assert got.w1_distance == pytest.approx(w1, abs=1e-4)


# ---------------------------------------------------------------------------
# Sweep-line concurrency on a PLANTED interval set
# ---------------------------------------------------------------------------


def test_concurrency_planted_intervals(spark):
    # user 1: two overlapping sessions are impossible (sessionize merges
    # within-gap events), so overlap comes from DIFFERENT users:
    # u1 [00:00, 00:10], u2 [00:05, 00:15], u3 [00:12, 00:20]
    # peak = 2 (u1∩u2, then u2∩u3); back-to-back end/start at the same
    # second must NOT double-count (half-open convention)
    rows = [
        (101, 1, "2024-01-01 00:00:00", 1.0),
        (102, 1, "2024-01-01 00:10:00", 1.0),
        (201, 2, "2024-01-01 00:05:00", 1.0),
        (202, 2, "2024-01-01 00:15:00", 1.0),
        (301, 3, "2024-01-01 00:12:00", 1.0),
        (302, 3, "2024-01-01 00:20:00", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "value"
    )
    sess = sessions.sessionize(ev)
    assert sess.count() == 3  # one session per user (10-15 min spans < gap)
    b = sess.select(
        F.col("session_start").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        sess.select(F.col("session_end").alias("t"), F.lit(-1).alias("delta"))
    )
    run = sorted(
        b.groupBy("t", "delta").agg(F.count("*").alias("c")).collect(),
        key=lambda r: (r.t, r.delta),
    )
    conc, peak = 0, 0
    for r in run:
        conc += r.delta * r.c
        peak = max(peak, conc)
    assert peak == 2


def test_concurrency_profile_matches_replay(spark, sf_dir):
    """Full single-machine sweep-line replay over the collected sessions —
    verifies the distributed running sum, the ends-before-starts tie
    order, and the per-day max (zero-length sessions occupy nothing under
    the half-open convention, so peak 0 days are legitimate)."""
    sess = sessions.sessionize(
        load_table(spark, sf_dir, "events")
    ).collect()
    bounds: dict = {}
    for s in sess:
        bounds[(s.session_start, 1)] = bounds.get((s.session_start, 1), 0) + 1
        bounds[(s.session_end, -1)] = bounds.get((s.session_end, -1), 0) + 1
    conc = 0
    peaks: dict = {}
    for (t, delta), c in sorted(bounds.items(), key=lambda kv: (kv[0][0], kv[0][1])):
        conc += delta * c
        d = t.date()
        peaks[d] = max(peaks.get(d, conc), conc)
    got = {
        r.day: r.peak_concurrent
        for r in sessions.session_concurrency_profile(spark, sf_dir).collect()
    }
    assert got == peaks


# ---------------------------------------------------------------------------
# Soundex chain: known codes + the documented H/W deviation, engine parity
# ---------------------------------------------------------------------------


def test_soundex_known_codes(spark):
    import duckdb

    words = ["red", "widget", "ring", "robert", "rupert", "tymczak", "pfister"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r.w: r.code
        for r in df.select(
            "w", fuzzyjoin._sdx_col(F.col("w")).alias("code")
        ).collect()
    }
    # classic pairs agree where H/W transparency doesn't matter
    assert got["robert"] == got["rupert"] == "R163"
    assert got["red"] == "R300"
    # engine parity: the DuckDB spelling produces the identical codes
    duck = dict(
        duckdb.connect()
        .execute(
            f"SELECT w, {fuzzyjoin._sdx_sql('w')} FROM (SELECT unnest("
            f"{[*words]}) AS w)"
        )
        .fetchall()
    )
    assert duck == got


# ---------------------------------------------------------------------------
# k-center greedy on a PLANTED configuration
# ---------------------------------------------------------------------------


def test_k_center_matches_numpy_replay(spark, sf_dir):
    emb = {
        r.vec_id: np.array(r.embedding, dtype="float64")
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    ids = sorted(emb)
    seed = ids[0]
    centers = [seed]
    expected = [(0, seed, 0.0)]

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    for k in range(1, similarity.KC_K + 1):
        best = None
        for vid in ids:
            d = min(
                r6(float(((emb[vid] - emb[c]) ** 2).sum())) for c in centers
            )
            cand = (-d, vid)
            if best is None or cand < best:
                best = cand
        d, vid = -best[0], best[1]
        centers.append(vid)
        expected.append((k, vid, d))
    got = sorted(
        (r.sel_order, r.vec_id, r.radius_sq)
        for r in similarity.k_center_diversity(spark, sf_dir).collect()
    )
    assert [(o, v) for o, v, _ in got] == [(o, v) for o, v, _ in expected]
    for (_, _, g), (_, _, e) in zip(got, expected):
        assert g == pytest.approx(e, abs=1e-9)


# ---------------------------------------------------------------------------
# dHash: brightness invariance + sensitivity (the perceptual contract)
# ---------------------------------------------------------------------------


def _dhash_bits(raster: bytes) -> np.ndarray:
    img = np.frombuffer(raster, dtype=np.uint8).reshape(
        multimodal.DH_H, multimodal.DH_W, 3
    )
    g = img.astype(np.int64).sum(axis=2) // 3
    return (g[:, 1:] > g[:, :-1]).astype(np.int64)


def test_dhash_brightness_invariant_content_sensitive():
    rng = np.random.default_rng(7)
    base = rng.integers(40, 200, size=multimodal._DH_RASTER, dtype=np.uint8)
    brighter = np.clip(base.astype(int) + 20, 0, 255).astype(np.uint8)
    assert (
        _dhash_bits(base.tobytes()) == _dhash_bits(brighter.tobytes())
    ).all(), "uniform brightness shift must not change gradient signs"
    scrambled = base.copy()
    scrambled[::2] = rng.integers(0, 255, size=len(scrambled[::2]))
    assert (
        (_dhash_bits(base.tobytes()) ^ _dhash_bits(scrambled.tobytes())).sum()
        > multimodal.DH_HAM_MAX
    ), "content change must move the fingerprint"


def test_dhash_pairs_are_exact_duplicates_at_zero(spark, sf_dir):
    pairs = multimodal.image_dhash_neardup(spark, sf_dir)
    docs = {
        r.doc_id: r.text[: multimodal._DH_RASTER]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in pairs.filter(F.col("hamming") == 0).collect():
        assert (
            _dhash_bits(docs[r.asset_a].encode())
            == _dhash_bits(docs[r.asset_b].encode())
        ).all()


def test_decode_image_pixels_roundtrip():
    rng = np.random.default_rng(3)
    raster = rng.integers(0, 255, size=(8, 9, 3), dtype=np.uint8)
    payload = b"P6\n9 8\n255\n" + raster.tobytes()
    out = multimodal.decode_image_pixels(payload)
    assert (out == raster).all()
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_pixels(b"\x89PNG....")


# ---------------------------------------------------------------------------
# Holt-Winters: python replay equals the operator on the fixture series
# ---------------------------------------------------------------------------


def test_holt_winters_matches_replay(spark, sf_dir):
    daily = sorted(
        (r.day, r.y)
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("y"))
        .collect()
    )
    m = timeseries.HW_M
    acc = 0.0
    ys = []
    expected = {}
    l = b = None
    ss = []
    for day, y in daily:
        rn = len(ys) + 1
        ys.append(y)
        if rn < m:
            acc += y
        elif rn == m:
            acc += y
            l = acc / float(m)
            b = 0.0
            ss = [x - l for x in ys]
        else:
            su = ss[0]
            f = l + b + su
            l_new = timeseries.HW_ALPHA * (y - su) + timeseries._HW_OMA * (l + b)
            b = timeseries.HW_BETA * (l_new - l) + timeseries._HW_OMB * b
            s_new = timeseries.HW_GAMMA * (y - l_new) + timeseries._HW_OMG * su
            l = l_new
            ss = ss[1:] + [s_new]
            # mirror the engines' explicit floor(x·10⁴+0.5) spelling
            expected[day] = (
                math.floor(f * 1e4 + 0.5) / 1e4,
                math.floor(abs(y - f) * 1e4 + 0.5) / 1e4,
            )
    got = {
        r.day: (r.forecast, r.abs_err)
        for r in timeseries.holt_winters_seasonal(spark, sf_dir).collect()
    }
    assert got.keys() == expected.keys()
    for d in expected:
        assert got[d][0] == pytest.approx(expected[d][0], abs=1e-6)


# ---------------------------------------------------------------------------
# RSI flags: exact-integer threshold agrees with the float definition
# ---------------------------------------------------------------------------


def test_rsi_flags_match_float_definition(spark, sf_dir):
    for r in quant.rsi_daily_revenue(spark, sf_dir).collect():
        if r.rsi is None:
            continue
        assert r.overbought == (r.rsi > quant.RSI_HI) or abs(
            r.rsi - quant.RSI_HI
        ) < 1e-3  # knife-edge: integer compare is the truth, display rounds
        assert r.oversold == (r.rsi < quant.RSI_LO) or abs(
            r.rsi - quant.RSI_LO
        ) < 1e-3


# ---------------------------------------------------------------------------
# HITS: the distributed round loop must agree with the numpy fast path
# ---------------------------------------------------------------------------


def test_hits_distributed_equals_driver(spark, sf_dir, monkeypatch):
    from streamroom_bigdata_spark.operators import graph

    fast = {
        (r.node_type, r.node_key): r.hits_score
        for r in graph.hits_hubs_authorities(spark, sf_dir).collect()
    }
    monkeypatch.setattr(graph, "_PR_DRIVER_MAX_EDGES", 0)
    dist = {
        (r.node_type, r.node_key): r.hits_score
        for r in graph.hits_hubs_authorities(spark, sf_dir).collect()
    }
    assert dist.keys() == fast.keys()
    for k in fast:
        assert dist[k] == pytest.approx(fast[k], abs=2e-5)


# ---------------------------------------------------------------------------
# Zone maps: z-order must dominate the ingest-ordered layout on both dims
# ---------------------------------------------------------------------------


def test_zonemap_zorder_dominates_linear(spark, sf_dir):
    from streamroom_bigdata_spark.operators import layout

    rows = {
        (r.layout, r.query): r
        for r in layout.zonemap_prune_stats(spark, sf_dir).collect()
    }
    for q in ("part_range", "supp_range", "both"):
        assert (
            rows[("zorder", q)].n_pruned >= rows[("linear", q)].n_pruned
        )
        assert (
            rows[("zorder", q)].rows_scanned
            <= rows[("linear", q)].rows_scanned
        )
    # the conjunction can only prune MORE files than either single dim
    for lay in ("linear", "zorder"):
        assert rows[(lay, "both")].n_pruned >= max(
            rows[(lay, "part_range")].n_pruned,
            rows[(lay, "supp_range")].n_pruned,
        )


# ---------------------------------------------------------------------------
# Novelty: the first document is 100% novel; novelty sums tie out
# ---------------------------------------------------------------------------


def test_ngram_novelty_contract(spark, sf_dir):
    from streamroom_bigdata_spark.operators import dedup

    rows = {r.doc_id: r for r in dedup.ngram_novelty(spark, sf_dir).collect()}
    first = min(rows)
    assert rows[first].novelty == 1.0
    # Σ n_novel over docs = global distinct shingle count (each shingle is
    # novel exactly once, in its min-doc_id owner)
    sh = dedup.exact_shingle_rows(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        dedup.SHINGLE_N,
    )
    assert sum(r.n_novel for r in rows.values()) == sh.select(
        "sh"
    ).distinct().count()


# ---------------------------------------------------------------------------
# MMR: first pick is the relevance argmax; no duplicates; scores decay rule
# ---------------------------------------------------------------------------


def test_mmr_contract(spark, sf_dir):
    from streamroom_bigdata_spark.operators import retrieval

    rows = sorted(
        retrieval.mmr_rerank(spark, sf_dir).collect(),
        key=lambda r: r.mmr_rank,
    )
    assert len(rows) == retrieval.MMR_K
    assert len({r.vec_id for r in rows}) == retrieval.MMR_K
    # rank 1 maximizes pure relevance (λ·rel with empty S)
    assert rows[0].relevance == max(r.relevance for r in rows)
    # every later score is λ·rel − (1−λ)·pen with pen a COSINE to some
    # selected item — recover pen and check it is a legal cosine (it may
    # be negative: anti-correlated pool members REWARD selection)
    for r in rows[1:]:
        pen = (retrieval.MMR_LAMBDA * r.relevance - r.mmr_score) / (
            1.0 - retrieval.MMR_LAMBDA
        )
        assert -1.0 - 1e-6 <= pen <= 1.0 + 1e-6


# ---------------------------------------------------------------------------
# Group k-fold: folds partition customers; assignment is hash-deterministic
# ---------------------------------------------------------------------------


def test_group_kfold_partitions_customers(spark, sf_dir):
    from streamroom_bigdata_spark.operators import sampling

    folds = sampling.group_kfold_assign(spark, sf_dir).collect()
    assert len(folds) == sampling.KFOLD_K
    n_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r.n_customers for r in folds) == n_cust  # no straddling
    assert sum(r.n_orders for r in folds) == n_orders


# ---------------------------------------------------------------------------
# Ljung-Box: Q recomputed from the registered ACF query's own values
# ---------------------------------------------------------------------------


def test_ljung_box_consistent_with_acf(spark, sf_dir):
    from streamroom_bigdata_spark.operators import distribution

    lb = sorted(
        distribution.ljung_box_q(spark, sf_dir).collect(),
        key=lambda r: r.lag,
    )
    n = distribution._daily_orders(load_table(spark, sf_dir, "orders")).count()
    q = 0.0
    for r in lb:
        q += n * (n + 2.0) * r.acf**2 / (n - r.lag)
        # acf column is rounded; the replay must agree to round noise
        assert r.q_cum == pytest.approx(q, rel=1e-3)
    assert lb[-1].q_cum > 0


# ---------------------------------------------------------------------------
# Nelson-Aalen vs Kaplan-Meier: H ≥ −ln(S_KM), agreement in small-hazard limit
# ---------------------------------------------------------------------------


def test_nelson_aalen_vs_km(spark, sf_dir):
    from streamroom_bigdata_spark.operators import stats as st

    na = {
        r.t_days: r for r in st.nelson_aalen_hazard(spark, sf_dir).collect()
    }
    km = {
        r.t_days: r
        for r in st.kaplan_meier_conversion(spark, sf_dir).collect()
    }
    assert na.keys() == km.keys()
    for t in na:
        assert na[t].n_at_risk == km[t].n_at_risk
        # exp(−H) ≥ S_KM always (AM-GM on the factors), equality as d/n → 0
        if km[t].survival > 0:
            assert na[t].fh_survival >= km[t].survival - 1e-9
        # hazard increments are cumulative and positive
    ts = sorted(na)
    for a, b in zip(ts, ts[1:]):
        assert na[b].cum_hazard >= na[a].cum_hazard - 1e-12


# ---------------------------------------------------------------------------
# Randomized response: the estimator inverts the mechanism exactly
# ---------------------------------------------------------------------------


def test_randomized_response_inverts_mechanism(spark, sf_dir):
    from streamroom_bigdata_spark.functions.hashing import portable_hash64
    from streamroom_bigdata_spark.operators import stats as st

    row = st.randomized_response_estimate(spark, sf_dir).collect()[0]
    # replay the deterministic mechanism from the raw table
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").alias("t"),
        F.pmod(
            portable_hash64(
                F.concat(F.lit("rr1:"), F.col("c_custkey").cast("string"))
            ),
            F.lit(4),
        ).alias("h1"),
        F.pmod(
            portable_hash64(
                F.concat(F.lit("rr2:"), F.col("c_custkey").cast("string"))
            ),
            F.lit(2),
        ).alias("h2"),
    ).collect()
    n_yes = sum(
        1
        for r in cust
        if ((r.h2 == 0) if r.h1 == 0 else r.t)
    )
    assert row.n_yes == n_yes
    est = (n_yes / len(cust) - st.RR_Q / 2.0) / (1.0 - st.RR_Q)
    assert row.estimated_p == pytest.approx(est, abs=1e-6)
    # the realized estimator error is small (mechanism noise only)
    assert row.abs_err < 0.1


# ---------------------------------------------------------------------------
# Binary segmentation: root matches cusum_changepoint; children nest
# ---------------------------------------------------------------------------


def test_binseg_root_matches_cusum(spark, sf_dir):
    from streamroom_bigdata_spark.operators import timeseries as ts

    rows = {
        (r.level, r.segment): r
        for r in ts.binary_segmentation_changepoints(spark, sf_dir).collect()
    }
    cp = ts.cusum_changepoint(spark, sf_dir).collect()[0]
    assert rows[(0, "all")].changepoint_day == cp.changepoint_day
    assert rows[(1, "left")].changepoint_day <= rows[(0, "all")].changepoint_day
    assert rows[(1, "right")].changepoint_day > rows[(0, "all")].changepoint_day


# ---------------------------------------------------------------------------
# Day-of-week bands: quantiles ordered, weekday arithmetic correct
# ---------------------------------------------------------------------------


def test_dow_bands_contract(spark, sf_dir):
    import datetime

    from streamroom_bigdata_spark.operators import distribution

    rows = distribution.dow_quantile_bands(spark, sf_dir).collect()
    assert {r.day_of_week for r in rows} <= set(range(7))
    for r in rows:
        assert r.q10 <= r.q25 <= r.q50 <= r.q75 <= r.q90
    # (epoch_day + 3) % 7 == 0 must be a Monday
    assert (datetime.date(1970, 1, 1) + datetime.timedelta(days=4)).weekday() == 0


# ---------------------------------------------------------------------------
# Lorenz deciles: curve convex, shares tie out, consistent with Gini's sign
# ---------------------------------------------------------------------------


def test_lorenz_deciles_contract(spark, sf_dir):
    from streamroom_bigdata_spark.operators import distribution

    rows = sorted(
        distribution.lorenz_curve_deciles(spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert rows[-1].cum_share == pytest.approx(1.0, abs=1e-6)
    # equi-depth deciles of an unequal distribution: shares increase
    shares = [r.revenue_share for r in rows]
    assert shares == sorted(shares)
    # cumulative share of the bottom k deciles stays ≤ k/10 (Lorenz below
    # the diagonal)
    for r in rows[:-1]:
        assert r.cum_share <= (r.decile + 1) / 10 + 1e-9


# ---------------------------------------------------------------------------
# XmR: flags recomputed from the chart's own limits
# ---------------------------------------------------------------------------


def test_xmr_flags_consistent(spark, sf_dir):
    from streamroom_bigdata_spark.operators import timeseries as ts

    for r in ts.xmr_control_chart(spark, sf_dir).collect():
        assert r.out_of_control == (r.y > r.ucl or r.y < r.lcl) or abs(
            r.y - (r.ucl if r.y > r.center else r.lcl)
        ) < 1e-4  # knife-edge: flag decided on unrounded doubles
        assert r.ucl > r.center > r.lcl


# ---------------------------------------------------------------------------
# RANSAC: exactly one best trial; its inliers dominate; replayable picks
# ---------------------------------------------------------------------------


def test_ransac_best_trial(spark, sf_dir):
    from streamroom_bigdata_spark.operators import timeseries as ts

    rows = ts.ransac_trend_daily(spark, sf_dir).collect()
    best = [r for r in rows if r.is_best]
    assert len(best) == 1
    assert best[0].inliers == max(r.inliers for r in rows)
    assert best[0].inliers >= 2  # the two anchor days are always inliers


# ---------------------------------------------------------------------------
# Entity resolution: components are closed under the edge relation
# ---------------------------------------------------------------------------


def test_entity_resolution_components_closed(spark, sf_dir):
    from streamroom_bigdata_spark.operators import fuzzyjoin as fz

    rows = fz.entity_resolution_names(spark, sf_dir).collect()
    comp = {r.p_name: r.component for r in rows}
    ids = {r.p_name: r.name_id for r in rows}
    canon = {r.component: r.canonical_name for r in rows}
    # canonical name is the member whose name_id equals the component id
    for r in rows:
        assert ids[canon[r.component]] == r.component
    # any two names within lev<=2 sharing a block end up in one component
    import itertools

    from streamroom_bigdata_spark.operators.fuzzyjoin import ER_MAX_LEV

    def lev(a, b):
        if abs(len(a) - len(b)) > ER_MAX_LEV:
            return ER_MAX_LEV + 1
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    blocks = {
        r.p_name: r.block_code
        for r in load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .select(
            "p_name",
            F.concat(
                fz._sdx_col(F.element_at(F.split("p_name", " "), 1)),
                F.lit("-"),
                fz._sdx_col(F.element_at(F.split("p_name", " "), 2)),
            ).alias("block_code"),
        )
        .collect()
    }
    for a, b in itertools.combinations(sorted(blocks), 2):
        if blocks[a] == blocks[b] and lev(a, b) <= ER_MAX_LEV:
            assert comp[a] == comp[b], (a, b)


# ---------------------------------------------------------------------------
# Exact Pareto cutoff agrees with a single-machine sorted replay
# ---------------------------------------------------------------------------


def test_pareto_cutoff_matches_replay(spark, sf_dir):
    from streamroom_bigdata_spark.operators import distribution as dist

    cust = sorted(
        (
            r.cents
            for r in load_table(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                ).alias("cents")
            )
            .collect()
        ),
        reverse=True,
    )
    x = sum(cust)
    cum = 0
    k = 0
    for c in cust:
        cum += c
        k += 1
        if dist.PARETO_DEN * cum >= dist.PARETO_NUM * x:
            break
    row = dist.pareto_cutoff_exact(spark, sf_dir).collect()[0]
    assert row.n_customers == len(cust)
    assert row.k_top == k
    assert row.revenue_share_at_k == pytest.approx(cum / x, abs=1e-6)


# ---------------------------------------------------------------------------
# Weighted reservoir: heavier docs oversampled; deterministic; no dupes
# ---------------------------------------------------------------------------


def test_weighted_reservoir_contract(spark, sf_dir):
    from streamroom_bigdata_spark.operators import sampling

    rows = sampling.weighted_reservoir_sample(spark, sf_dir).collect()
    assert len(rows) == min(
        sampling.WRS_K,
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .count(),
    )
    assert len({r.doc_id for r in rows}) == len(rows)  # without replacement
    # weight bias: the sample's mean length exceeds the corpus mean
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean
    # determinism: second run identical
    again = sampling.weighted_reservoir_sample(spark, sf_dir).collect()
    assert sorted(r.doc_id for r in rows) == sorted(r.doc_id for r in again)


# ---------------------------------------------------------------------------
# Gains chart: shares tie out and the top decile dominates the base rate
# ---------------------------------------------------------------------------


def test_gains_chart_contract(spark, sf_dir):
    from streamroom_bigdata_spark.operators import quality

    rows = sorted(
        quality.gains_chart_stopword(spark, sf_dir).collect(),
        key=lambda r: -r.decile,
    )
    assert rows[-1].cum_pos_share == pytest.approx(1.0, abs=1e-6)
    shares = [r.cum_pos_share for r in rows]
    assert shares == sorted(shares)  # cumulative from the top down
    # lift × base rate × n_docs reproduces each decile's positives (the
    # fixture's synthetic text makes no monotone-lift promise — the chart
    # REPORTS the score's value, it doesn't presume it)
    n = sum(r.n_docs for r in rows)
    pos = sum(r.n_pos for r in rows)
    for r in rows:
        assert r.lift == pytest.approx(
            (r.n_pos / r.n_docs) / (pos / n), abs=1e-4
        )

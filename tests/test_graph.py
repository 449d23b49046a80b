"""PageRank: driver/distributed path equivalence + rank invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from streamroom_bigdata_spark.operators import graph


def _sym(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.unionByName(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def test_driver_and_distributed_paths_agree(spark):
    """Same graph through the numpy fast path and the iterative Spark loop:
    ranks equal to well below the query's round-5 output precision."""
    pairs = [(i, (i * 7 + 3) % 40 + 100) for i in range(60)] + [
        (i, (i + 1) % 20) for i in range(20)
    ]
    edges = _sym(spark, pairs)
    fast = {r.id: r.rank for r in graph.pagerank(edges).collect()}
    dist = {
        r.id: r.rank
        for r in graph.pagerank(edges, small_graph_threshold=0).collect()
    }
    assert set(fast) == set(dist)
    assert all(abs(fast[k] - dist[k]) < 1e-9 for k in fast)


def test_rank_mass_is_conserved(spark):
    """Symmetrized graph has no dangling nodes → total rank stays 1."""
    edges = _sym(spark, [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)])
    ranks = graph.pagerank(edges).collect()
    assert abs(sum(r.rank for r in ranks) - 1.0) < 1e-9


def test_hub_outranks_leaves(spark):
    """Star graph: the hub collects damped mass from every leaf."""
    edges = _sym(spark, [(0, i) for i in range(1, 11)])
    ranks = {r.id: r.rank for r in graph.pagerank(edges).collect()}
    assert all(ranks[0] > ranks[i] for i in range(1, 11))


def test_transactions_query_shape(spark, sf_dir):
    rows = graph.pagerank_transactions(spark, sf_dir).collect()
    assert abs(sum(r.pagerank for r in rows) - 1.0) < 1e-3  # round-5 output
    assert {r.node_type for r in rows} == {"customer", "supplier"}
    assert all(r.pagerank > 0 for r in rows)


def test_count_triangles_matches_bruteforce(spark):
    """Degree orientation changes the plan, not the count: compare against
    a driver-side brute force on a graph with hubs, cliques and a chain."""
    import itertools

    pairs = set()
    pairs |= {(a, b) for a, b in itertools.combinations([1, 2, 3, 4, 5], 2)}  # K5
    pairs |= {(10, i) for i in range(11, 31)}  # star (no triangles itself)
    pairs |= {(11, 12), (12, 13)}  # closes two triangles with hub 10
    pairs |= {(100 + i, 101 + i) for i in range(10)}  # chain
    edges = spark.createDataFrame(sorted(pairs), "doc_a long, doc_b long")

    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = sum(
        1
        for a, b in pairs
        for c in adj[a] & adj[b]
        if c > b  # a < b < c counted once
    )
    got = graph.count_triangles(edges).collect()[0].n_triangles
    assert got == brute == 12  # C(5,3)=10 from K5 + 2 closed at the hub


def test_count_triangles_guard_refuses_dense_graphs(spark, monkeypatch):
    import itertools

    import pytest

    monkeypatch.setattr(graph, "_TRIANGLE_MAX_WEDGES", 10)
    edges = spark.createDataFrame(
        sorted(itertools.combinations(range(10), 2)), "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="wedges"):
        graph.count_triangles(edges)


def test_pagerank_empty_graph_returns_empty(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert graph.pagerank(empty).count() == 0


def test_funnel_no_signups_yields_null_conversions(spark, monkeypatch):
    """ANSI-mode regression: n1=0 must produce NULL conversion rates, not
    a DIVIDE_BY_ZERO abort."""
    import datetime as dt

    from streamroom_bigdata_spark.operators import behavior

    events = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(
        "streamroom_bigdata_spark.operators.behavior.load_table",
        lambda s_, d_, n_: events,
    )
    rows = {r.stage: r for r in behavior.funnel_conversion(spark, "x").collect()}
    assert rows[1].n_users == 0
    assert all(rows[k].conv_from_first is None for k in (1, 2, 3, 4))


def test_local_clustering_known_graphs(spark):
    """K4 nodes are fully clustered (1.0); star hub and leaves are 0; a
    K4 node attached to a pendant leaf drops to 3/(4*3/2)=0.5."""
    import itertools

    pairs = sorted(itertools.combinations([1, 2, 3, 4], 2)) + [(4, 50)] + [
        (100, i) for i in range(101, 106)
    ]
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    rows = {r.doc_id: r for r in graph.local_clustering(edges).collect()}
    for n in (1, 2, 3):
        assert rows[n].clustering_coeff == 1.0 and rows[n].n_triangles == 3
    # node 4: degree 4 (K4 + pendant), still 3 triangles → 2*3/(4*3) = 0.5
    assert rows[4].degree == 4 and rows[4].clustering_coeff == 0.5
    assert rows[50].clustering_coeff == 0.0  # pendant, degree 1
    assert rows[100].clustering_coeff == 0.0 and rows[100].degree == 5  # hub


def test_k_core_known_graphs(spark):
    """K5 survives as its own 4-core; a chain has no 2-core; K4 with a
    pendant tail peels the tail then keeps exactly K4."""
    import itertools

    k5 = sorted(itertools.combinations(range(5), 2))
    chain = [(100 + i, 101 + i) for i in range(10)]
    k4_tail = sorted(itertools.combinations([20, 21, 22, 23], 2)) + [
        (23, 24), (24, 25)
    ]
    edges = spark.createDataFrame(
        k5 + chain + k4_tail, "doc_a long, doc_b long"
    )
    core3 = {r.id: r.core_degree for r in graph.k_core(edges, 3).collect()}
    assert set(core3) == set(range(5)) | {20, 21, 22, 23}
    assert all(core3[n] == 4 for n in range(5))      # K5 internal degree
    assert all(core3[n] == 3 for n in (20, 21, 22, 23))
    # chain nodes all peel at k=2 (endpoints cascade inward)
    core2_ids = {r.id for r in graph.k_core(edges, 2).collect()}
    assert not core2_ids & set(range(100, 111))


def test_k_core_paths_agree(spark):
    import itertools

    pairs = sorted(itertools.combinations(range(8), 2))[:20] + [
        (50 + i, 51 + i) for i in range(6)
    ]
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    fast = sorted(map(tuple, graph.k_core(edges, 3).collect()))
    dist = sorted(
        map(tuple, graph.k_core(edges, 3, small_graph_threshold=0).collect())
    )
    assert fast == dist


def test_k_core_empty_and_full(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert graph.k_core(empty, 2).count() == 0
    one = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    assert graph.k_core(one, 5).count() == 0  # everything peels


# ---------------------------------------------------------------------------
# Reliable-checkpoint option (round 8): same results both materialization
# paths, and the checkpoint dir actually receives data — mirrors
# test_connected_components_reliable_checkpoint.
# ---------------------------------------------------------------------------


def _ckdir_used(path):
    import os

    return os.path.isdir(path) and any(os.scandir(path))


def test_pagerank_reliable_checkpoint_matches_local(spark, reliable_checkpoints):
    """pagerank in reliable mode on the distributed path: identical ranks
    vs localCheckpoint, and the reliable dir is written."""
    pairs = [(i, (i * 7 + 3) % 40 + 100) for i in range(60)] + [
        (i, (i + 1) % 20) for i in range(20)
    ]
    edges = _sym(spark, pairs)
    local = {
        r.id: r.rank
        for r in graph.pagerank(edges, small_graph_threshold=0).collect()
    }
    ckdir = reliable_checkpoints()
    reliable = {
        r.id: r.rank
        for r in graph.pagerank(edges, small_graph_threshold=0).collect()
    }
    assert set(local) == set(reliable)
    assert all(abs(local[k] - reliable[k]) < 1e-12 for k in local)
    assert _ckdir_used(ckdir), "reliable checkpoint dir is empty"


def test_k_core_reliable_checkpoint_matches_local(spark, reliable_checkpoints):
    import itertools

    pairs = sorted(itertools.combinations(range(8), 2))[:20] + [
        (50 + i, 51 + i) for i in range(6)
    ]
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    local = sorted(
        map(tuple, graph.k_core(edges, 3, small_graph_threshold=0).collect())
    )
    ckdir = reliable_checkpoints()
    reliable = sorted(
        map(tuple, graph.k_core(edges, 3, small_graph_threshold=0).collect())
    )
    assert local == reliable and len(local) > 0
    assert _ckdir_used(ckdir), "reliable checkpoint dir is empty"


def test_local_clustering_reliable_checkpoint_matches_local(
    spark, reliable_checkpoints
):
    import itertools

    pairs = sorted(itertools.combinations([1, 2, 3, 4], 2)) + [(4, 5), (5, 6)]
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    local = sorted(map(tuple, graph.local_clustering(edges).collect()))
    ckdir = reliable_checkpoints()
    reliable = sorted(map(tuple, graph.local_clustering(edges).collect()))
    assert local == reliable and len(local) > 0
    assert _ckdir_used(ckdir), "reliable checkpoint dir is empty"


def test_label_propagation_reliable_checkpoint_matches_local(
    spark, reliable_checkpoints
):
    """8 rounds so the _PR_CKPT_EVERY cadence actually fires on both
    paths; two K4 cliques bridged by one edge keep two communities."""
    import itertools

    c1 = sorted(itertools.combinations([0, 1, 2, 3], 2))
    c2 = sorted(itertools.combinations([10, 11, 12, 13], 2))
    edges = spark.createDataFrame(
        c1 + c2 + [(3, 10)], "doc_a long, doc_b long"
    )
    local = sorted(
        map(tuple, graph.label_propagation(edges, rounds=8).collect())
    )
    ckdir = reliable_checkpoints()
    reliable = sorted(
        map(tuple, graph.label_propagation(edges, rounds=8).collect())
    )
    assert local == reliable and len(local) > 0
    assert _ckdir_used(ckdir), "reliable checkpoint dir is empty"


def test_bfs_hops_path_graph_exact_distances(spark):
    """Path 1-3-5-7 (odd ids, symmetrized): BFS from min node (1) gives
    dist 0,1,2,3; node 9 disconnected → absent."""
    from streamroom_bigdata_spark.operators.graph import bfs_hops

    edges = [(1, 3), (3, 5), (5, 7), (9, 11)]
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    )
    out = {r.id: r.dist for r in bfs_hops(sym).collect()}
    assert out == {1: 0, 3: 1, 5: 2, 7: 3}


def test_bfs_hops_min_distance_wins_on_cycles(spark):
    """Cycle 1-2-3-4-1: node 3 is reachable both ways; dist must be the
    MIN (2), not the path order of expansion."""
    from streamroom_bigdata_spark.operators.graph import bfs_hops

    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    )
    out = {r.id: r.dist for r in bfs_hops(sym).collect()}
    assert out == {1: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_hops_respects_round_budget(spark):
    """rounds=1 discovers only the seed's direct neighbors."""
    from streamroom_bigdata_spark.operators.graph import bfs_hops

    edges = [(1, 3), (3, 5)]
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    )
    out = {r.id: r.dist for r in bfs_hops(sym, rounds=1).collect()}
    assert out == {1: 0, 3: 1}


def test_modularity_two_disjoint_triangles(spark):
    """Two disjoint triangles labeled as two communities: m=6, each has
    3 internal edges and degree sum 6 → Q_c = 3/6 − (6/12)² = 0.25."""
    from streamroom_bigdata_spark.operators.graph import modularity_from_pairs

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12)],
        "doc_a long, doc_b long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)],
        "id long, lbl long",
    )
    rows = {r.community: r for r in modularity_from_pairs(pairs, labels).collect()}
    for c in (1, 10):
        assert rows[c].n_nodes == 3
        assert rows[c].internal_edges == 3
        assert rows[c].degree_sum == 6
        assert rows[c].q_contrib == 0.25
    # the partition's total modularity
    assert sum(r.q_contrib for r in rows.values()) == 0.5


def test_modularity_bad_partition_negative(spark):
    """Splitting one triangle across two communities yields a worse
    (lower) total Q than keeping it whole — the discriminating property
    a partition-quality metric must have."""
    from streamroom_bigdata_spark.operators.graph import modularity_from_pairs

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "doc_a long, doc_b long"
    )
    good = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, lbl long"
    )
    bad = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "id long, lbl long"
    )
    q_good = sum(
        r.q_contrib for r in modularity_from_pairs(pairs, good).collect()
    )
    q_bad = sum(
        r.q_contrib for r in modularity_from_pairs(pairs, bad).collect()
    )
    assert q_good > q_bad


# --- personalized PageRank ---------------------------------------------------


def test_ppr_paths_agree(spark):
    """Personalized variant through the numpy fast path and the Spark
    loop: identical ranks to well below the round-7 output precision.
    Node ids follow the even/odd encoding so the seed rule (even id,
    id//2 % 97 == 0) selects nodes 0 and 194."""
    pairs = [(0, 2 * i + 1) for i in range(1, 8)] + [
        (194, 2 * i + 1) for i in range(4, 12)
    ] + [(2 * i, 2 * i + 1) for i in range(1, 30)]
    edges = _sym(spark, pairs)
    fast = {r.id: r.rank for r in graph.personalized_pagerank(edges).collect()}
    dist = {
        r.id: r.rank
        for r in graph.personalized_pagerank(
            edges, small_graph_threshold=0
        ).collect()
    }
    assert set(fast) == set(dist)
    assert all(abs(fast[k] - dist[k]) < 1e-12 for k in fast)


def test_ppr_mass_conserved_and_seed_localized(spark):
    """Teleport restricted to seeds: total rank stays 1 (symmetrized graph,
    no dangling), and a node adjacent to the seed outranks an equal-degree
    node far from it."""
    # seed 0 — chain: 0 - 1 - 3 - 5 - 7 - 9 (odd ids keep even/odd encoding)
    pairs = [(0, 1), (1, 3), (3, 5), (5, 7), (7, 9)]
    edges = _sym(spark, pairs)
    ranks = {r.id: r.rank for r in graph.personalized_pagerank(edges).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks[1] > ranks[9]  # proximity to the seed dominates
    assert ranks[0] == max(ranks.values())  # the seed itself ranks first


def test_ppr_no_seeds_returns_empty(spark):
    """A graph whose nodes never satisfy the seed rule must return empty
    (not divide by zero) on both paths."""
    pairs = [(1, 3), (3, 5)]  # odd ids only — no seeds
    edges = _sym(spark, pairs)
    assert graph.personalized_pagerank(edges).count() == 0
    assert (
        graph.personalized_pagerank(edges, small_graph_threshold=0).count()
        == 0
    )


def test_ppr_driver_path_honors_custom_seed(spark):
    """The numpy fast path must evaluate the CALLER's seed predicate, not
    the default — a custom seed through both paths gives identical ranks
    (the silent fast-path/slow-path divergence regression)."""
    pairs = [(2 * i, 2 * i + 1) for i in range(1, 12)]
    edges = _sym(spark, pairs)
    seed = "id % 10 = 0"  # nodes 10, 20 — NOT the default id % 194 rule
    fast = {
        r.id: r.rank
        for r in graph.personalized_pagerank(edges, seed_sql=seed).collect()
    }
    dist = {
        r.id: r.rank
        for r in graph.personalized_pagerank(
            edges, seed_sql=seed, small_graph_threshold=0
        ).collect()
    }
    assert set(fast) == set(dist)
    assert all(abs(fast[k] - dist[k]) < 1e-12 for k in fast)
    # and the custom seeds actually carry the teleport mass
    assert fast[10] > 0 and fast[20] > 0


def test_k_core_peel_matches_fixpoint_on_fixture(spark, sf_dir):
    """The registered fixed-round peel converges within its unroll depth
    on the fixture graph, so its output IS the true k-core (the docstring
    contract)."""
    pairs = graph.simhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    peel = sorted(
        (r.doc_id, r.core_degree)
        for r in graph.k_core_peel(spark, sf_dir).collect()
    )
    fix = sorted(
        (r.id, r.core_degree)
        for r in graph.k_core(pairs, graph.KCORE_PEEL_K).collect()
    )
    assert peel == fix


def test_k_core_peel_known_graph(spark, monkeypatch):
    """K4 + pendant tail at k=3: one round peels the tail, K4 survives."""
    import itertools

    k4_tail = sorted(itertools.combinations([0, 1, 2, 3], 2)) + [
        (3, 4), (4, 5)
    ]
    edges = spark.createDataFrame(k4_tail, "doc_a long, doc_b long")
    monkeypatch.setattr(
        "streamroom_bigdata_spark.operators.graph.simhash_near_dup",
        lambda spark_, sf_: edges,
    )
    out = {
        r.doc_id: r.core_degree
        for r in graph.k_core_peel(spark, "ignored").collect()
    }
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def _tarjan_sccs(edges):
    """Pure-Python iterative Tarjan — the reference the distributed
    FW-BW coloring is checked against on planted graphs."""
    from collections import defaultdict

    adj = defaultdict(list)
    nodes = set()
    for s, d in edges:
        adj[s].append(d)
        nodes.update((s, d))
    index, low, on_stack = {}, {}, set()
    stack, sccs, counter = [], [], [0]
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, iter(adj[root]))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj[w])))
                    advanced = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(frozenset(comp))
    return sccs


def test_scc_labels_match_tarjan_on_planted_graph(spark):
    """FW-BW min-label coloring vs Tarjan on a planted directed graph
    whose components all lie within SCC_ITERS hops of their min member:
    a 3-cycle, a 2-cycle, a one-way chain into the 3-cycle, and an
    isolated self-contained 4-cycle — every node classified, labels
    exactly the per-SCC minima."""
    edges = [
        (1, 2), (2, 3), (3, 1),        # 3-cycle {1,2,3}
        (10, 11), (11, 10),            # 2-cycle {10,11}
        (20, 21), (21, 1),             # chain → cycle (20, 21 singletons)
        (30, 31), (31, 32), (32, 33), (33, 30),  # 4-cycle {30..33}
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    lab = {r.id: (r.fwd, r.bwd) for r in graph.scc_labels(df).collect()}
    want = {fs: min(fs) for fs in _tarjan_sccs(edges)}
    for comp, m in want.items():
        for v in comp:
            if len(comp) >= 2:
                # classified: fwd == bwd == component min
                assert lab[v][0] == lab[v][1] == m, (v, lab[v])
    # mutually-classified grouping equals Tarjan's nontrivial partition
    got_groups = {}
    for v, (f, b) in lab.items():
        if f == b:
            got_groups.setdefault(f, set()).add(v)
    nontrivial_got = {frozenset(g) for g in got_groups.values() if len(g) >= 2}
    nontrivial_want = {fs for fs in want if len(fs) >= 2}
    assert nontrivial_got == nontrivial_want


def test_scc_chain_nodes_stay_unclassified_only_if_beyond_k(spark):
    """A pure one-way chain has only singleton SCCs: with the chain
    shorter than SCC_ITERS every node classifies as its own singleton
    (fwd == bwd == own id ⟺ no smaller id both reaches and is reached)."""
    edges = [(i, i + 1) for i in range(1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    lab = {r.id: (r.fwd, r.bwd) for r in graph.scc_labels(df).collect()}
    # fwd(v) = 1 for all (1 reaches everything); bwd(v) = v (v reaches
    # nothing smaller) — so only node 1 has fwd == bwd, and every
    # classified group is a singleton
    assert lab[1] == (1, 1)
    for v in range(2, 6):
        assert lab[v][0] == 1 and lab[v][1] == v

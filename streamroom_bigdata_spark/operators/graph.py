"""Graph analytics (round-7; SURVEY.md §2.15): PageRank over the
customer–supplier transaction graph.

The second iterative-algorithm operator next to
:func:`..operators.dedup.connected_components` — same scale shape: a
fixed number of rounds, each ONE shuffle keyed on the destination node,
lineage truncated so plans don't grow with iterations, and the driver sees
only loop control. Expressible exactly in SQL by unrolling the K
iterations, so the DuckDB oracle stays a first-class value check.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.localdf import local_df
from ..functions.reliability import materialize
from ..registry import register
from ..sources import load_table
from .dedup import simhash_near_dup, simhash_near_dup_oracle

PR_ITERS = 8
PR_DAMPING = 0.85
# lineage truncation cadence: checkpoint every N rounds (each round adds a
# join+agg to the plan; unbounded growth re-plans the whole chain per round)
_PR_CKPT_EVERY = 4


def _edges_sql() -> str:
    """Symmetrized bipartite edges: customer 2k ↔ supplier 2k+1 (disjoint
    id spaces via even/odd encoding — custkey and suppkey overlap)."""
    return """
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  UNION
  SELECT DISTINCT l_suppkey * 2 + 1, o_custkey * 2
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
"""


def _pagerank_oracle() -> str:
    # Recursive CTEs forbid aggregation in the recursive member, so the K
    # fixed iterations are UNROLLED — r1..rK are mechanically generated
    # aggregate-join CTEs, each exactly one Spark round's math.
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(
            f"""r{k} AS MATERIALIZED (
  SELECT e.dst AS id,
         (SELECT (1 - {PR_DAMPING}) / n FROM nn)
           + {PR_DAMPING} * sum(r.rank / d.deg) AS rank
  FROM edges e
  JOIN r{k - 1} r ON e.src = r.id
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)"""
        )
    return f"""
WITH edges AS MATERIALIZED ({_edges_sql()}),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT id, (SELECT 1.0 / n FROM nn) AS rank FROM nodes),
{', '.join(iters)}
SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       id // 2 AS node_key,
       round(rank, 5) AS pagerank
FROM r{PR_ITERS}
"""


# Below this many (symmetrized) edges the graph is collected and power-
# iterated with numpy on the driver — same rationale as
# connected_components' union-find fast path, with a higher bound because
# the driver work is a VECTORIZED matvec, not a Python loop: 2M (long,
# long) rows ≈ 32 MB collect + ~50 MB numpy working set, milliseconds per
# iteration. The distributed loop costs ~0.6 s of job overhead PER ROUND
# regardless of data size (plus ~1.5 s/round codegen when cold). The sf≈1
# transaction graph (≈9M edges) still exercises the distributed path.
# Set to 0 to force distributed.
_PR_DRIVER_MAX_EDGES = 2_000_000


def pagerank(
    edges_sym: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    small_graph_threshold: int = _PR_DRIVER_MAX_EDGES,
    mirror: bool = False,
) -> DataFrame:
    """(id, rank) after ``iters`` power iterations over a SYMMETRIZED
    (src, dst) edge frame (no dangling-mass correction needed — every node
    is a source). Distributed shape: the edge⋈degree frame is materialized
    once and reused; each round is ONE dst-keyed shuffle (contribution sum
    with map-side partials); lineage truncated every ``_PR_CKPT_EVERY``
    rounds so Catalyst never re-plans a growing join chain. Graphs at or
    under ``small_graph_threshold`` edges are collected and solved with a
    numpy matvec on the driver — identical ranks (to float noise far below
    the round-5 output), none of the per-round overhead.

    ``mirror=True``: ``edges_sym`` carries only ONE orientation of each
    undirected edge and the graph is its symmetrization. Both engine paths
    derive the mirrored half from the materialized forward half (a numpy
    concat on the driver path; a union over the checkpointed leaf on the
    distributed path) — half the checkpoint bytes and half the driver
    transfer for the same edge multiset (round-15: the transaction graph
    moved 1.17 M symmetrized edges through localCheckpoint + toPandas when
    587 k forward pairs carry the same information)."""
    edges = materialize(edges_sym)  # materialize once
    n_edges = edges.count() * (2 if mirror else 1)
    if n_edges == 0:
        # empty graph → empty labeling (1.0/n would divide by zero)
        spark = edges.sparkSession
        return local_df(spark, [], "id long, rank double")
    if n_edges <= small_graph_threshold:
        return _driver_pagerank(edges, iters, damping, mirror)
    if mirror:
        # both orientations off the checkpointed leaf — no recompute
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = edges.select(F.col("src").alias("id")).distinct()
    n = nodes.count()  # scalar loop constant (node count, not data)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n

    contrib_src = edges.join(deg, "src")  # (src, dst, deg) — loop-invariant
    for k in range(1, iters + 1):
        ranks = (
            contrib_src.join(ranks, contrib_src.src == ranks.id)
            .groupBy("dst")
            .agg(
                (F.lit(base) + damping * F.sum(F.col("rank") / F.col("deg"))).alias(
                    "rank"
                )
            )
            .select(F.col("dst").alias("id"), "rank")
        )
        if k % _PR_CKPT_EVERY == 0 and k < iters:
            ranks = materialize(ranks)
    return ranks


def _driver_pagerank(
    edges: DataFrame, iters: int, damping: float, mirror: bool = False
) -> DataFrame:
    """Small-graph fast path: numpy power iteration on the collected edge
    table (bounded by construction). Ranks match the distributed loop to
    accumulation-order float noise (~1e-15), far below the query's round-5
    output precision."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # Arrow transfer, not collect(): py4j Row materialization runs ~100k
    # rows/s (measured ~9 s for a 900k-edge graph — slower than the
    # distributed loop it replaces); toPandas moves the same bounded
    # table as columnar Arrow batches in well under a second.
    pdf = edges.toPandas()
    src = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
    dst = pdf.iloc[:, 1].to_numpy(dtype=np.int64)
    if mirror:  # mirror locally: both orientations of the forward half
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    ids = np.unique(np.concatenate([src, dst]))
    si = np.searchsorted(ids, src)
    di = np.searchsorted(ids, dst)
    n = len(ids)
    deg = np.bincount(si, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(iters):
        contrib = rank[si] / deg[si]
        rank = base + damping * np.bincount(di, weights=contrib, minlength=n)

    spark = edges.sparkSession
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("rank", T.DoubleType(), False),
        ]
    )
    # Arrow upload, not a Python row list (the personalized-pagerank
    # spelling below): the pickled list paid one Python-worker round trip
    # per slice on every evaluation of the result relation
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "rank": rank}), schema
    )


def _transaction_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE orientation of each customer↔supplier edge (even/odd id
    encoding) — the distinct co-transaction pair list. PageRank/PPR take
    this directly with ``mirror=True`` (half the materialized bytes and
    half the driver transfer for the same symmetrized graph)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )


def _transaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized customer↔supplier edges (even/odd id encoding) — the
    single definition behind degree_distribution, assortativity, BFS and
    the k-core family (SQL twin: :func:`_edges_sql`)."""
    # symmetrize by EXPLODING both orientations off the one distinct pair
    # row instead of union-ing the subtree with its own mirror: the union
    # spelling planned (and ran) the orders⋈lineitem join + distinct TWICE
    # per consumer — Spark shares no common subexpressions (guide §2.4;
    # round-15 profile: pagerank's edge materialization was 2× the work).
    # Same multiset of rows: forward and mirrored edges cannot collide
    # (even/odd endpoint encoding), exactly as the UNION of disjoint sets.
    both = F.array(
        F.struct(F.col("src"), F.col("dst")),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    return (
        _transaction_pairs(spark, sf_dir)
        .select(F.explode(both).alias("e"))
        .select("e.src", "e.dst")
    )


@register("pagerank_transactions", _pagerank_oracle())
def pagerank_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 8 iterations) over the symmetrized
    customer↔supplier graph from order lineitems — see :func:`pagerank`
    for the iteration plan and the bounded-graph driver fast path. The
    oracle unrolls the same K rounds as chained SQL aggregates — exact
    value check, not rows-only."""
    return pagerank(_transaction_pairs(spark, sf_dir), mirror=True).select(
        F.when(F.col("id") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("id div 2").alias("node_key"),
        F.round("rank", 5).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (seeded teleport — recommendation scoring)
# ---------------------------------------------------------------------------

#: deterministic seed predicate over the even/odd-encoded node ids: every
#: 97th customer. Even AND custkey%97==0 ⟺ id%194==0 (nonnegative ids) —
#: spelled that way because it parses identically in Spark SQL and DuckDB
#: (`//` is DuckDB-only, `div` is Spark-only)
_PPR_SEED_SQL = "id % 194 = 0"


def _ppr_oracle() -> str:
    """Unrolled K-round personalized power iteration (the
    `_pagerank_oracle` pattern with the teleport mass restricted to the
    seed set): rank_k(v) = (1−d)·seed(v)/|S| + d·Σ_in rank_{k−1}/deg."""
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(
            f"""r{k} AS (
  SELECT t.id,
         t.base + {PR_DAMPING} * coalesce(c.contrib, 0) AS rank
  FROM base t LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.deg) AS contrib
    FROM edges e
    JOIN r{k - 1} r ON e.src = r.id
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) c ON t.id = c.id
)"""
        )
    return f"""
WITH edges AS MATERIALIZED ({_edges_sql()}),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
sc AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM nodes
       WHERE {_PPR_SEED_SQL}),
base AS (
  SELECT id,
         CASE WHEN {_PPR_SEED_SQL}
              THEN (1 - {PR_DAMPING}) / (SELECT nullif(s, 0) FROM sc)
              ELSE 0.0 END AS base,
         CASE WHEN {_PPR_SEED_SQL}
              THEN 1.0 / (SELECT nullif(s, 0) FROM sc)
              ELSE 0.0 END AS r_init
  FROM nodes
),
r0 AS (SELECT id, r_init AS rank FROM base),
{', '.join(iters)}
SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       id // 2 AS node_key,
       round(rank, 7) AS ppr
FROM r{PR_ITERS}
WHERE (SELECT s FROM sc) > 0 AND rank IS NOT NULL
"""


def personalized_pagerank(
    edges_sym: DataFrame,
    seed_sql: str = _PPR_SEED_SQL,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    small_graph_threshold: int = _PR_DRIVER_MAX_EDGES,
    mirror: bool = False,
) -> DataFrame:
    """(id, rank) after ``iters`` rounds of PERSONALIZED power iteration:
    teleport mass lands only on the seed set (``seed_sql`` over the node
    id), so rank measures proximity to the seeds — the recommendation
    scorer ("suppliers relevant to THESE customers"), not global
    importance.

    Same scale shape as :func:`pagerank`: the edge⋈degree frame is
    loop-invariant; each round is ONE dst-keyed contribution shuffle plus
    an id-keyed join against the loop-invariant (id, base) frame — the
    seed set is data-sized (a customer subset), so it is NEVER collected
    or broadcast-hinted; lineage truncated every ``_PR_CKPT_EVERY``
    rounds. Bounded graphs take the numpy driver path (identical ranks to
    float noise far below the round-7 output)."""
    edges = materialize(edges_sym)
    n_edges = edges.count() * (2 if mirror else 1)
    if n_edges == 0:
        spark = edges.sparkSession
        return local_df(spark, [], "id long, rank double")
    if n_edges <= small_graph_threshold:
        return _driver_ppr(edges, seed_sql, iters, damping, mirror)
    if mirror:
        # both orientations off the checkpointed leaf — no recompute
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = edges.select(F.col("src").alias("id")).distinct()
    s_count = nodes.filter(F.expr(seed_sql)).count()  # scalar loop constant
    if s_count == 0:
        spark = edges.sparkSession
        return local_df(spark, [], "id long, rank double")
    seed = F.expr(seed_sql)
    base = nodes.select(
        "id",
        F.when(seed, F.lit((1.0 - damping) / s_count))
        .otherwise(F.lit(0.0))
        .alias("base"),
    )
    base = materialize(base)  # loop-invariant (id, base)
    ranks = base.select(
        "id",
        F.when(seed, F.lit(1.0 / s_count)).otherwise(F.lit(0.0)).alias("rank"),
    )
    contrib_src = edges.join(deg, "src")
    for k in range(1, iters + 1):
        contribs = (
            contrib_src.join(ranks, contrib_src.src == ranks.id)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            .select(F.col("dst").alias("id"), "contrib")
        )
        ranks = base.join(contribs, "id", "left").select(
            "id",
            (
                F.col("base")
                + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
        )
        if k % _PR_CKPT_EVERY == 0 and k < iters:
            ranks = materialize(ranks)
    return ranks


def _driver_ppr(
    edges: DataFrame,
    seed_sql: str,
    iters: int,
    damping: float,
    mirror: bool = False,
) -> DataFrame:
    """Small-graph fast path: numpy personalized power iteration on the
    Arrow-collected edge table (the `_driver_pagerank` pattern).

    The seed mask is built by evaluating ``seed_sql`` ITSELF (one Arrow
    round-trip over the bounded id table) — a hand-written numpy replica
    of the default predicate would silently compute the wrong seed set
    whenever a caller passes a custom ``seed_sql`` (fast-path/slow-path
    divergence with no error)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    pdf = edges.toPandas()
    src = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
    dst = pdf.iloc[:, 1].to_numpy(dtype=np.int64)
    if mirror:  # mirror locally: both orientations of the forward half
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    ids = np.unique(np.concatenate([src, dst]))
    si = np.searchsorted(ids, src)
    di = np.searchsorted(ids, dst)
    n = len(ids)
    deg = np.bincount(si, minlength=n).astype(np.float64)
    spark = edges.sparkSession
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("rank", T.DoubleType(), False),
        ]
    )
    seed_ids = (
        spark.createDataFrame(pd.DataFrame({"id": ids}))
        .filter(F.expr(seed_sql))
        .toPandas()["id"]
        .to_numpy(dtype=np.int64)
    )
    mask = np.isin(ids, seed_ids)
    s = float(mask.sum())
    if s == 0:
        return local_df(spark, [], schema)
    base = (1.0 - damping) / s * mask
    rank = mask / s
    for _ in range(iters):
        contrib = rank[si] / deg[si]
        rank = base + damping * np.bincount(di, weights=contrib, minlength=n)
    # Arrow upload, not a Python row list (the _driver_union_find lesson:
    # measured 3.2 s row-object vs 0.44 s Arrow for a 250k-row upload)
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "rank": rank}), schema
    )


@register("personalized_pagerank", _ppr_oracle())
def personalized_pagerank_transactions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized PageRank over the customer↔supplier transaction graph,
    seeded at every 97th customer — "which suppliers (and fellow
    customers) are closest to THIS customer segment", the graph-proximity
    recommendation scorer next to the content-based flagship
    (`processing.scala:71-149` scores rooms by usage statistics; this
    scores by transaction-graph distance). Oracle unrolls the same
    {PR_ITERS} seeded rounds — exact value check at round-7 (PPR
    concentrates near the seeds; noise between engines and between the
    driver/distributed paths sits orders below)."""
    return personalized_pagerank(
        _transaction_pairs(spark, sf_dir), mirror=True
    ).select(
        F.when(F.col("id") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("id div 2").alias("node_key"),
        F.round("rank", 7).alias("ppr"),
    )


# ---------------------------------------------------------------------------
# Triangle counting + degree distribution
# ---------------------------------------------------------------------------

# Triangle counting needs a SPARSE graph to be a meaningful demo: the
# order-co-occurrence graphs of the fixtures are near-complete (every
# supplier pair shares an order even at sf0.1 — measured 453k of 499k
# possible pairs), and on a near-complete graph any algorithm's cost is
# bounded below by the Θ(n³) triangle count itself. The simhash near-dup
# graph is the natural sparse graph in this domain: triangles = groups of
# three mutually-similar documents (the clique core a dedup pipeline keeps
# one representative of).
triangle_oracle = f"""
WITH e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({simhash_near_dup_oracle})
)
SELECT count(*) AS n_triangles
FROM e ab JOIN e bc ON ab.doc_b = bc.doc_a
          JOIN e ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
"""


# Two-hop join size bound before triangle_count refuses to run: wedges
# (Σ out-degree²) on the DEGREE-ORIENTED graph. Enumeration-based triangle
# counting is bounded below by the triangle count itself — on a graph of
# large quasi-cliques no algorithm escapes that. Measured: the sf≈1
# synthetic corpus yields a 9.5M-edge near-dup graph of quasi-cliques whose
# unguarded two-hop join OOM'd the 128 GiB JVM; with this guard the query
# refuses with the measured wedge count instead of killing the session.
_TRIANGLE_MAX_WEDGES = 200_000_000


def _triangles(pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(triangle frame (ta, tb, tc), symmetric degree frame (u, deg)) over
    canonical (doc_a < doc_b) pairs. DEGREE-ORIENTED two-hop join — every
    edge is re-oriented from its lower-(degree, id) endpoint to the higher
    one, so a hub's neighbor list is never self-joined in full: the wedge
    count drops from Σ deg² to Σ outdeg², bounded by m·√m on any graph
    (the classic m^1.5 algorithm). Orientation changes the PLAN, not the
    triangles. Refuses (loud RuntimeError) when the measured wedge count
    exceeds ``_TRIANGLE_MAX_WEDGES`` — on quasi-clique graphs the output
    itself is Θ(n³) and no enumeration can be cheaper. The edge and
    oriented-edge tables are materialized: three downstream joins read
    each."""
    e = materialize(pairs.toDF("u", "v"))
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    # orient: src = endpoint with smaller (deg, id); ties broken by id
    du = deg.select(F.col("u").alias("_u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("u").alias("_v"), F.col("deg").alias("deg_v"))
    oriented = (
        e.join(du, e.u == du._u)
        .join(dv, e.v == dv._v)
        .select(
            F.when(
                (F.col("deg_u") < F.col("deg_v"))
                | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst"))
            )
            .alias("o")
        )
        .select("o.src", "o.dst")
    )
    oriented = materialize(oriented)
    outdeg = oriented.groupBy("src").agg(F.count("*").alias("od"))
    wedges = outdeg.agg(F.sum(F.col("od") * F.col("od"))).collect()[0][0] or 0
    if wedges > _TRIANGLE_MAX_WEDGES:
        raise RuntimeError(
            f"triangle_count: {wedges:,} wedges on the oriented graph exceed "
            f"the {_TRIANGLE_MAX_WEDGES:,} budget — the graph is quasi-clique "
            "dense and exact enumeration would be output-bound; raise "
            "_TRIANGLE_MAX_WEDGES deliberately or sparsify the edge set"
        )
    ab, bc, ac = oriented.alias("ab"), oriented.alias("bc"), oriented.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.dst") == F.col("bc.src"))
        .join(
            ac,
            (F.col("ac.src") == F.col("ab.src"))
            & (F.col("ac.dst") == F.col("bc.dst")),
        )
        .select(
            F.col("ab.src").alias("ta"),
            F.col("ab.dst").alias("tb"),
            F.col("bc.dst").alias("tc"),
        )
    )
    return tri, deg


def count_triangles(pairs: DataFrame) -> DataFrame:
    """Exact triangle count (1 row, ``n_triangles``) — see
    :func:`_triangles` for the oriented plan and the wedge guard."""
    tri, _ = _triangles(pairs)
    return tri.agg(F.count("*").alias("n_triangles"))


@register("triangle_count", triangle_oracle)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the simhash near-dup graph (mutually-similar
    document triples) — see :func:`_triangles` for the
    degree-oriented plan and the wedge-budget guard."""
    return count_triangles(
        simhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    )


clustering_oracle = f"""
WITH e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({simhash_near_dup_oracle})
), sym AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM e
  UNION ALL SELECT doc_b, doc_a FROM e
), deg AS (
  SELECT u, count(*) AS degree FROM sym GROUP BY u
), tri AS (
  SELECT ab.doc_a AS ta, ab.doc_b AS tb, bc.doc_b AS tc
  FROM e ab JOIN e bc ON ab.doc_b = bc.doc_a
            JOIN e ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
), corner AS (
  SELECT ta AS u FROM tri UNION ALL SELECT tb FROM tri
  UNION ALL SELECT tc FROM tri
), tcount AS (
  SELECT u, count(*) AS n_tri FROM corner GROUP BY u
)
SELECT d.u AS doc_id,
       CAST(d.degree AS INT) AS degree,
       CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree < 2 THEN CAST(0.0 AS DOUBLE)
            ELSE round(2.0 * coalesce(t.n_tri, 0)
                       / (d.degree * (d.degree - 1)), 6) END
         AS clustering_coeff
FROM deg d LEFT JOIN tcount t ON d.u = t.u
"""


@register("clustering_coefficient", clustering_oracle)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per document over the simhash near-dup
    graph: 2·T(v) / (deg(v)·(deg(v)−1)) — how clique-like each node's
    neighborhood is (≈1 inside a duplicate cluster's core, ≈0 for chance
    band collisions). Per-node triangle counts come from crediting all
    three corners of the ORIENTED triangle enumeration (same wedge-guarded
    plan as triangle_count); degrees from the symmetrized edge table; the
    division is exact-integer inputs → identical doubles in both engines."""
    return local_clustering(
        simhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    )


def local_clustering(pairs: DataFrame) -> DataFrame:
    """(doc_id, degree, n_triangles, clustering_coeff) over canonical
    pairs — the composable core behind :func:`clustering_coefficient`."""
    tri, deg = _triangles(pairs)
    # ONE enumeration pass: a 3-way union of projections would re-execute
    # the wedge join per branch (ReuseExchange shares shuffle data, not
    # join compute) — explode emits all three corners from a single run
    corner = tri.select(
        F.explode(F.array("ta", "tb", "tc")).alias("u")
    )
    tcount = corner.groupBy("u").agg(F.count("*").alias("n_tri"))
    return (
        deg.join(tcount, "u", "left")
        .select(
            F.col("u").alias("doc_id"),
            F.col("deg").cast("int").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(F.col("deg") < 2, F.lit(0.0))
            .otherwise(
                F.round(
                    2.0
                    * F.coalesce("n_tri", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                )
            )
            .alias("clustering_coeff"),
        )
    )


degree_dist_oracle = f"""
WITH edges AS ({_edges_sql()}),
deg AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY src)
SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       degree, count(*) AS n_nodes
FROM deg GROUP BY 1, 2
"""


@register("degree_distribution", degree_dist_oracle)
def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the customer↔supplier transaction graph, split
    by node type — the first diagnostic run on any large graph (hub
    detection drives the salting / orientation decisions above). Two
    aggregations, the second bounded by the distinct-degree count."""
    edges = _transaction_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    return deg.groupBy(
        F.when(F.col("src") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        "degree",
    ).agg(F.count("*").alias("n_nodes"))


# ---------------------------------------------------------------------------
# k-core decomposition (round-7): iterative peel
# ---------------------------------------------------------------------------

_KCORE_DRIVER_MAX_EDGES = 2_000_000  # same Arrow-collect bound as pagerank


def k_core(
    pairs: DataFrame,
    k: int,
    max_rounds: int = 100,
    small_graph_threshold: int = _KCORE_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Nodes of the k-core (maximal subgraph where every node has degree
    ≥ k) as (id, core_degree), over canonical (a < b) pairs. Iterative
    PEEL: drop all nodes below degree k, recompute, repeat to fixpoint —
    the third iterative-algorithm shape next to connected_components and
    pagerank, with the same contract: per-round lineage truncation, one
    degree aggregation + two anti-joins per round, rounds bounded by the
    peel depth (≤ nodes, raises past ``max_rounds``). Bounded graphs take
    an Arrow-fed driver peel (vectorized numpy degree counting).

    No SQL oracle: the peel runs a DATA-DEPENDENT number of rounds, which
    recursive SQL cannot express with aggregation — covered by known-graph
    and path-equivalence tests instead (tests/test_graph.py)."""
    spark = pairs.sparkSession
    edges = materialize(
        pairs.toDF("u", "v").unionByName(
            pairs.toDF("u", "v").select(
                F.col("v").alias("u"), F.col("u").alias("v")
            )
        )
    )
    n_edges = edges.count()
    if n_edges == 0:
        return local_df(spark, [], "id long, core_degree long")
    if n_edges <= small_graph_threshold:
        return _driver_k_core(edges, k)

    for _ in range(max_rounds):
        deg = edges.groupBy("u").agg(F.count("*").alias("d"))
        bad = deg.filter(F.col("d") < k).select("u")
        if bad.isEmpty():
            return deg.select(
                F.col("u").alias("id"), F.col("d").alias("core_degree")
            )
        edges = materialize(
            edges.join(bad, "u", "left_anti")
            .join(bad.select(F.col("u").alias("v")), "v", "left_anti")
        )
        if edges.isEmpty():
            return local_df(spark, [], "id long, core_degree long")
    raise RuntimeError(
        f"k_core: peel did not converge within {max_rounds} rounds"
    )


def _driver_k_core(edges: DataFrame, k: int) -> DataFrame:
    """Bounded-graph peel on the driver: Arrow transfer + numpy degree
    recount per round (each round strictly removes nodes, so rounds are
    bounded by the peel depth; work per round is one boolean mask)."""
    import numpy as np
    from pyspark.sql import types as T

    pdf = edges.toPandas()
    u = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
    v = pdf.iloc[:, 1].to_numpy(dtype=np.int64)
    ids = np.unique(u)
    ui = np.searchsorted(ids, u)
    vi = np.searchsorted(ids, v)
    alive_edge = np.ones(len(u), dtype=bool)
    while True:
        deg = np.bincount(ui[alive_edge], minlength=len(ids))
        bad = (deg < k) & (deg > 0)
        if not bad.any():
            break
        alive_edge &= ~(bad[ui] | bad[vi])
    spark = edges.sparkSession
    deg = np.bincount(ui[alive_edge], minlength=len(ids))
    survivors = [
        (int(ids[i]), int(deg[i])) for i in np.nonzero(deg >= k)[0]
    ]
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("core_degree", T.LongType(), False),
        ]
    )
    return local_df(spark, survivors, schema)


# ---------------------------------------------------------------------------
# Fixed-round k-core peel (the oracle-checkable face of k_core)
# ---------------------------------------------------------------------------

#: degree threshold for the registered peel query
KCORE_PEEL_K = 3
#: synchronous peel rounds — FIXED on both engines (the LPA discipline:
#: a fixpoint loop is not SQL-expressible, a fixed unroll is)
KCORE_PEEL_ROUNDS = 4


def _kcore_peel_oracle() -> str:
    """Unrolled peel: round i drops every node whose degree in the round-i
    edge set is below k, synchronously — exactly the Spark loop."""
    parts = [
        f"""
WITH e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({simhash_near_dup_oracle})
), s0 AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM e
  UNION ALL SELECT doc_b, doc_a FROM e
)"""
    ]
    for i in range(KCORE_PEEL_ROUNDS):
        parts.append(
            f""", g{i} AS MATERIALIZED (
  SELECT u FROM s{i} GROUP BY u HAVING count(*) < {KCORE_PEEL_K}
), s{i + 1} AS MATERIALIZED (
  SELECT s.u, s.v FROM s{i} s
  WHERE s.u NOT IN (SELECT u FROM g{i})
    AND s.v NOT IN (SELECT u FROM g{i})
)"""
        )
    parts.append(
        f"""
SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
FROM s{KCORE_PEEL_ROUNDS} GROUP BY u"""
    )
    return "".join(parts)


@register("k_core_peel", _kcore_peel_oracle())
def k_core_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving degrees after KCORE_PEEL_ROUNDS synchronous k-core peel
    rounds (k=KCORE_PEEL_K) over the simhash near-dup graph — the
    oracle-checkable face of :func:`k_core`, which runs the same peel to
    its data-dependent fixpoint (not SQL-expressible; LPA's fixed-round
    discipline applied to the fifth iterative graph shape). When the peel
    converges within the fixed rounds — it does on every test fixture,
    asserted in tests/test_graph.py — the output IS the true k-core.

    Determinism: pure integer degree counting; each round drops all
    below-threshold nodes simultaneously on both engines.

    Scale shape: per round, one node-keyed degree count with map-side
    combine plus two anti-joins against the below-threshold node set —
    the connected-components shuffle budget; the peeled edge set only
    shrinks. The early-exit when a round peels nothing is semantically
    free (peeling is idempotent past convergence)."""
    pairs = simhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    # materialize the symmetrized edge set ONCE: each round's isEmpty()
    # action and the final degree count would otherwise re-execute the
    # whole near-dup pipeline (banding + Hamming verify) per round — the
    # per-round truncation discipline of k_core
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .transform(materialize)
    )
    for _ in range(KCORE_PEEL_ROUNDS):
        deg = edges.groupBy("u").agg(F.count("*").alias("d"))
        bad = deg.filter(F.col("d") < KCORE_PEEL_K).select("u")
        if bad.isEmpty():
            break
        edges = (
            edges.join(bad, "u", "left_anti")
            .join(bad.select(F.col("u").alias("v")), "v", "left_anti")
            .transform(materialize)
        )
    return edges.groupBy("u").agg(F.count("*").alias("core_degree")).select(
        F.col("u").alias("doc_id"), "core_degree"
    )


# ---------------------------------------------------------------------------
# Label propagation communities (synchronous, fixed rounds)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3


def _lpa_cte_chain() -> str:
    """WITH-chain from the simhash near-dup edges through ``LPA_ROUNDS``
    synchronous label-propagation rounds (final labeling:
    ``l{LPA_ROUNDS}``) — shared by the LPA and modularity oracles."""
    parts = [
        f"""
WITH e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({simhash_near_dup_oracle})
), sym AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM e
  UNION ALL SELECT doc_b, doc_a FROM e
), l0 AS MATERIALIZED (
  SELECT DISTINCT u AS id, u AS lbl FROM sym
)"""
    ]
    for i in range(LPA_ROUNDS):
        parts.append(
            f""", t{i} AS MATERIALIZED (
  SELECT s.u, l.lbl, count(*) AS c
  FROM sym s JOIN l{i} l ON l.id = s.v
  GROUP BY s.u, l.lbl
), l{i + 1} AS MATERIALIZED (
  SELECT u AS id, lbl FROM (
    SELECT u, lbl,
           row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
    FROM t{i}
  ) WHERE rn = 1
)"""
        )
    return "".join(parts)


def _lpa_oracle() -> str:
    return (
        _lpa_cte_chain()
        + f"""
SELECT id AS doc_id, CAST(lbl AS BIGINT) AS community,
       CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
FROM l{LPA_ROUNDS}"""
    )


@register("label_propagation_communities", _lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) over the simhash near-dup graph — the fourth iterative
    graph shape next to pagerank, k-core, and connected components.
    Unlike connected components (which merges everything reachable), LPA
    splits a component along its dense regions: each round every node
    adopts the most frequent label among its neighbors.

    Determinism (the reason this float-free algorithm hash-matches an
    unrolled oracle exactly): synchronous rounds (all nodes update from
    the SAME previous labeling — no order-dependent async drift), fixed
    LPA_ROUNDS, and argmax ties broken by (count DESC, label ASC)
    row_number on both engines.

    Scale: each round is one edge-sized join against the (node, label)
    relation plus a (node, label)-keyed count — label propagation is
    exactly the shuffle pattern of one pagerank round; past
    ``_PR_CKPT_EVERY`` rounds the loop truncates lineage like pagerank
    does (at the registered 3 rounds the plan stays shallow and no
    checkpoint fires)."""
    pairs = simhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    wsz = Window.partitionBy("lbl")
    return label_propagation(pairs).select(
        F.col("id").alias("doc_id"),
        F.col("lbl").cast("bigint").alias("community"),
        F.count("*").over(wsz).cast("bigint").alias("community_size"),
    )


def label_propagation(
    pairs: DataFrame,
    rounds: int = LPA_ROUNDS,
) -> DataFrame:
    """(id, lbl) after ``rounds`` synchronous label-propagation rounds
    over canonical pairs — the composable core behind
    :func:`label_propagation_communities`. Lineage is truncated every
    ``_PR_CKPT_EVERY`` rounds (same cadence as pagerank; a no-op at the
    default 3 rounds, so the registered query's plan and hash are
    unchanged)."""
    sym = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    labels = sym.select(F.col("u").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    for k in range(1, rounds + 1):
        tallies = (
            sym.join(labels, sym.v == labels.id)
            .groupBy("u", "lbl")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("u").orderBy(F.col("c").desc(), "lbl")
        labels = (
            tallies.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("id"), "lbl")
        )
        if k % _PR_CKPT_EVERY == 0 and k < rounds:
            labels = materialize(labels)
    return labels


# ---------------------------------------------------------------------------
# BFS hop-distance distribution (unweighted shortest paths from a seed)
# ---------------------------------------------------------------------------

#: BFS rounds — the bipartite transaction graph's diameter is tiny (every
#: supplier trades with many customers), so 6 rounds saturates it
BFS_ROUNDS = 6


def _bfs_oracle() -> str:
    # same unrolled-iteration spelling as the pagerank oracle: round k
    # expands ONLY the frontier (dist = k-1) and keeps the min distance
    ctes = [
        "d0 AS MATERIALIZED (SELECT (SELECT min(src) FROM edges) AS id, 0 AS dist)"
    ]
    for k in range(1, BFS_ROUNDS + 1):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT id, dist FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS id, d.dist + 1 AS dist
    FROM d{k - 1} d JOIN edges e ON e.src = d.id
    WHERE d.dist = {k - 1}
  ) GROUP BY id
)"""
        )
    return f"""
WITH edges AS MATERIALIZED ({_edges_sql()}),
{", ".join(ctes)}
SELECT dist AS hop, CAST(count(*) AS BIGINT) AS n_nodes
FROM d{BFS_ROUNDS} GROUP BY dist
"""


def bfs_hops(
    edges_sym: DataFrame,
    rounds: int = BFS_ROUNDS,
) -> DataFrame:
    """Unweighted BFS from the minimum node id over symmetrized edges:
    returns (id, dist) for every node within ``rounds`` hops. Each round
    expands only the FRONTIER (nodes first reached last round) — the
    standard distributed BFS where per-round work is frontier-sized, not
    graph-sized — then folds into the running min-distance relation,
    materialized each round."""
    edges = materialize(edges_sym)
    seed = edges.agg(F.min("src").alias("id")).select(
        "id", F.lit(0).cast("bigint").alias("dist")
    )
    dist = materialize(seed)
    for k in range(1, rounds + 1):
        frontier = dist.filter(F.col("dist") == k - 1)
        expanded = frontier.join(edges, frontier.id == edges.src).select(
            F.col("dst").alias("id"), (F.lit(k)).cast("bigint").alias("dist")
        )
        dist = materialize(
            dist.unionByName(expanded).groupBy("id").agg(
                F.min("dist").cast("bigint").alias("dist")
            )
        )
    return dist


@register("bfs_hop_distribution", _bfs_oracle())
def bfs_hop_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance histogram of BFS from the minimum node over the
    symmetrized customer↔supplier transaction graph — 'how many entities
    sit k relationship steps away', the reachability readout next to
    pagerank/k-core/LCC on the same edge set. The oracle unrolls the same
    {BFS_ROUNDS} frontier-expansion rounds as chained SQL aggregates
    (pagerank-oracle pattern) — exact value check, not rows-only. All
    arithmetic is integer; per-round cost is frontier-joined, and the
    union-fold groupBy is combinable."""
    dist = bfs_hops(_transaction_edges(spark, sf_dir))
    return dist.groupBy(F.col("dist").alias("hop")).agg(
        F.count("*").alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# Newman modularity of the LPA communities (partition-quality readout)
# ---------------------------------------------------------------------------


def _modularity_oracle() -> str:
    # the LPA chain verbatim, then pure aggregates over its final labeling
    return (
        _lpa_cte_chain()
        + f""", labels AS (
  SELECT id, lbl FROM l{LPA_ROUNDS}
), mt AS (
  SELECT CAST(count(*) AS DOUBLE) AS m FROM e
), internal AS (
  SELECT la.lbl AS community, count(*) AS ie
  FROM e p
  JOIN labels la ON la.id = p.doc_a
  JOIN labels lb ON lb.id = p.doc_b
  WHERE la.lbl = lb.lbl
  GROUP BY 1
), deg AS (
  SELECT u AS id, count(*) AS dg FROM sym GROUP BY u
), degc AS (
  SELECT l.lbl AS community, count(*) AS nn, sum(d.dg) AS ds
  FROM labels l JOIN deg d ON d.id = l.id
  GROUP BY 1
)
SELECT CAST(dc.community AS BIGINT) AS community,
       CAST(dc.nn AS BIGINT) AS n_nodes,
       CAST(coalesce(i.ie, 0) AS BIGINT) AS internal_edges,
       CAST(dc.ds AS BIGINT) AS degree_sum,
       round(coalesce(i.ie, 0) / mt.m
             - pow(dc.ds / (2 * mt.m), 2), 6) + 0 AS q_contrib
FROM degc dc LEFT JOIN internal i ON i.community = dc.community, mt"""
    )


def modularity_from_pairs(pairs: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community Newman modularity terms from canonical undirected
    pairs (doc_a < doc_b, each edge once) and a (id, lbl) labeling:
    Q_c = e_c/m − (d_c/(2m))², where e_c counts intra-community edges,
    d_c sums member degrees, m = |edges|. Σ_c Q_c is the partition's
    modularity. Every stage is an edge-sized join or a combinable
    aggregate; m crosses as a driver literal (one count on the — caller-
    checkpointed — pair relation)."""
    m = float(pairs.count())
    la = pairs.join(
        labels.withColumnRenamed("id", "doc_a").withColumnRenamed(
            "lbl", "lbl_a"
        ),
        "doc_a",
    )
    internal = (
        la.join(
            labels.withColumnRenamed("id", "doc_b").withColumnRenamed(
                "lbl", "lbl_b"
            ),
            "doc_b",
        )
        .filter(F.col("lbl_a") == F.col("lbl_b"))
        .groupBy(F.col("lbl_a").alias("community"))
        .agg(F.count("*").alias("ie"))
    )
    ends = pairs.select(F.col("doc_a").alias("id")).unionAll(
        pairs.select(F.col("doc_b").alias("id"))
    )
    deg = ends.groupBy("id").agg(F.count("*").alias("dg"))
    degc = (
        labels.join(deg, "id")
        .groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("n_nodes"), F.sum("dg").alias("degree_sum"))
    )
    ie = F.coalesce("ie", F.lit(0))
    return degc.join(internal, "community", "left").select(
        F.col("community").cast("long").alias("community"),
        "n_nodes",
        ie.cast("long").alias("internal_edges"),
        "degree_sum",
        # + 0.0 normalizes IEEE negative zero (singleton communities round
        # to -0.0 on DuckDB, +0.0 on Spark) without touching nonzero values
        (
            F.round(
                ie / F.lit(m)
                - F.pow(F.col("degree_sum") / F.lit(2.0 * m), F.lit(2)),
                6,
            )
            + F.lit(0.0)
        ).alias("q_contrib"),
    )


@register("community_modularity", _modularity_oracle())
def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity decomposition of the LPA communities over the
    simhash near-dup graph — the partition-quality readout that tells a
    dedup pipeline whether its communities are genuinely dense (Q_c > 0:
    more internal edges than a random graph with the same degrees) or
    artifacts of the label process. The oracle replays the identical LPA
    rounds (shared WITH-chain) and checks the modularity terms exactly.

    Scale shape: the pair relation is materialized once
    and reused by the propagation rounds, the intra-edge count, the
    degree sum, and the 1-driver-scalar edge count — no stage above it
    exceeds edge size, and all aggregates are combinable."""
    pairs = (
        simhash_near_dup(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(materialize)
    )
    labels = label_propagation(pairs)
    return modularity_from_pairs(pairs, labels)


# ---------------------------------------------------------------------------
# Strongly connected components (round-11): K-bounded FW-BW min-label
# coloring — the directed companion to connected_components/LPA/k-core/BFS
# ---------------------------------------------------------------------------

SCC_ITERS = 6


def _scc_edges_sql() -> str:
    """DIRECTED transaction edges: customer→supplier for even orderkeys,
    supplier→customer for odd — a deterministic half-reversal of the
    bipartite trade graph (`_edges_sql` symmetrizes it instead), so
    genuine directed structure exists: a (customer, supplier) pair that
    trades under both parities closes a 2-cycle, and chains of such pairs
    form larger SCCs. Same even/odd node encoding as the undirected
    family."""
    return """
  SELECT DISTINCT
         CASE WHEN o_orderkey % 2 = 0 THEN o_custkey * 2
              ELSE l_suppkey * 2 + 1 END AS src,
         CASE WHEN o_orderkey % 2 = 0 THEN l_suppkey * 2 + 1
              ELSE o_custkey * 2 END AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
"""


def _scc_oracle() -> str:
    rounds = []
    for k in range(1, SCC_ITERS + 1):
        rounds.append(
            f"""f{k} AS MATERIALIZED (
  SELECT f.id, least(f.lbl, coalesce(mi.ml, f.lbl)) AS lbl
  FROM f{k - 1} f LEFT JOIN (
    SELECT e.dst AS id, min(ff.lbl) AS ml
    FROM edges e JOIN f{k - 1} ff ON e.src = ff.id
    GROUP BY e.dst
  ) mi USING (id)
), b{k} AS MATERIALIZED (
  SELECT b.id, least(b.lbl, coalesce(mo.ml, b.lbl)) AS lbl
  FROM b{k - 1} b LEFT JOIN (
    SELECT e.src AS id, min(bb.lbl) AS ml
    FROM edges e JOIN b{k - 1} bb ON e.dst = bb.id
    GROUP BY e.src
  ) mo USING (id)
)"""
        )
    return f"""
WITH edges AS MATERIALIZED ({_scc_edges_sql()}),
nodes AS MATERIALIZED (
  SELECT src AS id FROM edges UNION SELECT dst FROM edges
),
f0 AS (SELECT id, id AS lbl FROM nodes),
b0 AS (SELECT id, id AS lbl FROM nodes),
{', '.join(rounds)},
lab AS (
  SELECT f.id, f.lbl AS fwd, b.lbl AS bwd
  FROM f{SCC_ITERS} f JOIN b{SCC_ITERS} b USING (id)
),
cls AS (SELECT id, fwd AS scc FROM lab WHERE fwd = bwd),
g AS (SELECT scc, count(*) AS sz FROM cls GROUP BY scc)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM lab) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM cls) AS n_classified,
       CAST(count(*) AS BIGINT) AS n_scc,
       CAST(max(sz) AS BIGINT) AS max_scc_size,
       CAST(sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nontrivial_scc,
       CAST(sum(CASE WHEN sz >= 2 THEN sz ELSE 0 END) AS BIGINT)
         AS n_nodes_in_nontrivial
FROM g
"""


def scc_labels(
    edges: DataFrame,
    iters: int = SCC_ITERS,
) -> DataFrame:
    """(id, fwd, bwd) after ``iters`` rounds of forward AND backward
    min-label propagation over a DIRECTED (src, dst) edge frame:
    fwd_k(v) = min(fwd_{k-1}(v), min over u→v of fwd_{k-1}(u)) — the
    minimum id that REACHES v within k hops; bwd is the mirror over
    outgoing edges — the minimum id v reaches. ``fwd == bwd == m`` proves
    v and m reach each other, so equal-pair groups are exact SCCs for
    every component whose members lie within ``iters`` hops of its
    minimum member (the FW-BW/coloring building block of distributed SCC
    — Fleischer et al. 2000's divide step, one fixed-depth pass of it);
    nodes still unequal after K rounds are reported unclassified rather
    than guessed.

    Scale shape: each round is TWO label-keyed shuffles (a dst-keyed min
    and a src-keyed min, both map-side combinable) joined back to the
    node-sized label frames; lineage truncated every ``_PR_CKPT_EVERY``
    rounds like the pagerank loop. Labels are node-sized relations at
    every step — nothing data-sized ever accumulates."""
    edges = materialize(edges)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select("dst"))
        .distinct()
    )
    fwd = nodes.select("id", F.col("id").alias("lbl"))
    bwd = nodes.select("id", F.col("id").alias("lbl"))

    def _round(lbls: DataFrame, key_in: str, key_out: str) -> DataFrame:
        mins = (
            edges.join(lbls, edges[key_in] == lbls.id)
            .groupBy(key_out)
            .agg(F.min("lbl").alias("ml"))
            .select(F.col(key_out).alias("id"), "ml")
        )
        return lbls.join(mins, "id", "left").select(
            "id", F.least("lbl", F.coalesce("ml", "lbl")).alias("lbl")
        )

    for k in range(1, iters + 1):
        fwd = _round(fwd, "src", "dst")
        bwd = _round(bwd, "dst", "src")
        if k % _PR_CKPT_EVERY == 0 and k < iters:
            fwd, bwd = materialize(fwd), materialize(bwd)
    return fwd.select("id", F.col("lbl").alias("fwd")).join(
        bwd.select("id", F.col("lbl").alias("bwd")), "id"
    )


@register("scc_min_label", _scc_oracle())
def scc_min_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC structure of the directed transaction graph (`_scc_edges_sql`):
    K-bounded FW-BW min-label coloring, summarized as component counts —
    how much of the trade graph is strongly connected (mutually reachable
    buyer/seller circuits) vs one-way flow. Completes the iterative graph
    family (CC/LPA/PageRank/PPR/k-core/BFS/triangles) with its directed
    member; reference lens: the reference has no graph surface at all
    (processing.scala stops at per-room aggregates), this is the [EXT]
    analytics a transaction corpus supports."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    even = F.col("o_orderkey") % 2 == 0
    edges = j.select(
        F.when(even, F.col("o_custkey") * 2)
        .otherwise(F.col("l_suppkey") * 2 + 1)
        .alias("src"),
        F.when(even, F.col("l_suppkey") * 2 + 1)
        .otherwise(F.col("o_custkey") * 2)
        .alias("dst"),
    ).distinct()
    lab = scc_labels(edges)
    # ONE action over the label frame: unclassified nodes fall into a
    # single NULL-scc group, so node-level counts (n_nodes,
    # n_classified) and component-level stats come out of the same
    # two-level aggregate. The previous spelling ran lab.count() and
    # cls.count() as separate actions, re-executing the post-checkpoint
    # iteration tail (rounds 5-6: four node-keyed min shuffles + joins)
    # three times — the recompute class SURVEY §4.3.6 forbids
    # (processing.scala:137,146 executes its results plan twice the
    # same way). Every component's minimum member always has
    # fwd == bwd == itself, so the classified set is non-empty whenever
    # nodes exist — the NULL group never stands alone.
    g = (
        lab.withColumn(
            "scc", F.when(F.col("fwd") == F.col("bwd"), F.col("fwd"))
        )
        .groupBy("scc")
        .agg(F.count("*").alias("sz"))
    )
    classified = F.col("scc").isNotNull()
    nontrivial = classified & (F.col("sz") >= 2)
    return g.agg(
        F.sum("sz").cast("long").alias("n_nodes"),
        F.sum(F.when(classified, F.col("sz")).otherwise(0))
        .cast("long").alias("n_classified"),
        F.sum(classified.cast("long")).cast("long").alias("n_scc"),
        F.max(F.when(classified, F.col("sz"))).cast("long")
        .alias("max_scc_size"),
        F.sum(nontrivial.cast("long")).cast("long")
        .alias("n_nontrivial_scc"),
        F.sum(F.when(nontrivial, F.col("sz")).otherwise(0))
        .cast("long").alias("n_nodes_in_nontrivial"),
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the customer→part co-purchase graph
# ---------------------------------------------------------------------------

#: customers above this distinct-part degree are excluded from pair
#: generation: per-customer pair work is C(deg,2), so one promiscuous
#: pivot (a reseller account touching 10⁵ parts at 100 TB) would emit
#: 5·10⁹ pairs alone. Dropping frequent pivots is the standard
#: link-prediction practice (they carry ~no signal — AA weights them
#: 1/ln(deg) toward 0 anyway) and bounds ANY customer's fan-out at
#: C(40,2) = 780 pairs — the winnow df-guard argument.
AA_MAX_DEG = 40

def _capped_contrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The link-prediction quartet's shared candidate relation —
    degree-capped DISTINCT (cust, part, dg) co-purchase rows —
    materialized ONCE per query (guide §2.4/§5).

    Round-15 measurement: the quartet's DataFrame DAGs consumed this
    subtree 2-4× (self-join a/b sides + the part-degree aggregates), and
    Spark shares no common subexpressions across consumers — the plan
    re-ran the orders⋈lineitem join + distinct + degree join per consumer
    (jaccard_links: 8 parquet scans, 139-node plan, ~20 Exchanges).
    Materializing the bounded contrib relation (2 ints + a count per row,
    strictly smaller than the distinct co-purchase list) replaces those
    repeats with one computation; the checkpoint erases stats, so every
    downstream join keeps its shuffle_hash pin (the sf≈10 audit rule —
    nothing corpus-sized is ever left to AQE broadcast estimates)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # the orders projection is fact-sized too — without the pin AQE was
    # broadcasting it into the lineitem join (9 MiB at sf0.1 -> ~1 GB at
    # cluster scale)
    items = (
        orders.hint("shuffle_hash").join(
            li, orders.o_orderkey == li.l_orderkey
        )
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .distinct()
    )
    deg = items.groupBy("cust").agg(F.count("*").alias("dg"))
    # shuffle_hash pins (round-14 audit catch): the customer-degree
    # relation AND both self-join sides grow with the customer book —
    # AQE was broadcasting 41 MiB of them at sf0.1 (≈4 GB at sf≈10, the
    # bpe_encode class of executor-killer)
    contrib = items.join(deg.hint("shuffle_hash"), "cust").filter(
        (F.col("dg") >= 2) & (F.col("dg") <= AA_MAX_DEG)
    )
    # Round-16 A/B (VERDICT r15 item 1, interleaved, 6 reps/arm under the
    # same epoch): eager localCheckpoint median cold/warm 6.53/3.03 s
    # (jaccard_links) vs 7.26/3.41 unmaterialized (r14 spelling) vs
    # 9.68/2.88 cache+count — the r15 driver cold regression was the storm
    # epoch, not the barrier; the checkpoint stays.
    return materialize(contrib)


adamic_adar_oracle = f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
deg AS (
  SELECT cust, count(*) AS dg FROM items GROUP BY cust
),
contrib AS (
  SELECT i.cust, i.part, d.dg FROM items i JOIN deg d ON d.cust = i.cust
  WHERE d.dg BETWEEN 2 AND {AA_MAX_DEG}
)
SELECT a.part AS part_a, b.part AS part_b,
       CAST(count(*) AS BIGINT) AS n_common,
       round(sum(1.0 / ln(a.dg)), 6) AS aa_score
FROM contrib a JOIN contrib b
  ON a.cust = b.cust AND a.part < b.part
GROUP BY 1, 2
HAVING count(*) >= 2
"""


@register("adamic_adar_links", adamic_adar_oracle)
def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction between parts: for part pairs sharing
    ≥2 customers, AA = Σ_{u ∈ common} 1/ln(deg(u)) — common neighbors
    weighted inversely by how promiscuous each shared customer is (a
    customer who buys everything says nothing; one with two purchases
    says a lot). The recommendation-candidate generator next to
    `market_basket_pairs`' within-order lift.

    Scale shape: pair generation self-joins the degree-capped
    (customer, part) relation on customer — Σ_cust C(min(deg,40),2), i.e.
    LINEAR in customers with a C(40,2) per-key bound (cap documented
    above; degree-1 customers produce no pairs and would divide ln(1)=0).
    The degree join is keyed on customer; the AA aggregate is combinable
    on the pair key. No stage is parts² at any scale."""
    contrib = _capped_contrib(spark, sf_dir)
    a = contrib.select("cust", F.col("part").alias("part_a"), "dg")
    b = contrib.select("cust", F.col("part").alias("part_b"))
    return (
        a.join(b.hint("shuffle_hash"), "cust")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(
            F.count("*").alias("n_common"),
            F.round(F.sum(1.0 / F.log(F.col("dg"))), 6).alias("aa_score"),
        )
        .filter(F.col("n_common") >= 2)
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the transaction graph
# ---------------------------------------------------------------------------

assortativity_oracle = f"""
WITH edges AS MATERIALIZED ({_edges_sql()}),
deg AS (
  SELECT src AS id, CAST(count(*) AS BIGINT) AS dg FROM edges GROUP BY src
)
SELECT CAST(count(*) AS BIGINT) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       round(corr(CAST(ds.dg AS DOUBLE), CAST(dd.dg AS DOUBLE)), 6)
         AS assortativity
FROM edges e
JOIN deg ds ON ds.id = e.src
JOIN deg dd ON dd.id = e.dst
"""


@register("degree_assortativity", assortativity_oracle)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the symmetrized customer↔supplier graph:
    the Pearson correlation of endpoint degrees over the directed edge
    list (Newman 2002's r, computed on the symmetrized list so each
    undirected edge contributes both orientations — the standard
    spelling). Negative r = hubs attach to leaves (the usual shape of
    bipartite transaction graphs); positive = rich-club. Completes the
    structural family next to degree_distribution / clustering /
    modularity.

    Scale shape: degrees are one combinable groupBy on the edge list;
    the two degree joins are keyed on node id (data-sized keyed shuffles,
    no broadcast hint — AQE decides); corr() is a single-pass combinable
    co-moment aggregate. Nothing is nodes² anywhere."""
    edges = _transaction_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("dg")).select(
        F.col("src").alias("id"), "dg"
    )
    ds = deg.select(F.col("id").alias("src"), F.col("dg").alias("dg_s"))
    dd = deg.select(F.col("id").alias("dst"), F.col("dg").alias("dg_d"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    return (
        edges.join(ds, "src")
        .join(dd, "dst")
        .agg(
            F.count("*").alias("n_edges"),
            F.round(
                F.corr(
                    F.col("dg_s").cast("double"), F.col("dg_d").cast("double")
                ),
                6,
            ).alias("assortativity"),
        )
        .crossJoin(F.broadcast(n_nodes))
        .select("n_edges", "n_nodes", "assortativity")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities over the directed customer→supplier graph
# ---------------------------------------------------------------------------

HITS_ITERS = 6
_HITS_CKPT_EVERY = 3


def _hits_oracle() -> str:
    """Unrolled K-round HITS with L1 normalization each half-step —
    mechanically generated aggregate-join CTEs, each exactly one Spark
    round's math (the `_pagerank_oracle` pattern)."""
    iters = []
    for k in range(1, HITS_ITERS + 1):
        iters.append(
            f"""a{k}r AS MATERIALIZED (
  SELECT e.s, sum(h.h) AS a FROM edges e
  JOIN h{k - 1} h ON h.c = e.c GROUP BY e.s
), a{k} AS MATERIALIZED (
  SELECT s, a / (SELECT sum(a) FROM a{k}r) AS a FROM a{k}r
), h{k}r AS MATERIALIZED (
  SELECT e.c, sum(a.a) AS h FROM edges e
  JOIN a{k} a ON a.s = e.s GROUP BY e.c
), h{k} AS MATERIALIZED (
  SELECT c, h / (SELECT sum(h) FROM h{k}r) AS h FROM h{k}r
)"""
        )
    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
h0 AS (
  SELECT c, 1.0 / (SELECT count(DISTINCT c) FROM edges) AS h
  FROM (SELECT DISTINCT c FROM edges)
),
{', '.join(iters)}
SELECT 'customer' AS node_type, c AS node_key, round(h, 5) AS hits_score,
       'hub' AS role
FROM h{HITS_ITERS}
UNION ALL
SELECT 'supplier', s, round(a, 5), 'authority' FROM a{HITS_ITERS}
"""


@register("hits_hubs_authorities", _hits_oracle())
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hub/authority scores over the DIRECTED
    customer→supplier purchase graph — the directed counterpart of
    `pagerank_transactions` on the same relation: a supplier is
    authoritative if good hub customers buy from it, a customer is a good
    hub if it buys from authoritative suppliers. L1 normalization each
    half-step (sum-normalized mass, the pagerank convention here) keeps
    the fixed K=6 rounds engine-comparable; the oracle unrolls the same
    rounds as chained SQL aggregates — exact value check, not rows-only.

    Scale: the distinct edge table is entity-bounded (≤ |cust|·|supp|,
    saturating as facts replicate — measured flat across the sf≈1→sf≈10
    rehearsal for the same reason as scc_min_label), derived by ONE
    combinable distinct over the order join and checkpointed once; each
    round is two key-partitioned shuffles over node-sized frames plus a
    1-row L1-mass broadcast, lineage truncated every
    ``_HITS_CKPT_EVERY`` rounds (pagerank cadence)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = materialize(
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    if edges.count() <= _PR_DRIVER_MAX_EDGES:
        return _driver_hits(edges)
    n_hubs = edges.select("c").distinct().count()
    hubs = edges.select("c").distinct().withColumn(
        "h", F.lit(1.0 / n_hubs)
    )
    auth = None
    for k in range(1, HITS_ITERS + 1):
        a_raw = (
            edges.join(hubs, "c")
            .groupBy("s")
            .agg(F.sum("h").alias("a"))
        )
        a_mass = a_raw.agg(F.sum("a").alias("mass"))
        auth = a_raw.crossJoin(F.broadcast(a_mass)).select(
            "s", (F.col("a") / F.col("mass")).alias("a")
        )
        h_raw = (
            edges.join(auth, "s")
            .groupBy("c")
            .agg(F.sum("a").alias("h"))
        )
        h_mass = h_raw.agg(F.sum("h").alias("mass"))
        hubs = h_raw.crossJoin(F.broadcast(h_mass)).select(
            "c", (F.col("h") / F.col("mass")).alias("h")
        )
        if k % _HITS_CKPT_EVERY == 0 and k < HITS_ITERS:
            hubs = materialize(hubs)
            auth = materialize(auth)
    return hubs.select(
        F.lit("customer").alias("node_type"),
        F.col("c").alias("node_key"),
        F.round("h", 5).alias("hits_score"),
        F.lit("hub").alias("role"),
    ).unionByName(
        auth.select(
            F.lit("supplier").alias("node_type"),
            F.col("s").alias("node_key"),
            F.round("a", 5).alias("hits_score"),
            F.lit("authority").alias("role"),
        )
    )


def _driver_hits(edges: DataFrame) -> DataFrame:
    """Bounded-graph fast path (`_driver_pagerank` rationale, same
    ``_PR_DRIVER_MAX_EDGES`` bound): vectorized numpy half-steps over the
    Arrow-collected entity-bounded edge table. Matches the distributed
    loop to accumulation-order float noise, far below the round-5 output
    precision."""
    import numpy as np
    from pyspark.sql import types as T

    pdf = edges.toPandas()
    c = pdf["c"].to_numpy(dtype=np.int64)
    s = pdf["s"].to_numpy(dtype=np.int64)
    cids = np.unique(c)
    sids = np.unique(s)
    ci = np.searchsorted(cids, c)
    si = np.searchsorted(sids, s)
    h = np.full(len(cids), 1.0 / len(cids))
    a = np.zeros(len(sids))
    for _ in range(HITS_ITERS):
        a = np.bincount(si, weights=h[ci], minlength=len(sids))
        a /= a.sum()
        h = np.bincount(ci, weights=a[si], minlength=len(cids))
        h /= h.sum()

    spark = edges.sparkSession
    schema = T.StructType(
        [
            T.StructField("node_type", T.StringType(), False),
            T.StructField("node_key", T.LongType(), False),
            T.StructField("hits_score", T.DoubleType(), False),
            T.StructField("role", T.StringType(), False),
        ]
    )
    # explicit HALF_UP floor spelling, NOT Python round() (half-to-even):
    # the distributed path uses F.round and the oracle DuckDB round, both
    # HALF_UP — which path runs depends on the _PR_DRIVER_MAX_EDGES
    # threshold, so a .000005-boundary score must round identically on all
    # three (scores are positive: sums normalized to 1)
    def _r5(v: float) -> float:
        return math.floor(v * 1e5 + 0.5) / 1e5

    rows = [
        ("customer", int(k), _r5(float(v)), "hub")
        for k, v in zip(cids, h)
    ] + [
        ("supplier", int(k), _r5(float(v)), "authority")
        for k, v in zip(sids, a)
    ]
    return local_df(spark, rows, schema)


# ---------------------------------------------------------------------------
# Round-14: Jaccard-coefficient link prediction (the set-overlap companion
# of Adamic-Adar)
# ---------------------------------------------------------------------------

jaccard_links_oracle = f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
deg AS (
  SELECT cust, count(*) AS dg FROM items GROUP BY cust
),
contrib AS MATERIALIZED (
  SELECT i.cust, i.part FROM items i JOIN deg d ON d.cust = i.cust
  WHERE d.dg BETWEEN 2 AND {AA_MAX_DEG}
),
pdeg AS (
  SELECT part, CAST(count(*) AS BIGINT) AS pd FROM contrib GROUP BY part
),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM contrib a JOIN contrib b
    ON a.cust = b.cust AND a.part < b.part
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT p.part_a, p.part_b, p.n_common,
       da.pd AS deg_a, db.pd AS deg_b,
       floor(CAST(p.n_common AS DOUBLE)
             / CAST(da.pd + db.pd - p.n_common AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS jaccard
FROM pairs p
JOIN pdeg da ON da.part = p.part_a
JOIN pdeg db ON db.part = p.part_b
"""


@register("jaccard_links", jaccard_links_oracle)
def jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JACCARD-coefficient link prediction between parts —
    |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| over shared-customer neighborhoods: the
    normalized companion of `adamic_adar_links` (AA rewards RARE shared
    neighbors; Jaccard penalizes POPULAR endpoints — a pair sharing 3 of
    each's 4 customers outranks one sharing 10 of 500). Both engines
    compute it from the SAME degree-capped contrib relation, so the two
    scores are directly comparable rankings of the same candidate set.

    Scale shape: pair generation is the identical capped customer-keyed
    self-join as AA (linear in customers, C(40,2) per-key bound); part
    degrees are one combinable groupBy; the two degree lookups join on
    the pair relation's part keys with shuffle_hash pinned — the part
    catalog GROWS with the corpus, exactly the side the sf≈10 audit rule
    forbids leaving to AQE broadcast estimates. Jaccard is one double
    division of exact ints."""
    contrib = _capped_contrib(spark, sf_dir).select("cust", "part")
    pdeg = contrib.groupBy("part").agg(F.count("*").alias("pd"))
    a = contrib.select("cust", F.col("part").alias("part_a"))
    b = contrib.select("cust", F.col("part").alias("part_b"))
    pairs = (
        a.join(b.hint("shuffle_hash"), "cust")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    da = pdeg.select(F.col("part").alias("part_a"), F.col("pd").alias("deg_a"))
    db = pdeg.select(F.col("part").alias("part_b"), F.col("pd").alias("deg_b"))
    out = (
        pairs.join(da.hint("shuffle_hash"), "part_a")
        .join(db.hint("shuffle_hash"), "part_b")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("n_common")
    ).cast("double")
    return out.select(
        "part_a",
        "part_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("deg_a").cast("long").alias("deg_a"),
        F.col("deg_b").cast("long").alias("deg_b"),
        (F.floor(jac * 1000000 + 0.5) / 1000000).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Round-14 second wave: preferential attachment + resource allocation —
# completing the classic link-prediction quartet (AA, Jaccard, PA, RA)
# ---------------------------------------------------------------------------

pref_attach_oracle = f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
deg AS (
  SELECT cust, count(*) AS dg FROM items GROUP BY cust
),
contrib AS MATERIALIZED (
  SELECT i.cust, i.part FROM items i JOIN deg d ON d.cust = i.cust
  WHERE d.dg BETWEEN 2 AND {AA_MAX_DEG}
),
pdeg AS (
  SELECT part, CAST(count(*) AS BIGINT) AS pd FROM contrib GROUP BY part
),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM contrib a JOIN contrib b
    ON a.cust = b.cust AND a.part < b.part
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT p.part_a, p.part_b, p.n_common,
       CAST(da.pd * db.pd AS BIGINT) AS pa_score
FROM pairs p
JOIN pdeg da ON da.part = p.part_a
JOIN pdeg db ON db.part = p.part_b
"""


@register("preferential_attachment_links", pref_attach_oracle)
def preferential_attachment_links(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PREFERENTIAL-ATTACHMENT link score deg(a)·deg(b) over the same
    degree-capped candidate pairs as `adamic_adar_links` /
    `jaccard_links` — the rich-get-richer baseline of the classic
    link-prediction quartet (Liben-Nowell & Kleinberg 2007): AA weights
    rare witnesses, Jaccard normalizes by union, PA ignores witnesses
    entirely and bets on hub mass. Serving all four off ONE candidate
    relation is the point — a ranker ensembles them without recomputing
    the pair stage. Score is an exact BIGINT product; same capped
    customer-keyed self-join and pinned part-degree joins as the
    siblings (the round-14 audit shape)."""
    contrib = _capped_contrib(spark, sf_dir).select("cust", "part")
    pdeg = contrib.groupBy("part").agg(F.count("*").alias("pd"))
    a = contrib.select("cust", F.col("part").alias("part_a"))
    b = contrib.select("cust", F.col("part").alias("part_b"))
    pairs = (
        a.join(b.hint("shuffle_hash"), "cust")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    da = pdeg.select(F.col("part").alias("part_a"), F.col("pd").alias("da"))
    db = pdeg.select(F.col("part").alias("part_b"), F.col("pd").alias("db"))
    return (
        pairs.join(da.hint("shuffle_hash"), "part_a")
        .join(db.hint("shuffle_hash"), "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("n_common").cast("long").alias("n_common"),
            (F.col("da") * F.col("db")).cast("long").alias("pa_score"),
        )
    )


resource_alloc_oracle = f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
deg AS (
  SELECT cust, count(*) AS dg FROM items GROUP BY cust
),
contrib AS (
  SELECT i.cust, i.part, d.dg FROM items i JOIN deg d ON d.cust = i.cust
  WHERE d.dg BETWEEN 2 AND {AA_MAX_DEG}
)
SELECT a.part AS part_a, b.part AS part_b,
       CAST(count(*) AS BIGINT) AS n_common,
       floor(sum(1.0 / a.dg) * 1000000 + 0.5) / 1000000 AS ra_score
FROM contrib a JOIN contrib b
  ON a.cust = b.cust AND a.part < b.part
GROUP BY 1, 2
HAVING count(*) >= 2
"""


@register("resource_allocation_links", resource_alloc_oracle)
def resource_allocation_links(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESOURCE-ALLOCATION link score Σ_{{u∈common}} 1/deg(u) (Zhou-Lü-
    Zhang 2009) — Adamic-Adar's harder-decaying sibling (1/d vs 1/ln d):
    on dense transaction graphs RA suppresses promiscuous witnesses
    enough to beat AA empirically, which is why both belong in the
    quartet. Same capped customer-keyed pair stage. 1/dg summands are
    per-row doubles from exact ints; the per-pair sum is ≤ 40 bounded
    terms whose grouped accumulation is engine-deterministic at the
    published 6dp (the adamic_adar rounding discipline)."""
    contrib = _capped_contrib(spark, sf_dir)
    a = contrib.select("cust", F.col("part").alias("part_a"), "dg")
    b = contrib.select("cust", F.col("part").alias("part_b"))
    ra = F.sum(1.0 / F.col("dg"))
    return (
        a.join(b.hint("shuffle_hash"), "cust")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(
            F.count("*").alias("n_common"),
            (F.floor(ra * 1000000 + 0.5) / 1000000).alias("ra_score"),
        )
        .filter(F.col("n_common") >= 2)
        .select(
            "part_a",
            "part_b",
            F.col("n_common").cast("long").alias("n_common"),
            "ra_score",
        )
    )

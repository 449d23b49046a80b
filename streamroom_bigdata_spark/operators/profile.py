"""Data-profiling operator: per-column statistics in ONE shuffle.

The first query any pipeline runs against a new table: null rates,
distinct counts, min/max per column. Shape: unpivot to long format
(col_name, value-as-string) — a zero-shuffle row explosion — then one
groupBy(col_name) aggregate (count_distinct adds its standard two-phase
expand — two hash exchanges total, no single-partition funnel). k columns
cost one scan, not k passes; at 100 TB the final aggregate state is k rows.

String-typed min/max keeps the output schema uniform across column types
(and matches what the DuckDB oracle computes on the same varchar cast);
distinct counts are exact here — swap count_distinct for
approx_count_distinct when profiling at the 100 TB end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localdf import local_df
from ..functions.reliability import materialize
from ..registry import register
from ..sources import load_table

PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")

_COL_SELECTS = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS col_name,
           count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT CAST({c} AS VARCHAR)) AS n_distinct,
           min(CAST({c} AS VARCHAR)) AS min_val,
           max(CAST({c} AS VARCHAR)) AS max_val
    FROM orders
    """
    for c in PROFILE_COLS
)

column_profile_oracle = _COL_SELECTS


@register("column_profile", column_profile_oracle)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the orders table — see module docstring for the
    single-shuffle unpivot shape."""
    return profile_columns(
        load_table(spark, sf_dir, "orders"), list(PROFILE_COLS)
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Profile any frame's columns: unpivot to (col_name, val) then one
    aggregate."""
    long = df.select(
        *[F.col(c).cast("string").alias(c) for c in cols]
    ).unpivot([], cols, "col_name", "val")
    return long.groupBy("col_name").agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("val")).alias("n_nulls"),
        F.count_distinct("val").alias("n_distinct"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (Spark 4 DataSketches HLL)
# ---------------------------------------------------------------------------

def distinct_sketch_by_group(
    df: DataFrame, group_col: str, col: str, lgk: int = 12
) -> DataFrame:
    """Per-group HLL sketches as reusable BINARY aggregates — the profiling
    shape for 100 TB: sketch once per partition/day/source, then answer
    any rollup's distinct count by UNIONING sketches (mergeable, unlike a
    count_distinct result). Sketch size is fixed (2^lgk registers) no
    matter the input."""
    return df.groupBy(group_col).agg(
        F.hll_sketch_agg(col, F.lit(lgk)).alias("sketch"),
        F.count("*").alias("n_rows"),
    )


def union_sketch_estimate(sketches: DataFrame) -> DataFrame:
    """Merge per-group sketches into one global estimate — the rollup a
    pre-sketched table answers without rescanning data."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("estimate")
    )


# ---------------------------------------------------------------------------
# Count-min sketch (point-query frequency estimation)
# ---------------------------------------------------------------------------

#: sketch depth (independent hash rows) and width (buckets per row).
CMS_DEPTH = 4
CMS_WIDTH = 256

#: tokens whose frequency the registered query estimates (the point
#: queries); estimates are compared against the exact counts in-plan.
CMS_QUERY_TOKENS = ("join", "hash", "vector", "stream", "window", "spark")

_CMS_TOKENS_SQL = ", ".join(f"'{t}'" for t in CMS_QUERY_TOKENS)


def _cms_bucket_sql(expr: str, seed: int) -> str:
    from ..functions.hashing import sql_hash64

    seeded = f"concat('s{seed}:', {expr})"
    return f"({sql_hash64(seeded)} % {CMS_WIDTH})"


count_min_oracle = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), cells AS (
  SELECT u.seed,
         CASE u.seed
           {" ".join(f"WHEN {s} THEN {_cms_bucket_sql('tok', s)}" for s in range(CMS_DEPTH))}
         END AS bucket,
         count(*) AS cell
  FROM toks, (SELECT unnest([{", ".join(str(s) for s in range(CMS_DEPTH))}]) AS seed) u
  GROUP BY u.seed, bucket
), queries AS (
  SELECT q.tok, s.seed,
         CASE s.seed
           {" ".join(f"WHEN {s} THEN {_cms_bucket_sql('q.tok', s)}" for s in range(CMS_DEPTH))}
         END AS bucket
  FROM (SELECT unnest([{_CMS_TOKENS_SQL}]) AS tok) q,
       (SELECT unnest([{", ".join(str(s) for s in range(CMS_DEPTH))}]) AS seed) s
), est AS (
  SELECT q.tok, min(c.cell) AS est_count
  FROM queries q JOIN cells c ON c.seed = q.seed AND c.bucket = q.bucket
  GROUP BY q.tok
), truth AS (
  SELECT tok, count(*) AS true_count FROM toks
  WHERE tok IN ({_CMS_TOKENS_SQL})
  GROUP BY tok
)
SELECT t.tok, t.true_count, e.est_count,
       e.est_count - t.true_count AS overestimate
FROM truth t JOIN est e USING (tok)
"""


@register("count_min_tokens", count_min_oracle)
def count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation over the token stream
    (Cormode/Muthukrishnan): DEPTH independent portable-hash rows of
    WIDTH counters; a point query reads one counter per row and takes the
    min — overestimate-only error bounded by ~2N/WIDTH with probability
    1 - 2^-DEPTH.

    The sketch is DETERMINISTIC given the hash family, so the whole
    operator (build + point queries + comparison against exact counts) is
    DuckDB-oracle-checkable — unlike HLL, whose estimator is engine-
    specific (that one is property-tested instead, see
    distinct_sketch_by_group).

    Scale: the build is one (seed, bucket)-keyed aggregate over the
    exploded tokens — map-side partials collapse every task's stream to
    <= DEPTH×WIDTH cells, the exchange carries only those partials, and
    the finished sketch is a 1024-row relation ANY stream size reduces
    to (the mergeability that makes it a streaming/pre-agg natural).
    Point queries broadcast-join the sketch."""
    from ..functions.hashing import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))

    def bucket(col, seed: int):
        return F.pmod(
            portable_hash64(F.concat(F.lit(f"s{seed}:"), col)),
            F.lit(CMS_WIDTH),
        )

    seeded = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        bucket(F.col("tok"), s).alias("bucket"),
                    )
                    for s in range(CMS_DEPTH)
                ]
            )
        ).alias("sb")
    ).select("sb.seed", "sb.bucket")
    cells = seeded.groupBy("seed", "bucket").agg(F.count("*").alias("cell"))

    q_rows = [
        (tok, s)
        for tok in CMS_QUERY_TOKENS
        for s in range(CMS_DEPTH)
    ]
    queries = local_df(docs.sparkSession, q_rows, "tok string, seed int")
    # per-seed bucket must use the row's own seed: branch via CASE
    bucket_expr = None
    for s in range(CMS_DEPTH):
        clause = bucket(F.col("tok"), s)
        bucket_expr = (
            F.when(F.col("seed") == s, clause)
            if bucket_expr is None
            else bucket_expr.when(F.col("seed") == s, clause)
        )
    queries = queries.select("tok", "seed", bucket_expr.alias("bucket"))

    est = (
        queries.join(cells, ["seed", "bucket"])
        .groupBy("tok")
        .agg(F.min("cell").alias("est_count"))
    )
    truth = (
        toks.filter(F.col("tok").isin(*CMS_QUERY_TOKENS))
        .groupBy("tok")
        .agg(F.count("*").alias("true_count"))
    )
    return truth.join(est, "tok").select(
        "tok",
        "true_count",
        "est_count",
        (F.col("est_count") - F.col("true_count")).alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# Hash-partition balance diagnostic
# ---------------------------------------------------------------------------

from ..functions.hashing import sql_hash64  # noqa: E402

PB_BUCKETS = 32

partition_balance_oracle = f"""
WITH b AS (
  SELECT ({sql_hash64("CAST(l_orderkey AS VARCHAR)")} % {PB_BUCKETS}) AS bucket,
         count(*) AS n_rows
  FROM lineitem GROUP BY bucket
)
SELECT CAST(count(*) AS INT) AS n_buckets,
       CAST(min(n_rows) AS BIGINT) AS min_rows,
       CAST(max(n_rows) AS BIGINT) AS max_rows,
       round(avg(CAST(n_rows AS DOUBLE)), 4) AS avg_rows,
       round(CAST(max(n_rows) AS DOUBLE)
             / avg(CAST(n_rows AS DOUBLE)), 4) AS max_over_avg
FROM b
"""


@register("partition_balance", partition_balance_oracle)
def partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-space balance diagnostic: how evenly a candidate shuffle key
    spreads over PB_BUCKETS hash buckets — the question to ask BEFORE
    keying a 100 TB shuffle on a column (`max_over_avg` near 1.0 = safe;
    large = a hot key, reach for `functions/skew`). Uses the portable
    hash so the diagnostic itself is oracle-exact; Spark's real
    partitioner (murmur3) differs in constants but not in the balance
    this measures for a high-cardinality key. One bucket-sized aggregate
    + a single-row summary."""
    from ..functions.hashing import portable_hash64

    li = load_table(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.pmod(
            portable_hash64(F.col("l_orderkey").cast("string")),
            F.lit(PB_BUCKETS),
        ).alias("bucket")
    ).agg(F.count("*").alias("n_rows"))
    n = F.col("n_rows").cast("double")
    return b.agg(
        F.count("*").cast("int").alias("n_buckets"),
        F.min("n_rows").alias("min_rows"),
        F.max("n_rows").alias("max_rows"),
        F.round(F.avg(n), 4).alias("avg_rows"),
        F.round(F.max("n_rows").cast("double") / F.avg(n), 4).alias(
            "max_over_avg"
        ),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch — cross-source corpus overlap
# ---------------------------------------------------------------------------

#: sketch size per source; estimator std-error ~ 1/sqrt(K)
KMV_K = 256


def _kmv_sql() -> str:
    from ..functions.hashing import sql_hash64

    from .dedup import SHINGLE_N, sql_shingles

    return f"""
WITH toks AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM documents
), expl AS (
  SELECT source, unnest({sql_shingles(SHINGLE_N)}) AS s FROM toks
), sh AS (
  SELECT DISTINCT source, {sql_hash64('s')} AS h FROM expl
), sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM sh
  ) WHERE rn <= {KMV_K}
), srcs AS (
  SELECT DISTINCT source FROM sk
), pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a JOIN srcs b ON a.source < b.source
), u AS (
  SELECT p.sa, p.sb, s1.h FROM pairs p JOIN sk s1 ON s1.source = p.sa
  UNION
  SELECT p.sa, p.sb, s2.h FROM pairs p JOIN sk s2 ON s2.source = p.sb
), m AS (
  SELECT sa, sb, h FROM (
    SELECT sa, sb, h,
           row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
    FROM u
  ) WHERE rn <= {KMV_K}
)
SELECT m.sa AS source_a, m.sb AS source_b,
       CAST(sum(CASE WHEN k1.h IS NOT NULL AND k2.h IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_in_sketch,
       round(sum(CASE WHEN k1.h IS NOT NULL AND k2.h IS NOT NULL
                      THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS jaccard_est
FROM m
LEFT JOIN sk k1 ON k1.source = m.sa AND k1.h = m.h
LEFT JOIN sk k2 ON k2.source = m.sb AND k2.h = m.h
GROUP BY 1, 2
"""


@register("kmv_source_overlap", _kmv_sql())
def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus overlap by KMV (k-minimum-values) sketch: each
    source's shingle-set is summarized by its KMV_K smallest portable
    shingle hashes, and for every source pair the Jaccard is estimated as
    |both-sketches ∩ merged-sketch| / |merged-sketch| — the data-governance
    question ("how much does the new crawl overlap what we have?") answered
    WITHOUT a corpus-sized pairwise compare, with std-error ~1/√K. When the
    true union is smaller than K the estimator degrades gracefully to the
    EXACT Jaccard (the merged sketch IS the union).

    Data-sized work = one distinct (source, shingle-hash) exchange plus a
    per-source bottom-K window; everything after the sketch is K·|sources|
    rows. At 100 TB the bottom-K window's per-source sort is the honest
    exact cost — the two-phase cheap path (per-partition K-smallest heap
    via mapPartitions, then merge) trades that for an extra tiny shuffle.
    Sketches are mergeable (min of mins), so per-shard sketches roll up —
    same property the HLL family above exploits."""
    from pyspark.sql import Window

    from .dedup import SHINGLE_N

    from ..functions.hashing import portable_hash64

    # explode-THEN-build-THEN-hash as flat codegen projections: shingle
    # strings assembled inside an F.transform lambda run INTERPRETED per
    # element (the round-1 perf trap exploded_shingles_of documents) —
    # measured here 57 s → 11 s cold at sf≈1 for the same result. The
    # global distinct on (source, h) subsumes shingle_col's per-doc
    # distinct; the sentinel -1 branch reproduces its short-doc whole-text
    # fallback, so the hash set is identical to the oracle's.
    n = SHINGLE_N
    toks = load_table(spark, sf_dir, "documents").select(
        "source", "text", F.split("text", " ").alias("toks")
    )
    idx = F.when(
        F.size("toks") >= n, F.sequence(F.lit(0), F.size("toks") - n)
    ).otherwise(F.array(F.lit(-1)))
    s = F.when(
        F.col("i") >= 0,
        F.concat_ws(
            " ", *[F.element_at("toks", F.col("i") + j + 1) for j in range(n)]
        ),
    ).otherwise(F.col("text"))
    sh = (
        toks.select("source", "text", "toks", F.explode(idx).alias("i"))
        .select("source", portable_hash64(s).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        sh.select("source", "h", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
        .select("source", "h")
    )
    # K·|sources| flat rows consumed by FIVE downstream subtrees (srcs,
    # both union branches, k1, k2): without materialization each consumer
    # re-runs the corpus-sized explode+distinct+window sketch build —
    # measured 5.5 s warm → 1.3 s with the cache at sf0.1. Flat schema, so
    # the nested-columnar cache trap (round-1 gotcha) doesn't apply; the
    # cached relation is sketch-sized at ANY corpus scale.
    # a checkpoint, not cache (round 15): cache() keeps the corpus-sized
    # explode+distinct+window lineage inside the LOGICAL plan, so each of
    # the five consumers re-pays analysis/optimization over the full tree
    # every run — measured ~5 s of driver planning per warm run at sf0.1.
    # The checkpoint truncates the lineage to a K·|sources|-row leaf;
    # downstream planning is then O(sketch), and the materialization job
    # is the same work the first cache fill paid.
    sk = materialize(sk)
    srcs = sk.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
    )
    s1 = sk.select(F.col("source").alias("sa"), "h")
    s2 = sk.select(F.col("source").alias("sb"), "h")
    u = (
        pairs.join(s1, "sa").select("sa", "sb", "h")
        .union(pairs.join(s2, "sb").select("sa", "sb", "h"))
        .distinct()
    )
    wm = Window.partitionBy("sa", "sb").orderBy("h")
    m = (
        u.select("sa", "sb", "h", F.row_number().over(wm).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    k1 = sk.select(F.col("source").alias("sa"), "h", F.lit(1).alias("in_a"))
    k2 = sk.select(F.col("source").alias("sb"), "h", F.lit(1).alias("in_b"))
    both = F.sum(
        F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        m.join(k1, ["sa", "h"], "left")
        .join(k2, ["sb", "h"], "left")
        .groupBy(F.col("sa").alias("source_a"), F.col("sb").alias("source_b"))
        .agg(
            both.cast("long").alias("n_shared_in_sketch"),
            F.round(both.cast("double") / F.count("*"), 6).alias("jaccard_est"),
        )
    )


# ---------------------------------------------------------------------------
# KMV cumulative distinct-user growth curve (round-10)
# ---------------------------------------------------------------------------

KMV_CUM_K = 128


def _kmv_cum_sql() -> str:
    from ..functions.hashing import sql_hash64

    h = sql_hash64("CAST(user_id AS VARCHAR)")
    return f"""
WITH fs AS MATERIALIZED (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_seen, {h} AS h
  FROM events GROUP BY user_id
), days AS MATERIALIZED (
  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
), sk AS MATERIALIZED (
  SELECT first_seen, h FROM (
    SELECT first_seen, h,
           row_number() OVER (PARTITION BY first_seen ORDER BY h) AS rn
    FROM fs
  ) WHERE rn <= {KMV_CUM_K}
), nd AS MATERIALIZED (
  SELECT first_seen, CAST(count(*) AS BIGINT) AS c FROM fs GROUP BY first_seen
), ex AS MATERIALIZED (
  SELECT d.day, CAST(sum(n.c) AS BIGINT) AS exact_users
  FROM days d JOIN nd n ON n.first_seen <= d.day GROUP BY d.day
), cum AS MATERIALIZED (
  SELECT d.day, s.h FROM days d JOIN sk s ON s.first_seen <= d.day
), kth AS MATERIALIZED (
  SELECT day, max(CASE WHEN rn = {KMV_CUM_K} THEN h END) AS hk
  FROM (
    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM cum
  ) GROUP BY day
)
SELECT e.day, e.exact_users,
       round(CASE WHEN e.exact_users < {KMV_CUM_K}
                  THEN CAST(e.exact_users AS DOUBLE)
                  ELSE ({KMV_CUM_K} - 1) * 1152921504606846976.0 / k.hk
             END, 2) AS kmv_estimate,
       round(abs(CASE WHEN e.exact_users < {KMV_CUM_K}
                      THEN CAST(e.exact_users AS DOUBLE)
                      ELSE ({KMV_CUM_K} - 1) * 1152921504606846976.0 / k.hk
                 END - e.exact_users) / e.exact_users, 4) AS rel_err
FROM ex e JOIN kth k ON k.day = e.day
"""


@register("kmv_daily_cumulative", _kmv_cum_sql())
def kmv_daily_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-users-to-date per day, estimated by a cumulative KMV
    sketch and compared against the exact count — the corpus-growth
    monitoring curve, and the MERGEABILITY demo: the per-day partial
    sketches (K smallest new-user hashes per first-seen day) union into
    each day's cumulative sketch, which is sound because a hash ranked
    past K within its own day is dominated by K smaller same-day hashes
    and can never enter the global K minimum. Nothing day-crossing is
    ever user-sized: the union is |days| × K rows and the exact curve is
    a |days|²-bounded cumulative count — the data-sized stages are one
    user groupBy and one first-seen-day count.

    Determinism: the portable 60-bit hash is engine-identical, ranks are
    integer, and the estimator (K-1)·2⁶⁰/h₍K₎ divides identical doubles;
    days whose cumulative count is under K report the exact count (the
    standard underfull-sketch convention)."""
    from pyspark.sql import Window

    from ..functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_seen")
    ).select(
        "first_seen",
        portable_hash64(F.col("user_id").cast("string")).alias("h"),
    )
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    wday = Window.partitionBy("first_seen").orderBy("h")
    sk = (
        fs.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") <= KMV_CUM_K)
        .select("first_seen", "h")
    )
    nd = fs.groupBy("first_seen").agg(F.count("*").alias("c"))
    ex = (
        days.join(F.broadcast(nd), nd.first_seen <= days.day)
        .groupBy("day")
        .agg(F.sum("c").alias("exact_users"))
    )
    cum = days.join(F.broadcast(sk), sk.first_seen <= days.day).select(
        "day", "h"
    )
    wcum = Window.partitionBy("day").orderBy("h")
    kth = (
        cum.withColumn("rn", F.row_number().over(wcum))
        .groupBy("day")
        .agg(
            F.max(
                F.when(F.col("rn") == KMV_CUM_K, F.col("h"))
            ).alias("hk")
        )
    )
    est = F.when(
        F.col("exact_users") < KMV_CUM_K,
        F.col("exact_users").cast("double"),
    ).otherwise(
        (KMV_CUM_K - 1) * F.lit(1152921504606846976.0) / F.col("hk")
    )
    return ex.join(kth, "day").select(
        "day",
        "exact_users",
        F.round(est, 2).alias("kmv_estimate"),
        F.round(
            F.abs(est - F.col("exact_users")) / F.col("exact_users"), 4
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog (round-11): the oracle-CHECKABLE register sketch
# ---------------------------------------------------------------------------

#: 2^8 = 256 registers; std-error ~ 1.04/sqrt(m) ≈ 6.5%
HLL_P = 8
HLL_M = 1 << HLL_P
#: bias constant alpha_m for m >= 128 (Flajolet et al. 2007, Fig. 3)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
#: the 60-bit portable hash leaves 52 bits after the bucket byte
_HLL_WBITS = 52


def _hll_register_sql(key_expr: str, group_cols: str, src: str) -> str:
    """DuckDB register table: one (group, bucket, M) row per non-empty
    register — the exact integer math of the Spark side (bucket = h mod m,
    rho = leading zeros of the remaining 52-bit word + 1, via bin())."""
    from ..functions.hashing import sql_hash64

    h = sql_hash64(key_expr)
    return f"""
  SELECT {group_cols}, hh % {HLL_M} AS b,
         CAST(max(CASE WHEN hh // {HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(hh // {HLL_M}))
             END) AS BIGINT) AS m_reg
  FROM (SELECT {group_cols}, {h} AS hh FROM {src})
  GROUP BY {group_cols}, b
"""


#: estimate from summed scaled registers: S = Σ 2^(53-M) over non-empty
#: registers + zeros·2^53 — an EXACT bigint (max 256·2^52 < 2^63), so the
#: harmonic mean is a division of identical integers on both engines and
#: the estimate is bit-deterministic regardless of aggregation order.
_HLL_EST_SQL = f"""
  SELECT {{group_cols}}, CAST(count(*) AS BIGINT) AS n_filled,
         sum(CAST(pow(2.0, {_HLL_WBITS + 1} - m_reg) AS BIGINT))
           + ({HLL_M} - count(*)) * CAST(pow(2.0, {_HLL_WBITS + 1}) AS BIGINT)
           AS s_scaled
  FROM regs GROUP BY {{group_cols}}
"""


def _hll_estimate_expr_sql(s="s_scaled", filled="n_filled") -> str:
    """Raw estimate with the small-range linear-counting correction —
    identical branch condition and math on both engines."""
    # NB: the bare alpha literal would parse as DECIMAL(16,16) in DuckDB
    # and overflow when multiplied by m — force DOUBLE
    raw = (
        f"CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M}"
        f" * pow(2.0, {_HLL_WBITS + 1}) / {s}"
    )
    zeros = f"({HLL_M} - {filled})"
    return (
        f"CASE WHEN {raw} <= 2.5 * {HLL_M} AND {zeros} > 0"
        f" THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / {zeros})"
        f" ELSE {raw} END"
    )


hll_portable_distinct_oracle = f"""
WITH regs AS MATERIALIZED ({_hll_register_sql(
    "CAST(user_id AS VARCHAR)", "event_type", "events")}),
est AS ({_HLL_EST_SQL.format(group_cols="event_type")}),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       round({_hll_estimate_expr_sql("est.s_scaled", "est.n_filled")}, 4)
         AS hll_estimate,
       e.exact_distinct,
       round(({_hll_estimate_expr_sql("est.s_scaled", "est.n_filled")}
              - e.exact_distinct) / e.exact_distinct, 6) AS rel_err
FROM ex e JOIN est ON est.event_type = e.event_type
"""


def _hll_registers(df: DataFrame, key, group_cols: list[str]) -> DataFrame:
    """(group..., b, m_reg) register table — bucket = portable-hash mod m,
    rho via bin() bit-length, max-combined per bucket. The groupBy is
    map-side combinable (max), so at any scale the exchange carries at
    most |groups|·m rows regardless of input size — the mergeability that
    makes HLL the 100 TB cardinality tool."""
    from ..functions.hashing import portable_hash64

    h = portable_hash64(key)
    w = F.expr(f"hh div {HLL_M}")
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    return (
        df.select(*group_cols, h.alias("hh"))
        .select(
            *group_cols,
            F.pmod("hh", F.lit(HLL_M)).alias("b"),
            rho.cast("bigint").alias("rho"),
        )
        .groupBy(*group_cols, "b")
        .agg(F.max("rho").alias("m_reg"))
    )


def _hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group..., hll_estimate) from a register table: scaled-integer
    harmonic sum (exact bigint — order-independent), then the double
    division and linear-counting branch, identical to the oracle SQL."""
    two53 = float(1 << (_HLL_WBITS + 1))
    est = regs.groupBy(*group_cols).agg(
        F.count("*").alias("n_filled"),
        (
            F.sum(F.pow(F.lit(2.0), F.lit(_HLL_WBITS + 1) - F.col("m_reg"))
                  .cast("bigint"))
            + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << (_HLL_WBITS + 1))
        ).alias("s_scaled"),
    )
    raw = (
        F.lit(HLL_ALPHA * HLL_M * HLL_M * two53)
        / F.col("s_scaled").cast("double")
    )
    zeros = F.lit(HLL_M) - F.col("n_filled")
    lc = F.lit(float(HLL_M)) * F.log(
        F.lit(float(HLL_M)) / zeros.cast("double")
    )
    return est.select(
        *group_cols,
        F.when((raw <= F.lit(2.5 * HLL_M)) & (zeros > 0), lc)
        .otherwise(raw)
        .alias("hll_estimate"),
    )


@register("hll_portable_distinct", hll_portable_distinct_oracle)
def hll_portable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type by a PORTABLE HyperLogLog built from
    the repo's md5-prefix hash — unlike the Spark-native DataSketches
    family above (``hll_sketches``/``approx_distinct``), whose estimator
    is engine-specific and only count-checkable, THIS sketch's register
    math is replicated exactly in the DuckDB oracle, so the estimate
    itself is value-checked cross-engine. Registers are max-merged
    (associative → map-side combine; per-shard sketches roll up), the
    harmonic sum is an exact scaled bigint (order-independent), and the
    standard m·ln(m/zeros) linear-counting branch fires on identical
    values on both engines. Reports the estimate against the exact
    distinct count and the signed relative error (|err| ~ 1.04/√256)."""
    ev = load_table(spark, sf_dir, "events")
    regs = _hll_registers(
        ev, F.col("user_id").cast("string"), ["event_type"]
    )
    est = _hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        F.round("hll_estimate", 4).alias("hll_estimate"),
        "exact_distinct",
        F.round(
            (F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


hll_union_overlap_oracle = f"""
WITH regs AS MATERIALIZED ({_hll_register_sql(
    "CAST(user_id AS VARCHAR)", "event_type", "events")}),
est AS MATERIALIZED ({_HLL_EST_SQL.format(group_cols="event_type")}),
types AS (SELECT DISTINCT event_type FROM regs),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
ureg AS (
  SELECT p.type_a, p.type_b, r.b, max(r.m_reg) AS m_reg
  FROM pairs p JOIN regs r
    ON r.event_type IN (p.type_a, p.type_b)
  GROUP BY p.type_a, p.type_b, r.b
),
uest AS (
  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_filled,
         sum(CAST(pow(2.0, {_HLL_WBITS + 1} - m_reg) AS BIGINT))
           + ({HLL_M} - count(*)) * CAST(pow(2.0, {_HLL_WBITS + 1}) AS BIGINT)
           AS s_scaled
  FROM ureg GROUP BY type_a, type_b
)
SELECT u.type_a, u.type_b,
       round({_hll_estimate_expr_sql("ea.s_scaled", "ea.n_filled")}, 4)
         AS est_a,
       round({_hll_estimate_expr_sql("eb.s_scaled", "eb.n_filled")}, 4)
         AS est_b,
       round({_hll_estimate_expr_sql("u.s_scaled", "u.n_filled")}, 4)
         AS est_union,
       round({_hll_estimate_expr_sql("ea.s_scaled", "ea.n_filled")}
             + {_hll_estimate_expr_sql("eb.s_scaled", "eb.n_filled")}
             - {_hll_estimate_expr_sql("u.s_scaled", "u.n_filled")}, 4)
         AS est_intersection
FROM uest u
JOIN est ea ON ea.event_type = u.type_a
JOIN est eb ON eb.event_type = u.type_b
"""


@register("hll_union_overlap", hll_union_overlap_oracle)
def hll_union_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types from the SAME
    portable-HLL registers: union sketch = per-bucket register max (the
    lossless HLL merge), intersection by inclusion-exclusion — the "how
    many users do these two streams share" question answered from
    |types|·m register rows, never a user-level pairwise compare. All
    sketch math identical to ``hll_portable_distinct`` and value-checked
    against the DuckDB replica."""
    ev = load_table(spark, sf_dir, "events")
    regs = _hll_registers(
        ev, F.col("user_id").cast("string"), ["event_type"]
    ).transform(materialize)  # tiny (|types|·m rows), reused by 3 consumers
    est = _hll_estimate(regs, ["event_type"])
    types = regs.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    ureg = (
        F.broadcast(pairs)
        .join(
            regs,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "b")
        .agg(F.max("m_reg").alias("m_reg"))
    )
    uest = _hll_estimate(ureg, ["type_a", "type_b"]).withColumnRenamed(
        "hll_estimate", "est_union_raw"
    )
    ea = est.select(
        F.col("event_type").alias("type_a"),
        F.col("hll_estimate").alias("ea_raw"),
    )
    eb = est.select(
        F.col("event_type").alias("type_b"),
        F.col("hll_estimate").alias("eb_raw"),
    )
    return (
        uest.join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.round("ea_raw", 4).alias("est_a"),
            F.round("eb_raw", 4).alias("est_b"),
            F.round("est_union_raw", 4).alias("est_union"),
            F.round(
                F.col("ea_raw") + F.col("eb_raw") - F.col("est_union_raw"), 4
            ).alias("est_intersection"),
        )
    )


# ---------------------------------------------------------------------------
# Join-size estimation from count-min sketch inner products
# ---------------------------------------------------------------------------

#: wider than the token sketch: partkey cardinality (200k at sf1) needs
#: width ≫ heavy-hitter count for a usable F2/join-size estimate
JSE_WIDTH = 1024


def _jse_bucket_sql(expr: str, seed: int) -> str:
    from ..functions.hashing import sql_hash64

    seeded = f"concat('j{seed}:', {expr})"
    return f"({sql_hash64(seeded)} % {JSE_WIDTH})"


def _jse_oracle() -> str:
    return f"""
WITH keys AS (
  SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
), cells AS (
  SELECT u.seed,
         CASE u.seed
           {" ".join(f"WHEN {s} THEN {_jse_bucket_sql('k', s)}" for s in range(CMS_DEPTH))}
         END AS bucket,
         CAST(count(*) AS BIGINT) AS cell
  FROM keys, (SELECT unnest([{", ".join(str(s) for s in range(CMS_DEPTH))}]) AS seed) u
  GROUP BY u.seed, bucket
), est AS (
  SELECT seed, CAST(sum(cell * cell) AS BIGINT) AS est_pairs
  FROM cells GROUP BY seed
), truth AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS true_pairs
  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey)
)
SELECT e.seed, e.est_pairs, t.true_pairs,
       e.est_pairs - t.true_pairs AS overestimate
FROM est e, truth t
ORDER BY e.seed
"""


@register("join_size_estimate_cm", _jse_oracle())
def join_size_estimate_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join cardinality estimation from count-min sketch inner
    products (Alon-Matias-Szegedy F2 via CM, Cormode/Muthukrishnan §4.2):
    |lineitem ⋈_partkey lineitem| = Σ_k c(k)² is estimated per sketch row
    as Σ_w cell_w² — the pre-join statistic an optimizer consults before
    choosing a strategy, computed WITHOUT materializing the join. Each
    row overestimates by at most ~N²/width w.h.p.; min over seeds is the
    estimate (the output keeps per-seed rows so the min AND the spread
    are visible, alongside the exact Σc² ground truth).

    Scale: sketch build is one (seed, bucket)-keyed combinable aggregate —
    every task's stream collapses to ≤ DEPTH×WIDTH cells map-side, the
    exchange carries only those partials, and the estimate reduces
    DEPTH×WIDTH rows. Ground truth is one partkey-keyed combinable count.
    All counters are exact BIGINT on both engines — integer-exact oracle,
    no float tolerance anywhere."""
    from ..functions.hashing import portable_hash64

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("k")
    )

    def bucket(col, seed: int):
        return F.pmod(
            portable_hash64(F.concat(F.lit(f"j{seed}:"), col)),
            F.lit(JSE_WIDTH),
        )

    seeded = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        bucket(F.col("k"), s).alias("bucket"),
                    )
                    for s in range(CMS_DEPTH)
                ]
            )
        ).alias("sb")
    ).select("sb.seed", "sb.bucket")
    est = (
        seeded.groupBy("seed", "bucket")
        .agg(F.count("*").alias("cell"))
        .groupBy("seed")
        .agg(F.sum(F.col("cell") * F.col("cell")).alias("est_pairs"))
    )
    truth = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("true_pairs"))
    )
    return (
        est.crossJoin(F.broadcast(truth))
        .select(
            "seed",
            "est_pairs",
            "true_pairs",
            (F.col("est_pairs") - F.col("true_pairs")).alias("overestimate"),
        )
        .orderBy("seed")
    )


# ---------------------------------------------------------------------------
# Join-key skew profile (round 13): the pre-join planning statistic
# ---------------------------------------------------------------------------

#: exact upper-percentile rank cut for the key-frequency distribution,
#: as a fraction: rank ≥ SKEW_P_NUM/SKEW_P_DEN of keys (ascending) = p99
SKEW_P_NUM = 99
SKEW_P_DEN = 100

join_key_skew_oracle = f"""
WITH kc AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_partkey
), cc AS (
  SELECT c, CAST(count(*) AS BIGINT) AS nk FROM kc GROUP BY c
), tot AS (
  SELECT CAST(sum(nk) AS BIGINT) AS n_keys,
         CAST(sum(c * nk) AS BIGINT) AS n_rows,
         CAST(max(c) AS BIGINT) AS max_cnt
  FROM cc
), runs AS (
  SELECT c, nk,
         sum(nk) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM cc
), p99 AS (
  SELECT min(c) AS p99_cnt
  FROM runs, tot
  WHERE {SKEW_P_DEN} * cum >= {SKEW_P_NUM} * n_keys
)
SELECT t.n_keys, t.n_rows, t.max_cnt, p.p99_cnt,
       round(CAST(t.max_cnt AS DOUBLE) * t.n_keys / t.n_rows, 6)
         AS skew_ratio,
       round(CAST(t.max_cnt AS DOUBLE) / t.n_rows, 6) AS top1_share
FROM tot t, p99 p
"""


@register("join_key_skew_profile", join_key_skew_oracle)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frequency skew profile of the lineitem⋈part join key — the
    statistic a planner (or an engineer) reads BEFORE the join to decide
    between plain hash join, AQE skew splitting, and explicit salting
    (functions/skew.py): max and p99 per-key multiplicity, the
    max-to-mean skew ratio (how many×slower the hottest reducer runs
    than the average under hash partitioning), and the hot key's row
    share. Complements `join_size_estimate_cm` (output size) with the
    BALANCE dimension, and `partition_balance` (physical partitions)
    with the logical-key view that survives repartitioning.

    Shape: ONE combinable per-key count, collapsed again to the
    counts-of-counts domain (multiplicity values — tiny at any scale),
    where the p99 is an integer rank cut (100·cum ≥ 99·n_keys — the
    pareto_cutoff_exact spelling, no interpolated percentile) over the
    ascending multiplicity cumulative; max/sums ride the same tiny
    relation. Nothing data-sized moves after the first groupBy."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    kc = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    cc = kc.groupBy("c").agg(F.count("*").alias("nk"))
    tot = cc.agg(
        F.sum("nk").alias("n_keys"),
        F.sum(F.col("c") * F.col("nk")).alias("n_rows"),
        F.max("c").alias("max_cnt"),
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    runs = cc.withColumn("cum", F.sum("nk").over(w))
    p99 = (
        runs.crossJoin(F.broadcast(tot))
        .filter(
            SKEW_P_DEN * F.col("cum") >= SKEW_P_NUM * F.col("n_keys")
        )
        .agg(F.min("c").alias("p99_cnt"))
    )
    return tot.crossJoin(F.broadcast(p99)).select(
        "n_keys",
        "n_rows",
        "max_cnt",
        "p99_cnt",
        F.round(
            F.col("max_cnt").cast("double") * F.col("n_keys")
            / F.col("n_rows"),
            6,
        ).alias("skew_ratio"),
        F.round(F.col("max_cnt").cast("double") / F.col("n_rows"), 6).alias(
            "top1_share"
        ),
    )

"""Flagship query: hybrid top-k room recommendation.

Re-expresses the reference's ``recommendRooms`` batch job
(reference: processing.scala:101-129) over the fixture star schema
(FIXTURES.md §2 mapping: part = room catalog with ``p_size`` as the capacity
analog; lineitem = booking/usage events keyed by ``l_partkey``):

  1. feasibility filter     capacity >= requested size   (processing.scala:79)
  2. usage counts           groupBy + count              (processing.scala:84-86)
  3. collab score           usage / global max usage     (processing.scala:88-98)
  4. left join + null fill  unseen rooms -> 0.0          (processing.scala:103-105)
  5. availability           booked set -> 0.5 else 1.0   (processing.scala:60-74,106-109)
  6. weighted blend         0.5*content + 0.3*collab + 0.2*avail
                                                         (processing.scala:110-115)
  7. top-3 per request size                              (processing.scala:116-129)

Scale-minded deviations from the reference (SURVEY.md §4.3):

- The reference pulls the global max to the driver with ``first()`` and the
  booked-id set to the driver into a Guava Bloom filter via
  ``distinct().collect()``. Both are driver round-trips that die at 100 TB.
  Here the max stays in-plan (1-row aggregate broadcast-cross-joined back)
  and the booked flag comes out of the same per-room aggregation as the
  usage count (exact semantics; see operators/bloom.py for the sketch-based
  variant that preserves the reference's approximate semantics at scale).
- The reference loops request sizes on the driver and unions per-size plans
  (processing.scala:120-129). Here request sizes are a tiny in-plan dimension
  broadcast-joined with the feasibility predicate, and top-k per request is a
  single window — one plan, no driver loop, any number of request sizes.
- ``orderBy(desc).limit(3)`` tie-breaking is nondeterministic in the
  reference; we rank with an explicit (score DESC, key ASC) order so results
  are reproducible and oracle-checkable.

Steps 3-7 are :func:`hybrid_top_k`, which ``plans/domain.py`` scores the
streamed bronze store with too: one scoring policy for both recommenders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.localdf import local_df
from ..registry import register
from ..sources import load_table

REQUEST_SIZES = (10, 25, 40)
TOP_K = 3
W_CONTENT, W_COLLAB, W_AVAIL = 0.5, 0.3, 0.2  # processing.scala:110-115
AVAIL_BOOKED, AVAIL_FREE = 0.5, 1.0  # processing.scala:106-109


def hybrid_top_k(
    rooms: DataFrame,
    usage: DataFrame,
    request_sizes: tuple[int, ...],
    k: int,
) -> DataFrame:
    """Steps 3-7 above, shared by both recommenders: the top ``k`` rooms
    per request size by hybrid score.

    ``rooms`` holds ``room_id`` and ``capacity`` (any other columns ride
    along to the output); ``usage`` holds ``room_id``, ``usage_count`` and
    ``is_booked`` (non-null when the room is booked), one row per room.
    Returns the ``rooms`` columns plus ``request_size``, ``usage_count``,
    ``collab_score``, ``availability_score``, ``final_score`` (both scores
    rounded to 6 places) and ``rank``, ranked by ``(final_score DESC,
    room_id ASC)``."""
    # global max usage stays in-plan as a 1-row aggregate broadcast-
    # cross-joined back, replacing the driver-side .first()
    # (processing.scala:88). Catalyst prunes this branch to a one-column
    # scan with partial aggregation, so a fact-derived ``usage`` is scanned
    # twice (no ReuseExchange); accepted over a Window.partitionBy()
    # spelling, which scans once but funnels every room's row through ONE
    # task. Here the SinglePartition exchange moves one partial max per
    # partition.
    mx = usage.agg(F.max("usage_count").alias("max_usage"))
    usage = usage.join(F.broadcast(mx))
    requests = local_df(
        rooms.sparkSession, [(s,) for s in request_sizes], "request_size int"
    )
    feasible = rooms.join(
        F.broadcast(requests), F.col("capacity") >= F.col("request_size")
    )

    usage_count = F.coalesce(F.col("usage_count"), F.lit(0))
    # rooms absent from usage carry a null max_usage through the left
    # join; their collab score is 0 by definition (0 usages)
    collab = F.coalesce(usage_count.cast("double") / F.col("max_usage"), F.lit(0.0))
    avail = F.when(F.col("is_booked").isNotNull(), F.lit(AVAIL_BOOKED)).otherwise(
        F.lit(AVAIL_FREE)
    )
    final = F.lit(W_CONTENT) * F.lit(1.0) + F.lit(W_COLLAB) * collab + F.lit(W_AVAIL) * avail
    # no broadcast hint: `usage` may derive from a FACT table — bounded by
    # the room dimension in this domain, but a forced broadcast of a
    # fact-derived aggregate is the classic 100×-scale OOM. AQE sees the
    # post-aggregation size at runtime and broadcasts only when it is
    # actually small (VERDICT r2 #4).
    scored = feasible.join(usage, "room_id", "left").select(
        *rooms.columns,
        "request_size",
        usage_count.alias("usage_count"),
        F.round(collab, 6).alias("collab_score"),
        avail.alias("availability_score"),
        F.round(final, 6).alias("final_score"),
    )

    w = Window.partitionBy("request_size").orderBy(
        F.desc("final_score"), F.asc("room_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def recommend_rooms(
    spark: SparkSession,
    sf_dir: str,
    request_sizes: tuple[int, ...] = REQUEST_SIZES,
    k: int = TOP_K,
) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")

    rooms = part.select(
        F.col("p_partkey").alias("room_id"),
        F.col("p_size").alias("capacity"),
        F.col("p_name").alias("room_name"),
    )
    # ONE fact scan + ONE l_partkey shuffle computes BOTH per-room signals:
    # usage count (A1) and the booked flag (any returned booking) — the
    # shuffle-audit showed the previous three-branch form (usage agg,
    # 1-row max agg, booked distinct) rescanning lineitem three times.
    usage = lineitem.groupBy(F.col("l_partkey").alias("room_id")).agg(
        F.count("*").alias("usage_count"),
        F.max(F.when(F.col("l_returnflag") == "R", 1)).alias("is_booked"),
    )
    return hybrid_top_k(rooms, usage, request_sizes, k).select(
        "request_size",
        F.col("room_id").alias("p_partkey"),
        "room_name",
        "capacity",
        "usage_count",
        "collab_score",
        "availability_score",
        "final_score",
        "rank",
    )


RECOMMEND_ORACLE = f"""
WITH usage AS (
  SELECT l_partkey, count(*) AS usage_count FROM lineitem GROUP BY 1
), mx AS (
  SELECT max(usage_count) AS max_usage FROM usage
), booked AS (
  SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'
), requests AS (
  SELECT * FROM (VALUES (10), (25), (40)) t(request_size)
), scored AS (
  SELECT
    r.request_size,
    p.p_partkey,
    p.p_name AS room_name,
    p.p_size AS capacity,
    CAST(coalesce(u.usage_count, 0) AS BIGINT) AS usage_count,
    round(coalesce(u.usage_count, 0)::DOUBLE / mx.max_usage, 6) AS collab_score,
    CAST(CASE WHEN b.l_partkey IS NOT NULL
              THEN {AVAIL_BOOKED} ELSE {AVAIL_FREE} END AS DOUBLE)
      AS availability_score,
    round({W_CONTENT} * 1.0
          + {W_COLLAB} * (coalesce(u.usage_count, 0)::DOUBLE / mx.max_usage)
          + {W_AVAIL} * (CASE WHEN b.l_partkey IS NOT NULL
                              THEN {AVAIL_BOOKED} ELSE {AVAIL_FREE} END), 6)
      AS final_score
  FROM part p
  JOIN requests r ON p.p_size >= r.request_size
  CROSS JOIN mx
  LEFT JOIN usage u ON p.p_partkey = u.l_partkey
  LEFT JOIN booked b ON p.p_partkey = b.l_partkey
)
SELECT request_size, p_partkey, room_name, capacity, usage_count,
       collab_score, availability_score, final_score, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY request_size ORDER BY final_score DESC, p_partkey
  ) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""

register("recommend_rooms", RECOMMEND_ORACLE)(recommend_rooms)


def recommend_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's self-evaluation metric — RMSE of
    ``final_score - collab_score`` over the recommendations
    (processing.scala:132-144) — kept fully in-plan
    (``F.sqrt(F.avg(F.pow(...)))``) instead of the reference's driver-side
    ``first()`` + ``scala.math.sqrt``."""
    recs = recommend_rooms(spark, sf_dir)
    return recs.agg(
        F.round(
            F.sqrt(F.avg(F.pow(F.col("final_score") - F.col("collab_score"), 2))), 6
        ).alias("rmse"),
        F.count("*").alias("n_recommendations"),
    )


RMSE_ORACLE = f"""
WITH recs AS ({RECOMMEND_ORACLE})
SELECT round(sqrt(avg(power(final_score - collab_score, 2))), 6) AS rmse,
       count(*) AS n_recommendations
FROM recs
"""

register("recommend_rmse", RMSE_ORACLE)(recommend_rmse)

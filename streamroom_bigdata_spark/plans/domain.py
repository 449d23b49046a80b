"""SmartRoom domain query over the streamed bronze store.

The reference runs its recommendation batch job against the MongoDB
collections its consumer filled (processing.scala:29-54 reads, 101-129
scores). This is the same third pipeline stage over OUR bronze store — the
partitioned parquet the streaming router writes — so the full reference
pipeline (CSV → wire → stream → bronze → recommend) runs end-to-end on the
reference's actual entities (exercised in tests/test_streaming.py).

Same scale shape as the fixture flagship (plans/recommend.py): in-plan
1-row max broadcast, broadcast distinct-booked left join, request sizes as
an in-plan dimension, one window top-k — no driver round-trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.localdf import local_df
from ..schemas import bronze_schema

REQUEST_SIZES = (25, 40, 60)  # student counts, processing.scala:120-124
TOP_K = 3
W_CONTENT, W_COLLAB, W_AVAIL = 0.5, 0.3, 0.2  # processing.scala:110-115
AVAIL_BOOKED, AVAIL_FREE = 0.5, 1.0  # processing.scala:106-109


def _read_bronze(spark: SparkSession, bronze_dir: str, entity: str) -> DataFrame:
    """One entity directory, read with the layout the router writes (no
    schema inference); raises if the entity never arrived."""
    return spark.read.schema(bronze_schema(entity)).parquet(f"{bronze_dir}/{entity}")


def recommend_classrooms(
    spark: SparkSession,
    bronze_dir: str,
    request_sizes: tuple[int, ...] = REQUEST_SIZES,
    k: int = TOP_K,
) -> DataFrame:
    """Top-k classrooms per requested student count, from the bronze store.

    Inputs are the router's per-entity parquet dirs: ``classroom`` (capacity
    catalog) and ``fixed_booking`` / ``one_time_booking`` (usage events,
    reference processing.scala:57 unions them the same way)."""
    classrooms = _read_bronze(spark, bronze_dir, "classroom").select(
        "classroom_id", F.col("capacity").cast("int").alias("capacity")
    )
    bookings = None
    for entity in ("fixed_booking", "one_time_booking"):
        try:
            b = _read_bronze(spark, bronze_dir, entity).select("classroom_id")
        except Exception:  # entity never arrived on the stream
            continue
        bookings = b if bookings is None else bookings.unionByName(b)
    if bookings is None:
        bookings = spark.createDataFrame([], "classroom_id string")

    usage = bookings.groupBy("classroom_id").agg(
        F.count("*").alias("usage_count")
    )
    max_usage = usage.agg(F.max("usage_count").alias("max_usage"))
    booked = bookings.select("classroom_id").distinct()

    sizes = local_df(
        spark, [(s,) for s in request_sizes], "request_students int"
    )
    scored = (
        classrooms.join(
            F.broadcast(sizes),
            F.col("capacity") >= F.col("request_students"),
        )
        .join(usage, "classroom_id", "left")
        .na.fill({"usage_count": 0})
        .join(F.broadcast(max_usage))
        .join(
            F.broadcast(booked.withColumn("is_booked", F.lit(True))),
            "classroom_id",
            "left",
        )
        .select(
            "classroom_id",
            "request_students",
            "capacity",
            (
                F.lit(W_CONTENT)
                + F.lit(W_COLLAB)
                * (
                    F.col("usage_count")
                    / F.greatest(F.col("max_usage"), F.lit(1))
                )
                + F.lit(W_AVAIL)
                * F.when(
                    F.col("is_booked").isNotNull(), F.lit(AVAIL_BOOKED)
                ).otherwise(F.lit(AVAIL_FREE))
            ).alias("final_score"),
        )
    )
    w = Window.partitionBy("request_students").orderBy(
        F.desc("final_score"), F.asc("classroom_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "request_students",
            "classroom_id",
            "capacity",
            F.round("final_score", 6).alias("final_score"),
            "rnk",
        )
    )

"""SmartRoom domain query over the streamed bronze store.

The reference runs its recommendation batch job against the MongoDB
collections its consumer filled (processing.scala:29-54 reads, 101-129
scores). This is the same third pipeline stage over OUR bronze store — the
per-entity parquet dirs the streaming router writes — so the full reference
pipeline (CSV → wire → stream → bronze → recommend) runs end-to-end on the
reference's actual entities (exercised in tests/test_streaming.py).

Scoring is the fixture flagship's :func:`plans.recommend.hybrid_top_k`
(in-plan 1-row max broadcast, request sizes as an in-plan dimension, one
window top-k — no driver round-trips); this module only turns the bronze
entities into its rooms and usage frames.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import bronze_schema
from .recommend import TOP_K, hybrid_top_k

REQUEST_SIZES = (25, 40, 60)  # student counts, processing.scala:120-124


def _read_bronze(spark: SparkSession, bronze_dir: str, entity: str) -> DataFrame:
    """One entity directory, read with its bronze schema (the entity's
    columns, no inference); raises ``PATH_NOT_FOUND`` if it never arrived."""
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
    reference processing.scala:57 unions them the same way). A classroom is
    booked exactly when it has a booking, i.e. a usage row."""
    rooms = _read_bronze(spark, bronze_dir, "classroom").select(
        F.col("classroom_id").alias("room_id"),
        F.col("capacity").cast("int").alias("capacity"),
    )
    bookings = None
    for entity in ("fixed_booking", "one_time_booking"):
        try:
            b = _read_bronze(spark, bronze_dir, entity).select("classroom_id")
        except AnalysisException as exc:
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            continue  # entity never arrived on the stream
        bookings = b if bookings is None else bookings.unionByName(b)
    if bookings is None:  # an empty Python list would start Python workers
        bookings = spark.sql("SELECT CAST(NULL AS STRING) AS classroom_id WHERE false")

    usage = (
        bookings.groupBy(F.col("classroom_id").alias("room_id"))
        .agg(F.count("*").alias("usage_count"))
        .withColumn("is_booked", F.lit(True))
    )
    return hybrid_top_k(rooms, usage, request_sizes, k).select(
        F.col("request_size").alias("request_students"),
        F.col("room_id").alias("classroom_id"),
        "capacity",
        "final_score",
        F.col("rank").alias("rnk"),
    )

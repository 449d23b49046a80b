"""Explicit schemas.

Two families:

1. **SmartRoom domain schemas** — the six entity types the reference system
   streams through its multiplexed Kafka topic (reference: producer.scala:63-186
   field mappings; consumer.scala:20-41 wire union StructType). Dates/times are
   deliberately strings here for wire-parity; the typed bronze store adds real
   timestamps at ingest.
2. **Fixture tables** — the generated TPC-H-ish tables (see
   FIXTURES.md §2), listed by name only. Their schemas are not spelled out
   here: ``sources.readers.load_table`` infers each table's schema once per
   file version and session confs, then pins it on every later read.

Bronze entity directories are read with :func:`bronze_schema`, the entity's
columns of the router's files (which carry every wire column but
``source_type``), so live reads infer nothing; every reader must project
through it.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# SmartRoom entity schemas (reference parity)
# ---------------------------------------------------------------------------

FIXED_BOOKING = T.StructType(
    [
        T.StructField("booking_id", T.StringType()),
        T.StructField("section_id", T.StringType()),
        T.StructField("classroom_id", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("start_time", T.StringType()),
        T.StructField("end_time", T.StringType()),
        T.StructField("students", T.IntegerType()),
    ]
)

ONE_TIME_BOOKING = T.StructType(
    [
        T.StructField("onetime_id", T.StringType()),
        T.StructField("professor_id", T.StringType()),
        T.StructField("classroom_id", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("start_time", T.StringType()),
        T.StructField("end_time", T.StringType()),
        T.StructField("students", T.IntegerType()),
        T.StructField("booking_type", T.StringType()),
    ]
)

CLASSROOM = T.StructType(
    [
        T.StructField("classroom_id", T.StringType()),
        T.StructField("college_id", T.StringType()),
        T.StructField("room_number", T.StringType()),
        T.StructField("capacity", T.IntegerType()),
    ]
)

COURSES = T.StructType(
    [
        T.StructField("course_id", T.StringType()),
        T.StructField("course_name", T.StringType()),
        T.StructField("department", T.StringType()),
        T.StructField("fixed_students", T.IntegerType()),
    ]
)

PROFESSORS = T.StructType(
    [
        T.StructField("professor_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("department", T.StringType()),
        T.StructField("college_id", T.StringType()),
    ]
)

SECTIONS = T.StructType(
    [
        T.StructField("section_id", T.StringType()),
        T.StructField("course_id", T.StringType()),
        T.StructField("professor_id", T.StringType()),
        T.StructField("day_schedule", T.StringType()),
        T.StructField("start_hour", T.StringType()),
        T.StructField("duration_hours", T.StringType()),
        T.StructField("classroom_id", T.StringType()),
        T.StructField("fixed_students", T.IntegerType()),
    ]
)

#: entity name -> (schema, dedup key) — dedup keys per reference consumer.scala:61-91
ENTITIES: dict[str, tuple[T.StructType, str]] = {
    "fixed_booking": (FIXED_BOOKING, "booking_id"),
    "one_time_booking": (ONE_TIME_BOOKING, "onetime_id"),
    "classroom": (CLASSROOM, "classroom_id"),
    "courses": (COURSES, "course_id"),
    "professors": (PROFESSORS, "professor_id"),
    "sections": (SECTIONS, "section_id"),
}


def wire_union_schema() -> T.StructType:
    """The 21-field wide union schema of all six entities plus the
    ``source_type`` discriminator and ingest stamps (reference:
    consumer.scala:20-41). Fields absent for a given source_type parse as
    null under ``from_json``."""
    fields: dict[str, T.StructField] = {}
    for schema, _key in ENTITIES.values():
        for f in schema.fields:
            fields.setdefault(f.name, f)
    ordered = list(fields.values())
    ordered.append(T.StructField("source_type", T.StringType()))
    ordered.append(T.StructField("ingestion_timestamp", T.StringType()))
    ordered.append(T.StructField("ingestion_date", T.StringType()))
    return T.StructType(ordered)


WIRE_SCHEMA = wire_union_schema()


def bronze_schema(entity: str) -> T.StructType:
    """What readers see of one bronze entity directory: the entity's fields
    with their wire types, plus the ingest stamps. The router's files hold
    every wire column but ``source_type``; the domain queries read with it."""
    names = [f.name for f in ENTITIES[entity][0].fields]
    names += ["ingestion_timestamp", "ingestion_date"]
    return T.StructType([WIRE_SCHEMA[n] for n in names])


# ---------------------------------------------------------------------------
# Fixture tables (/root/testdata/sf*/ — FIXTURES.md §2)
# ---------------------------------------------------------------------------

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

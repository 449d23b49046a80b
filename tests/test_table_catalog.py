"""The table catalog behind ``sources.readers.load_table``: a table's schema
is inferred once per file version and session confs, and pinned on every
later read, so a warm read submits no Spark job. Also guards the codegen
cache size and the one-loader rule for fixture tables."""

from __future__ import annotations

import ast
import itertools
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from streamroom_bigdata_spark.schemas import WIRE_SCHEMA, bronze_schema
from streamroom_bigdata_spark.sources import load_table, readers

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "streamroom_bigdata_spark"
_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"table-catalog-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_submits_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    first, first_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    second, second_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert first_jobs >= 1  # inference reads the footer in a Spark job
    assert second_jobs == 0
    assert second.schema == first.schema
    # each call builds a fresh relation: a self-join resolves unambiguously
    pairs = first.join(second, first.k == second.k - 1).select(first.v, second.v)
    assert sorted(tuple(r) for r in pairs.collect()) == [("a", "b"), ("b", "c")]


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x", "y"], "c": [1.5, 2.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [("x", 1.5), ("y", 2.5)]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    # a timezone-naive parquet timestamp: TIMESTAMP_NTZ or TIMESTAMP
    # depending on spark.sql.parquet.inferTimestampNTZ.enabled
    pq.write_table(pa.table({"ts": pa.array([0], pa.timestamp("us"))}), tmp_path / "t.parquet")
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert isinstance(load_table(spark, str(tmp_path), "t").schema["ts"].dataType,
                          T.TimestampType)
        spark.conf.set(conf, "true")
        assert isinstance(load_table(spark, str(tmp_path), "t").schema["ts"].dataType,
                          T.TimestampNTZType)
        spark.conf.set(conf, "false")
        df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert jobs == 0
    finally:
        spark.conf.set(conf, old)


def test_nanos_events_conf_scoped_to_inference(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``events`` table loads with ``ts`` floored to
    microseconds, cold and warm, and the session's conf is unchanged
    afterwards: the conf that lets inference read nanos holds for the
    inferring read only."""
    from pyspark.sql import functions as F

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    ts = pa.array([1_500, 2_000_999, 7_000_000_000], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2, 3], "ts": ts}), tmp_path / "events.parquet")
    before = spark.conf.get(conf, None)
    for _ in range(2):  # inferred, then pinned from the catalog
        df = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(conf, None) == before
        got = sorted(tuple(r) for r in df.select("event_id", F.unix_micros("ts")).collect())
        assert got == [(1, 1), (2, 2_000), (3, 7_000_000)]


def test_uri_path_falls_back_to_inference(spark, tmp_path):
    pq.write_table(pa.table({"k": [7, 8]}), tmp_path / "t.parquet")
    uri = f"file://{tmp_path}"
    load_table(spark, uri, "t")
    df, jobs = _jobs(spark, lambda: load_table(spark, uri, "t"))
    assert jobs >= 1  # not cataloged: inferred on every read, as before
    assert sorted(r.k for r in df.collect()) == [7, 8]
    assert not any("file:" in path for path, _ in readers._SCHEMAS)


def test_bronze_reads_infer_nothing(spark, tmp_path):
    """recommend_classrooms reads the bronze store through the pinned
    bronze schema: the entity's own columns and values come out of the
    router's files, building the query submits no schema-inference job, and
    an entity that never arrived is still skipped."""
    from streamroom_bigdata_spark.plans.domain import _read_bronze, recommend_classrooms
    from streamroom_bigdata_spark.streaming.router import route_batch

    rows = [
        {"source_type": "classroom", "classroom_id": "C1", "capacity": 40},
        {"source_type": "classroom", "classroom_id": "C2", "capacity": 60},
        {"source_type": "fixed_booking", "booking_id": "B1", "classroom_id": "C1"},
    ]
    batch = spark.createDataFrame(
        [tuple(r.get(f.name) for f in WIRE_SCHEMA.fields) for r in rows], WIRE_SCHEMA
    )
    bronze = str(tmp_path / "bronze")
    route_batch(batch, bronze)
    assert not pathlib.Path(bronze, "one_time_booking").exists()
    rooms = _read_bronze(spark, bronze, "classroom")
    assert rooms.columns == bronze_schema("classroom").names
    assert sorted(map(tuple, rooms.collect())) == [
        ("C1", None, None, 40, None, None), ("C2", None, None, 60, None, None)]
    df, jobs = _jobs(spark, lambda: recommend_classrooms(spark, bronze, (50,), 3))
    assert jobs == 0
    assert [(r.classroom_id, r.rnk) for r in df.collect()] == [("C2", 1)]


def test_warm_pass_compiles_no_codegen_classes(spark, sf_dir):
    """The analytics mix needs about 90 generated classes; Spark's default
    100-entry codegen cache (4 segments of 25) evicts and recompiles them on
    every pass. The session's cache must hold the mix."""
    from streamroom_bigdata_spark import registry

    qs = registry.queries()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    mix = ("recommend_rooms", "pricing_summary", "q7_volume_shipping", "bm25_search")

    def one_pass():
        n0 = compiled.getCount()
        for q in mix:
            qs[q](spark, sf_dir).collect()
        return compiled.getCount() - n0

    one_pass()
    assert one_pass() <= 5


def test_fixture_tables_have_one_loader():
    """Fixture tables (``sf_dir`` paths) are read through
    ``sources.readers.load_table`` only, so every read uses the catalog."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "sources" / "readers.py":
            continue
        offenders += [
            f"{path.relative_to(PACKAGE)}:{node.lineno}"
            for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and ".read" in ast.unparse(node.func.value)
            and any("sf_dir" in ast.unparse(a) for a in node.args)
        ]
    assert not offenders, f"spark.read.parquet on an sf_dir path: {offenders}"

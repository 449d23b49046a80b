"""Streaming pipeline tests (SURVEY.md §2.9 T1-T10, §5.3).

Deterministic micro-batch tests: file sources (one file per micro-batch with
``maxFilesPerTrigger=1``) and memory sinks instead of Kafka — same micro-batch
engine, reproducible batches.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from conftest import run_fold_to_memory
from pyspark.sql import functions as F

from streamroom_bigdata_spark.schemas import ENTITIES, WIRE_SCHEMA, bronze_schema
from streamroom_bigdata_spark.sources.readers import (
    kafka_source_options,
    stream_file_source,
)
from streamroom_bigdata_spark.streaming import queries as sq
from streamroom_bigdata_spark.streaming import stateful
from streamroom_bigdata_spark.streaming.ingest import (
    entity_dir_to_wire,
    parse_wire,
    tag_entity,
    to_wire_json,
)
from streamroom_bigdata_spark.streaming.router import (
    content_dedup_stream,
    dedup_stream,
    route_batch,
    start_router,
)

EVENTS_DDL = "event_id long, ts timestamp, user_id long, value double"


def _write_entity_csvs(tmp_path):
    (tmp_path / "fixed_booking.csv").write_text(
        "booking_id;section_id;classroom_id;date;start_time;end_time;students\n"
        "B1;S1;C1;2024-01-01;08:00:00;10:00:00;30\n"
        "B2;S2;C2;2024-01-01;10:00:00;12:00:00;45\n"
        "B2;S2;C2;2024-01-01;10:00:00;12:00:00;45\n"  # dup key
        "BAD;ROW\n"  # short row -> dropped (DROPMALFORMED)
    )
    (tmp_path / "classroom.csv").write_text(
        "classroom_id;college_id;room_number;capacity\n"
        "C1;COL1;101;40\nC2;COL1;102;60\n"
    )


def test_csv_to_wire_roundtrip(spark, tmp_path):
    """S2/S5: csv -> tagged JSON -> from_json recovers typed fields; short
    rows drop; absent fields are null."""
    _write_entity_csvs(tmp_path)
    wire = entity_dir_to_wire(spark, str(tmp_path))
    parsed = parse_wire(wire)
    rows = {
        (r.source_type, r.booking_id or r.classroom_id): r
        for r in parsed.collect()
    }
    assert ("fixed_booking", "B1") in rows
    b1 = rows[("fixed_booking", "B1")]
    assert b1.students == 30 and b1.capacity is None
    c2 = rows[("classroom", "C2")]
    assert c2.capacity == 60 and c2.booking_id is None
    # short row dropped, dup retained at wire level (dedup is the router's job)
    assert parsed.filter(F.col("source_type") == "fixed_booking").count() == 3


def test_router_batch_demux_and_dedup(spark, tmp_path):
    """T1/T2 within-batch: six-way demux off one deduped batch, per-entity
    dedup keys, per-entity column subsets as the bronze reader sees them."""
    from streamroom_bigdata_spark.plans.domain import _read_bronze

    _write_entity_csvs(tmp_path)
    parsed = parse_wire(entity_dir_to_wire(spark, str(tmp_path)))
    bronze = tmp_path / "bronze_sep"
    route_batch(parsed, str(bronze))
    fixed = _read_bronze(spark, str(bronze), "fixed_booking")
    assert "capacity" not in fixed.columns  # entity-specific projection
    # B2 dup dropped; the files' values come through the pinned schema
    assert sorted((r.booking_id, r.classroom_id, r.students)
                  for r in fixed.collect()) == [("B1", "C1", 30), ("B2", "C2", 45)]
    rooms = _read_bronze(spark, str(bronze), "classroom")
    assert sorted((r.classroom_id, r.capacity) for r in rooms.collect()) == [
        ("C1", 40), ("C2", 60)]
    # an absent entity writes no dir, and no staging dir stays behind
    assert sorted(os.listdir(bronze)) == ["classroom", "fixed_booking"]


def _newest_job_id(spark) -> int:
    """Id of the newest job in the status store; job ids are allocated one
    by one, so two readings differ by the number of jobs in between."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(spark._jvm.java.util.Collections.emptyList())
    return jobs.apply(0).jobId() if jobs.size() else -1


def test_route_batch_dedups_once_and_releases(spark, tmp_path):
    """3,000 rows over five entities, each key sent 1.5 times on average,
    and the same key value under every entity: one keyed dedup and one
    partitioned write serve all six entities (the per-entity form submitted
    17-18 jobs, the pooled writes off a materialized batch 8), each entity
    keeps each of its keys once, a key shared across entities stays in
    each, and nothing stays persisted."""
    entities = ["fixed_booking", "one_time_booking", "classroom", "courses",
                "professors"]
    keys = {ENTITIES[e][1] for e in entities}
    source = F.element_at(
        F.array(*[F.lit(e) for e in entities]), (F.col("id") % 5 + 1).cast("int")
    )
    key = F.concat(F.lit("K"), (F.col("id") / 5).cast("long") % 400)
    batch = spark.range(3000).select(*[
        (source if f.name == "source_type" else key if f.name in keys
         else F.lit(None)).cast(f.dataType).alias(f.name)
        for f in WIRE_SCHEMA.fields
    ])
    bronze = str(tmp_path / "bronze")
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    before = _newest_job_id(spark)
    route_batch(batch, bronze)
    assert _newest_job_id(spark) - before <= 2
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == rdds
    for e in entities:
        got = spark.read.schema(bronze_schema(e)).parquet(f"{bronze}/{e}")
        key_col = ENTITIES[e][1]
        row = got.agg(F.count("*").alias("n"),
                      F.count_distinct(key_col).alias("keys"),
                      F.sum((F.col(key_col) == "K1").cast("int")).alias("k1")).first()
        assert (row.n, row.keys, row.k1) == (400, 400, 1), e


def test_route_batch_leaves_no_reliable_checkpoint(spark, tmp_path,
                                                  reliable_checkpoints):
    """With ``spark.checkpoint.dir`` set, routing writes nothing there: a
    long-running router must not grow the checkpoint dir by one ``rdd-*``
    per micro-batch."""
    ckpt = reliable_checkpoints()
    _write_entity_csvs(tmp_path)
    parsed = parse_wire(entity_dir_to_wire(spark, str(tmp_path)))
    for _ in range(2):
        route_batch(parsed, str(tmp_path / "bronze"))
    assert not [d for d in os.listdir(ckpt) if d.startswith("rdd-")]


def test_route_batch_ignores_and_clears_stale_staging(spark, tmp_path):
    """A batch interrupted after its staging write leaves
    ``_staging/source_type=…`` behind; the next batch neither routes those
    rows nor leaves the directory."""
    from streamroom_bigdata_spark.plans.domain import _read_bronze

    bronze = tmp_path / "bronze"
    stale = [{"source_type": "fixed_booking", "booking_id": "STALE"},
             {"source_type": "courses", "course_id": "STALE"}]  # not in the batch
    spark.createDataFrame(
        [tuple(r.get(f.name) for f in WIRE_SCHEMA.fields) for r in stale], WIRE_SCHEMA
    ).write.partitionBy("source_type").parquet(str(bronze / "_staging"))
    _write_entity_csvs(tmp_path)
    route_batch(parse_wire(entity_dir_to_wire(spark, str(tmp_path))), str(bronze))
    got = sorted(r.booking_id for r in _read_bronze(
        spark, str(bronze), "fixed_booking").collect())
    assert got == ["B1", "B2"]
    assert sorted(os.listdir(bronze)) == ["classroom", "fixed_booking"]


def test_recommend_classrooms_planted_store(spark, tmp_path):
    """Hand-scored store: C1 unbooked (free score), C2/C3 an exact tie at
    two bookings each (broken by classroom_id), C4/C5 one booking each, C5
    too small for either request; no one_time_booking directory at all,
    and before the fixed bookings land no booking directory either."""
    from streamroom_bigdata_spark.plans.domain import recommend_classrooms

    bronze = tmp_path / "bronze"

    def plant(entity, rows):
        schema = bronze_schema(entity)
        spark.createDataFrame(
            [tuple(r.get(f.name) for f in schema.fields) for r in rows], schema
        ).write.parquet(str(bronze / entity))

    plant("classroom", [{"classroom_id": c, "capacity": cap} for c, cap in
                        [("C1", 30), ("C2", 50), ("C3", 50), ("C4", 80), ("C5", 20)]])
    got = recommend_classrooms(spark, str(bronze), (25, 60), 4).collect()
    assert sorted(map(tuple, got)) == [  # every room free: 0.5 + 0.2*1.0
        (25, "C1", 30, 0.7, 1), (25, "C2", 50, 0.7, 2), (25, "C3", 50, 0.7, 3),
        (25, "C4", 80, 0.7, 4), (60, "C4", 80, 0.7, 1)]
    plant("fixed_booking", [{"booking_id": f"B{i}", "classroom_id": c} for i, c in
                            enumerate(["C2", "C3", "C2", "C3", "C4", "C5"])])
    got = recommend_classrooms(spark, str(bronze), (25, 60), 4).collect()
    # max usage 2: 0.5 + 0.3*usage/2 + 0.2*(0.5 if booked else 1.0)
    assert sorted(map(tuple, got)) == [
        (25, "C1", 30, 0.7, 4),
        (25, "C2", 50, 0.9, 1),
        (25, "C3", 50, 0.9, 2),
        (25, "C4", 80, 0.75, 3),
        (60, "C4", 80, 0.75, 1),
    ]


def test_recommend_classrooms_raises_unreadable_bookings(spark, tmp_path,
                                                         monkeypatch):
    """Only a booking entity that never arrived is skipped (the planted
    store above has no one_time_booking dir): any other failure to read one
    propagates instead of scoring every room as unbooked."""
    from streamroom_bigdata_spark.plans import domain

    bronze = str(tmp_path / "bronze")
    spark.createDataFrame([("C1", 40)], "classroom_id string, capacity int").write.parquet(
        f"{bronze}/classroom")
    read = domain._read_bronze

    def read_bookings_from_unknown_fs(spark, bronze_dir, entity):
        if entity != "classroom":
            bronze_dir = f"nosuchfs://{bronze_dir}"
        return read(spark, bronze_dir, entity)

    monkeypatch.setattr(domain, "_read_bronze", read_bookings_from_unknown_fs)
    with pytest.raises(Exception, match="nosuchfs"):
        domain.recommend_classrooms(spark, bronze, (25,), 3)


def test_streaming_router_end_to_end(spark, tmp_path):
    """T1-T5: wire JSON files -> readStream -> foreachBatch router -> bronze
    parquet, checkpointed, availableNow trigger."""
    _write_entity_csvs(tmp_path)
    wire_dir = tmp_path / "wire"
    entity_dir_to_wire(spark, str(tmp_path)).write.mode("overwrite").json(str(wire_dir))
    stream = stream_file_source(
        spark, str(wire_dir), "value string", fmt="json", maxFilesPerTrigger=1
    )
    q = start_router(
        parse_wire(stream),
        str(tmp_path / "bronze"),
        str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    fixed = spark.read.parquet(str(tmp_path / "bronze" / "fixed_booking"))
    assert {r.booking_id for r in fixed.collect()} == {"B1", "B2"}
    # restart with same checkpoint: no new data -> no duplicate appends
    q2 = start_router(
        parse_wire(
            stream_file_source(
                spark, str(wire_dir), "value string", fmt="json", maxFilesPerTrigger=1
            )
        ),
        str(tmp_path / "bronze"),
        str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "bronze" / "fixed_booking")).count() == 2


def _stream_events(spark, tmp_path, batches):
    """One JSON file per micro-batch; maxFilesPerTrigger=1 keeps batch
    boundaries deterministic."""
    src = tmp_path / "events_src"
    src.mkdir(exist_ok=True)
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        path = src / f"batch_{i}.json"
        pd.DataFrame(rows).to_json(
            path, orient="records", lines=True, date_format="iso"
        )
        # file source orders batches by mtime; force a strict, stable order
        os.utime(path, (base + i, base + i))
    return stream_file_source(
        spark, str(src), EVENTS_DDL, fmt="json", maxFilesPerTrigger=1
    )


def _run_to_memory(df, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_cross_batch_dedup(spark, tmp_path):
    """T2 upgrade: dedup is KEY-ONLY across micro-batches — the same
    event_id arriving in a LATER batch with a DIFFERENT timestamp is still
    dropped (the reference's within-batch, key-only dedup misses the
    cross-batch case; a (key, ts) composite dedup would miss the
    different-ts case)."""
    e = {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "value": 1.0}
    e_rets = {"event_id": 1, "ts": "2024-01-01T00:02:00", "user_id": 1, "value": 1.0}
    e2 = {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 2, "value": 2.0}
    stream = _stream_events(spark, tmp_path, [[e, e], [e_rets, e2]])
    deduped = dedup_stream(stream, "event_id", ts_col="ts")
    _run_to_memory(deduped, "dedup_sink", "append")
    rows = spark.sql("select * from dedup_sink").collect()
    assert sorted(r.event_id for r in rows) == [1, 2]
    # the survivor for key 1 is the FIRST arrival, not the retransmit
    (first,) = [r for r in rows if r.event_id == 1]
    assert first.ts.minute == 0


def test_content_dedup_stream_drops_rekeyed_payload(spark, tmp_path):
    """T2 content upgrade: the SAME payload arriving in a later batch
    under a DIFFERENT event_id is dropped (key dedup cannot see it), and
    the batch audit twin counts exactly the duplicates the stream
    dropped — same content_fingerprint definition on both paths."""
    import pandas as pd

    from streamroom_bigdata_spark.operators.dedup import content_fingerprint

    p1 = {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 7, "value": 1.5}
    # re-keyed retransmit of p1's payload (user 7, value 1.5), new id + ts
    p1_rekeyed = {
        "event_id": 9, "ts": "2024-01-01T00:03:00", "user_id": 7, "value": 1.5,
    }
    p2 = {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 8, "value": 1.5}
    stream = _stream_events(spark, tmp_path, [[p1], [p1_rekeyed, p2]])
    fp_cols = [
        F.col("user_id").cast("string"),
        F.floor(F.col("value") * 1000000).cast("long").cast("string"),
    ]
    deduped = content_dedup_stream(
        stream.withColumn("fp0", fp_cols[0]).withColumn("fp1", fp_cols[1]),
        ["fp0", "fp1"],
        ts_col="ts",
    )
    _run_to_memory(deduped, "content_dedup_sink", "append")
    rows = spark.sql("select * from content_dedup_sink").collect()
    # event 9 (re-keyed copy of 1) dropped; 1 and 2 survive
    assert sorted(r.event_id for r in rows) == [1, 2]
    # output carries the fingerprint column, equal to the batch helper's
    batch = spark.createDataFrame(pd.DataFrame([p1])).withColumn(
        "h", content_fingerprint(*fp_cols)
    )
    want_hash = batch.collect()[0].h
    (kept,) = [r for r in rows if r.event_id == 1]
    assert kept.content_hash == want_hash


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    """T7/T8: watermarked streaming tumbling agg over deterministic batches
    converges to the batch answer on the same rows."""
    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01T{i % 3:02d}:{(7 * i) % 60:02d}:00",
            "user_id": i % 4,
            "value": float(i),
        }
        for i in range(40)
    ]
    rows_df = spark.createDataFrame(
        pd.DataFrame(rows).assign(ts=lambda d: pd.to_datetime(d.ts)), EVENTS_DDL
    ).withColumn("event_type", F.lit("x"))
    stream = _stream_events(spark, tmp_path, [rows[:20], rows[20:]]).withColumn(
        "event_type", F.lit("x")
    )
    streamed = sq.tumbling_agg(sq.with_watermark(stream))
    _run_to_memory(streamed, "tumble_sink", "append")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from tumble_sink").collect()
    }
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in sq.tumbling_agg(rows_df).collect()
    }
    # append mode emits only windows closed by the final watermark; every
    # emitted window must carry the full batch-equivalent counts
    assert got
    for k, v in got.items():
        assert expected[k] == v


def test_watermark_drops_late_rows(spark, tmp_path):
    """T7: a row arriving far behind the watermark is excluded from its
    (already closed) window."""
    on_time = [
        {"event_id": i, "ts": f"2024-01-01T00:0{i}:00", "user_id": 1, "value": 1.0}
        for i in range(5)
    ]
    advance = [  # pushes watermark past hour 0 (15-min delay)
        {"event_id": 100, "ts": "2024-01-01T03:00:00", "user_id": 1, "value": 1.0}
    ]
    advance2 = [  # watermark computed from a batch applies one batch later
        {"event_id": 102, "ts": "2024-01-01T03:10:00", "user_id": 1, "value": 1.0}
    ]
    late = [  # hour-0 row after the watermark passed hour 0 end
        {"event_id": 101, "ts": "2024-01-01T00:30:00", "user_id": 1, "value": 99.0}
    ]
    stream = _stream_events(
        spark, tmp_path, [on_time, advance, advance2, late]
    ).withColumn("event_type", F.lit("x"))
    streamed = sq.tumbling_agg(sq.with_watermark(stream))
    _run_to_memory(streamed, "late_sink", "append")
    hour0 = [
        r
        for r in spark.sql("select * from late_sink").collect()
        if r.window_start.hour == 0
    ]
    assert len(hour0) == 1
    assert hour0[0].n_events == 5  # late row NOT counted
    assert hour0[0].sum_value == 5.0


def test_stateful_running_counts(spark, tmp_path):
    """T10: built-in streaming groupBy in update mode accumulates across
    micro-batches; last emission per key is the running total."""
    b1 = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 1, "value": 2.0},
    ]
    b2 = [
        {"event_id": 3, "ts": "2024-01-01T00:02:00", "user_id": 1, "value": 3.0},
        {"event_id": 4, "ts": "2024-01-01T00:03:00", "user_id": 2, "value": 4.0},
    ]
    stream = _stream_events(spark, tmp_path, [b1, b2])
    _run_to_memory(stateful.running_counts(stream), "counts_sink", "complete")
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.sql("select * from counts_sink").collect()
    }
    assert got == {1: (3, 6.0), 2: (1, 4.0)}


def test_apply_in_pandas_with_state(spark, tmp_path):
    """T10 arbitrary state: per-key (count, sum) state survives across
    micro-batches and every update emission reflects the running value."""
    b1 = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 7, "value": 10.0}
    ]
    b2 = [
        {"event_id": 2, "ts": "2024-01-01T00:05:00", "user_id": 7, "value": 5.0},
        {"event_id": 3, "ts": "2024-01-01T00:06:00", "user_id": 8, "value": 1.0},
    ]
    stream = _stream_events(spark, tmp_path, [b1, b2])
    run_fold_to_memory(stateful.running_stats_stateful(stream), "state_sink")
    rows = spark.sql("select * from state_sink").collect()
    final = {}
    for r in rows:  # update mode appends one row per key per batch; keep last
        final[r.user_id] = (r.n_events, r.sum_value)
    assert final == {7: (2, 15.0), 8: (1, 1.0)}


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python state server needs google.protobuf, "
    "absent in this container (no installs allowed)",
)
def test_transform_with_state_agrees_with_apply_in_pandas(spark, tmp_path):
    """T10 (Spark 4 transformWithStateInPandas): same micro-batches as the
    applyInPandasWithState test must yield the same final per-key stats —
    the two arbitrary-state APIs are semantically interchangeable here."""
    b1 = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 7, "value": 10.0}
    ]
    b2 = [
        {"event_id": 2, "ts": "2024-01-01T00:05:00", "user_id": 7, "value": 5.0},
        {"event_id": 3, "ts": "2024-01-01T00:06:00", "user_id": 8, "value": 1.0},
    ]
    stream = _stream_events(spark, tmp_path, [b1, b2])
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        _run_to_memory(stateful.running_stats_tws(stream), "tws_sink", "update")
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    final = {}
    for r in spark.sql("select * from tws_sink").collect():
        final[r.user_id] = (r.n_events, r.sum_value)
    assert final == {7: (2, 15.0), 8: (1, 1.0)}


def test_tws_processor_logic_unit():
    """The RunningStatsProcessor's per-batch math, unit-tested against a
    duck-typed ValueState (the engine-side protobuf transport is
    environment-gated above; the state semantics are not)."""

    class _FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class _FakeHandle:
        def __init__(self):
            self.state = _FakeValueState()

        def getValueState(self, name, schema, ttlDurationMs=None):
            assert ttlDurationMs is not None  # idle keys must expire
            return self.state

    proc = stateful.RunningStatsProcessor()
    handle = _FakeHandle()
    proc.init(handle)
    out1 = list(
        proc.handleInputRows((7,), iter([pd.DataFrame({"value": [10.0]})]), None)
    )
    out2 = list(
        proc.handleInputRows((7,), iter([pd.DataFrame({"value": [5.0]})]), None)
    )
    assert out1[0].iloc[0].tolist() == [7, 1, 10.0]
    assert out2[0].iloc[0].tolist() == [7, 2, 15.0]
    assert handle.state.get() == (2, 15.0)


class _FakeGroupState:
    """Duck-typed GroupState for unit-testing the timeout branch (the real
    ProcessingTimeTimeout can't be triggered deterministically in a test)."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.rearmed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self.removed = True
        self._v = None

    def setTimeoutDuration(self, _ms):
        self.rearmed = True


def test_stateful_timeout_expires_idle_key():
    """An idle key's timeout invocation must remove state, emit nothing, and
    NOT re-arm the timeout — otherwise idle keys live forever (ADVICE r1)."""
    state = _FakeGroupState(value=(3, 6.0), timed_out=True)
    out = list(stateful._update_stats((7,), iter([]), state))
    assert out == []
    assert state.removed
    assert not state.rearmed


def test_stateful_update_accumulates_and_arms():
    state = _FakeGroupState(value=(1, 2.0))
    batch = pd.DataFrame({"value": [3.0, 4.0]})
    out = list(stateful._update_stats((7,), iter([batch]), state))
    assert state.get == (3, 9.0)
    assert state.rearmed
    assert out[0].loc[0, "n_events"] == 3


def test_kafka_option_builder():
    """S4: Kafka read options carry backpressure via maxOffsetsPerTrigger
    (replacing the reference producer's 200 ms/record sleep)."""
    opts = kafka_source_options(
        "broker:9092", "room_requests", "earliest", max_offsets_per_trigger=50_000
    )
    assert opts["subscribe"] == "room_requests"
    assert opts["maxOffsetsPerTrigger"] == "50000"


def test_wire_schema_covers_all_entities():
    wire_names = {f.name for f in WIRE_SCHEMA.fields}
    for name, (schema, key) in ENTITIES.items():
        assert {f.name for f in schema.fields} <= wire_names
        assert key in {f.name for f in schema.fields}


def test_tag_entity_stamps(spark):
    df = spark.createDataFrame([("C9", "COL1", "900", 25)], ENTITIES["classroom"][0])
    tagged = tag_entity(df, "classroom")
    r = tagged.collect()[0]
    assert r.source_type == "classroom"
    assert len(r.ingestion_timestamp) == 19  # yyyy-MM-dd HH:mm:ss
    wire = to_wire_json(tagged).collect()[0]
    assert '"classroom_id":"C9"' in wire.value


def test_dispatch_entity_substring_rules():
    """Filename dispatch mirrors the reference's contains-rules
    (producer.scala:63-72) and also accepts exact entity names."""
    from streamroom_bigdata_spark.streaming.ingest import dispatch_entity

    assert dispatch_entity("STUDENT_BOOKINGS_2024.csv") == "fixed_booking"
    assert dispatch_entity("bookings_onetime_v2.csv") == "one_time_booking"
    assert dispatch_entity("Classrooms_export.csv") == "classroom"
    assert dispatch_entity("all_professors.csv") == "professors"
    assert dispatch_entity("fixed_booking.csv") == "fixed_booking"
    assert dispatch_entity("one_time_booking.csv") == "one_time_booking"
    assert dispatch_entity("telemetry.csv") is None


def test_entity_dir_reference_style_names(spark, tmp_path):
    """entity_dir_to_wire dispatches reference-style filenames (substring,
    not exact) and unions multiple files of one entity into one scan."""
    (tmp_path / "bookings_spring.csv").write_text(
        "booking_id;section_id;classroom_id;date;start_time;end_time;students\n"
        "B1;S1;C1;2024-01-01;08:00:00;10:00:00;30\n"
    )
    (tmp_path / "bookings_fall.csv").write_text(
        "booking_id;section_id;classroom_id;date;start_time;end_time;students\n"
        "B2;S1;C1;2024-09-01;08:00:00;10:00:00;25\n"
    )
    (tmp_path / "notes.txt").write_text("ignored")
    parsed = parse_wire(entity_dir_to_wire(spark, str(tmp_path)))
    got = {r.booking_id for r in parsed.collect()}
    assert got == {"B1", "B2"}


def test_socket_source_receives_lines(spark):
    """S4: socket text source exercised against a real local TCP server."""
    import socket
    import threading
    import time

    from streamroom_bigdata_spark.sources.readers import stream_socket_source

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    done = threading.Event()

    def serve():
        conn, _ = server.accept()
        conn.sendall(b"alpha\nbeta\ngamma\n")
        done.wait(30)  # keep the connection open until the query stops
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    q = (
        stream_socket_source(spark, "127.0.0.1", port)
        .writeStream.format("memory")
        .queryName("socket_sink")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT * FROM socket_sink").count() >= 3:
                break
            time.sleep(0.25)
        vals = {r.value for r in spark.sql("SELECT * FROM socket_sink").collect()}
        assert {"alpha", "beta", "gamma"} <= vals
    finally:
        q.stop()
        done.set()
        server.close()


def test_kafka_sink_record_projection(spark):
    """S3 (pure-plan half): the sink projects (key, value) strings the Kafka
    writer contract requires; executor-parallel, no driver loop."""
    from streamroom_bigdata_spark.sources.readers import (
        kafka_sink_options,
        to_kafka_records,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, payload string")
    rec = to_kafka_records(df, value_col="payload", key_col="k")
    assert rec.columns == ["key", "value"]
    assert dict((r.key, r.value) for r in rec.collect()) == {"1": "a", "2": "b"}
    opts = kafka_sink_options("broker:9092", "room_requests")
    assert opts == {
        "kafka.bootstrap.servers": "broker:9092",
        "topic": "room_requests",
    }


def test_kafka_batch_sink_fails_cleanly_without_broker(spark):
    from streamroom_bigdata_spark.sources.readers import write_kafka_batch

    df = spark.createDataFrame([("x",)], "value string")
    with pytest.raises(RuntimeError, match="Kafka sink unavailable"):
        write_kafka_batch(df, "localhost:1", "t")


def test_console_sink_runs_one_batch(spark, tmp_path):
    """S8: console sink wrapper drives a real micro-batch to completion."""
    from streamroom_bigdata_spark.sources.readers import (
        console_sink,
        stream_file_source,
    )

    src = tmp_path / "console_src"
    src.mkdir()
    spark.createDataFrame([(1,)], "id int").write.parquet(str(src / "p"))
    stream = stream_file_source(spark, str(src / "p"), spark.read.parquet(str(src / "p")).schema)
    q = console_sink(stream, num_rows=5).trigger(availableNow=True).start()
    q.awaitTermination(60)
    assert q.lastProgress is not None


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """T-EXT stream-stream join: two watermarked file streams joined on
    user_id within a time bound agree with the batch interval join on the
    same rows."""
    clicks = [
        {"event_id": i, "ts": f"2024-01-01T00:{i:02d}:00", "user_id": i % 2, "value": 1.0}
        for i in range(0, 30, 3)
    ]
    errors = [
        {"event_id": 100 + i, "ts": f"2024-01-01T00:{i:02d}:30", "user_id": i % 2, "value": 2.0}
        for i in range(0, 30, 2)
    ]
    c_df = spark.createDataFrame(
        pd.DataFrame(clicks).assign(ts=lambda d: pd.to_datetime(d.ts)), EVENTS_DDL
    )
    e_df = spark.createDataFrame(
        pd.DataFrame(errors).assign(ts=lambda d: pd.to_datetime(d.ts)), EVENTS_DDL
    )
    expected = {
        (r.click_id, r.error_id)
        for r in sq.click_error_join_frames(c_df, e_df).collect()
    }
    assert expected  # fixture actually produces matches

    c_src = tmp_path / "clicks"
    e_src = tmp_path / "errors"
    for src, rows in ((c_src, clicks), (e_src, errors)):
        src.mkdir()
        pd.DataFrame(rows).to_json(
            src / "b0.json", orient="records", lines=True, date_format="iso"
        )
    joined = sq.stream_click_error_join(
        stream_file_source(spark, str(c_src), EVENTS_DDL, fmt="json"),
        stream_file_source(spark, str(e_src), EVENTS_DDL, fmt="json"),
    )
    _run_to_memory(joined, "ssjoin_sink", "append")
    got = {
        (r.click_id, r.error_id)
        for r in spark.sql("select * from ssjoin_sink").collect()
    }
    assert got == expected


def test_full_pipeline_csv_to_recommendation(spark, tmp_path):
    """The complete reference pipeline on the reference's own entities:
    CSV dir -> wire JSON -> streaming router -> bronze parquet -> domain
    recommendation query (processing.scala:101-129 analog) over the bronze
    store."""
    from streamroom_bigdata_spark.plans.domain import recommend_classrooms

    _write_entity_csvs(tmp_path)
    wire_dir = tmp_path / "wire_full"
    entity_dir_to_wire(spark, str(tmp_path)).write.mode("overwrite").json(
        str(wire_dir)
    )
    q = start_router(
        parse_wire(
            stream_file_source(spark, str(wire_dir), "value string", fmt="json")
        ),
        str(tmp_path / "bronze_full"),
        str(tmp_path / "ckpt_full"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    recs = recommend_classrooms(
        spark, str(tmp_path / "bronze_full"), request_sizes=(30, 50)
    ).collect()
    by_req = {}
    for r in recs:
        by_req.setdefault(r.request_students, []).append(r)
    # fixture: C1 cap 40 (booked, 1 booking B1), C2 cap 60 (booked, 1 booking B2)
    assert {r.classroom_id for r in by_req[30]} == {"C1", "C2"}
    assert {r.classroom_id for r in by_req[50]} == {"C2"}  # only C2 fits 50
    for r in recs:
        # both rooms booked once, equal usage -> collab = 1.0, avail = 0.5
        assert abs(r.final_score - (0.5 + 0.3 * 1.0 + 0.2 * 0.5)) < 1e-9
        assert r.rnk <= 3


def test_silver_rollup_incremental_upsert(spark, tmp_path):
    """Medallion silver layer: streaming tumbling agg upserted per batch —
    after both micro-batches the silver table equals the batch recompute
    over all rows (including a window UPDATED by the second batch)."""
    from streamroom_bigdata_spark.streaming import silver as sv

    rows_b0 = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00", "user_id": 1, "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:20:00", "user_id": 2, "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T01:10:00", "user_id": 1, "value": 3.0},
    ]
    # second batch adds to the 00:00 window (updates it) and opens 02:00
    rows_b1 = [
        {"event_id": 4, "ts": "2024-01-01T00:40:00", "user_id": 3, "value": 4.0},
        {"event_id": 5, "ts": "2024-01-01T02:05:00", "user_id": 1, "value": 5.0},
    ]
    stream = _stream_events(spark, tmp_path, [rows_b0, rows_b1]).withColumn(
        "event_type", F.lit("x")
    )
    q = sv.start_silver_rollup(
        stream,
        str(tmp_path / "silver"),
        str(tmp_path / "silver_ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    all_rows = spark.createDataFrame(
        pd.DataFrame(rows_b0 + rows_b1).assign(ts=lambda d: pd.to_datetime(d.ts)),
        EVENTS_DDL,
    ).withColumn("event_type", F.lit("x"))
    expected = {
        r.wkey: (r.n_events, r.sum_value)
        for r in sv.silver_rollup_frame(all_rows).collect()
    }
    got = {
        r.wkey: (r.n_events, r.sum_value)
        for r in spark.read.parquet(str(tmp_path / "silver")).collect()
    }
    assert got == expected
    # the 00:00 window was genuinely updated across batches (3 events total)
    updated = [v for k, v in got.items() if k.startswith("2024-01-01 00:00")]
    assert updated == [(3, 7.0)]


def test_stateful_sessionizer_unit():
    """_update_session: in-batch gap closes a session immediately; open
    session persists in state with an event-time timeout at last+gap;
    timeout invocation emits the final session and clears state."""
    _FakeGroupState.setTimeoutTimestamp = lambda self, ts: setattr(
        self, "timeout_ts", ts
    )
    gap = stateful.SESSION_GAP_MS
    t0 = pd.Timestamp("2024-01-01")
    ms0 = int(t0.value // 1_000_000)
    batch = pd.DataFrame(
        {
            "ts": [
                t0,
                t0 + pd.Timedelta(minutes=10),
                t0 + pd.Timedelta(minutes=90),  # > 30 min gap -> new session
            ],
            "value": [1.0, 2.0, 5.0],
        }
    )
    state = _FakeGroupState()
    out = list(stateful._update_session((1,), iter([batch]), state))
    assert len(out) == 1  # first session closed by the gap
    closed = out[0]
    assert closed.loc[0, "n_events"] == 2 and closed.loc[0, "sum_value"] == 3.0
    # open session: one event at +90min, timeout at last+gap
    assert state.get == (ms0 + 90 * 60_000, ms0 + 90 * 60_000, 1, 5.0)
    assert state.timeout_ts == ms0 + 90 * 60_000 + gap

    # watermark passes the horizon -> timeout emits the final session
    timed_out = _FakeGroupState(value=state.get, timed_out=True)
    final = list(stateful._update_session((1,), iter([]), timed_out))
    assert len(final) == 1 and final[0].loc[0, "n_events"] == 1
    assert timed_out.removed


def test_stateful_sessionizer_stream_end_to_end(spark, tmp_path):
    """Streaming sessionizer: gap-closed sessions emit as batches arrive;
    late batches advance the watermark and flush the pending session."""
    rows = lambda specs: [
        {"event_id": i, "ts": ts, "user_id": 1, "value": float(v)}
        for i, (ts, v) in enumerate(specs)
    ]
    batches = [
        rows([("2024-01-01T00:00:00", 1), ("2024-01-01T00:10:00", 2)]),
        # 01:00 starts a new session -> closes the 00:00 session in-batch
        rows([("2024-01-01T01:00:00", 5)]),
        # far-future rows march the watermark past 01:30 so the 01:00
        # session times out (watermark takes effect one batch later)
        rows([("2024-01-01T03:00:00", 7)]),
        rows([("2024-01-01T05:00:00", 9)]),
    ]
    stream = _stream_events(spark, tmp_path, batches)
    out = stateful.sessionize_stateful(stream, watermark="1 minute")
    _run_to_memory(out, "sess_state_sink", "append")
    got = {
        (r.session_start.isoformat(), r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM sess_state_sink").collect()
    }
    assert ("2024-01-01T00:00:00", 2, 3.0) in got
    assert ("2024-01-01T01:00:00", 1, 5.0) in got


def test_stream_static_join_enriches_batches(spark, tmp_path):
    """Stream-static join (T-surface): a streaming fact joined to a static
    dimension — the dimension is re-resolved per micro-batch, no watermark
    needed on the static side."""
    static_dim = spark.createDataFrame(
        [(1, "gold"), (2, "basic")], "user_id int, tier string"
    )
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "value": 5.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 2, "value": 6.0},
        {"event_id": 3, "ts": "2024-01-01T00:02:00", "user_id": 9, "value": 7.0},
    ]
    stream = _stream_events(spark, tmp_path, [rows])
    joined = stream.join(static_dim, "user_id", "left")
    _run_to_memory(joined, "ss_join_sink", "append")
    got = {r.event_id: r.tier for r in spark.sql("SELECT * FROM ss_join_sink").collect()}
    assert got == {1: "gold", 2: "basic", 3: None}


def test_malformed_wire_records_parse_to_nulls(spark):
    """S5 robustness: a corrupt JSON line must not kill the stream — it
    parses to an all-null row (from_json semantics), and valid records in
    the same batch are unaffected."""
    raw = spark.createDataFrame(
        [
            ('{"classroom_id": "C1", "capacity": 40, "source_type": "classroom"}',),
            ("{not json at all",),
            ("",),
        ],
        "value string",
    )
    rows = parse_wire(raw).collect()
    assert len(rows) == 3
    ok = [r for r in rows if r.classroom_id == "C1"]
    assert len(ok) == 1 and ok[0].capacity == 40
    bad = [r for r in rows if r.classroom_id is None]
    assert len(bad) == 2 and all(r.source_type is None for r in bad)


def test_dispatch_one_time_bookings_underscore():
    """The underscored spelling must route to the one-time parser — the
    reference's contains-rules would misroute it to the 7-field fixed
    schema and silently drop every row."""
    from streamroom_bigdata_spark.streaming.ingest import dispatch_entity

    assert dispatch_entity("one_time_bookings_2024.csv") == "one_time_booking"
    assert dispatch_entity("STUDENT_BOOKINGS.csv") == "fixed_booking"


def test_with_event_times_types_booking_fields(spark, tmp_path):
    """Typed bronze: booking date/time strings become real timestamps;
    entities without those fields stay null; string originals survive."""
    from streamroom_bigdata_spark.streaming.ingest import with_event_times

    _write_entity_csvs(tmp_path)
    typed = with_event_times(parse_wire(entity_dir_to_wire(spark, str(tmp_path))))
    rows = {(r.source_type, r.booking_id or r.classroom_id): r for r in typed.collect()}
    b1 = rows[("fixed_booking", "B1")]
    assert b1.start_ts.hour == 8 and b1.end_ts.hour == 10
    assert b1.start_ts.date().isoformat() == "2024-01-01"
    assert b1.date == "2024-01-01"  # wire-parity string kept
    assert b1.ingest_ts is not None
    c1 = rows[("classroom", "C1")]
    assert c1.start_ts is None and c1.end_ts is None


def test_silver_reads_prune_by_date_partition(spark, tmp_path):
    """The silver table's date partitioning must actually serve partition
    pruning: a date-filtered read shows PartitionFilters in the scan."""
    from streamroom_bigdata_spark.streaming import silver as sv

    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00", "user_id": 1, "value": 1.0},
        {"event_id": 2, "ts": "2024-01-02T00:10:00", "user_id": 1, "value": 2.0},
    ]
    stream = _stream_events(spark, tmp_path, [rows]).withColumn(
        "event_type", F.lit("x")
    )
    q = sv.start_silver_rollup(
        stream,
        str(tmp_path / "silver_prune"),
        str(tmp_path / "silver_prune_ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    df = spark.read.parquet(str(tmp_path / "silver_prune")).filter(
        F.col(sv.SILVER_PART) == "2024-01-01"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "window_date" in plan
    assert df.count() == 1


def test_rate_micro_batch_deterministic(spark, tmp_path):
    """rate-micro-batch: exact per-batch row counts, contiguous values from
    0 — reproducible across runs (unlike the wall-clock rate source)."""
    import time

    from streamroom_bigdata_spark.sources.readers import stream_rate_micro_batch

    q = (
        stream_rate_micro_batch(spark, rows_per_batch=25)
        .writeStream.format("memory")
        .queryName("rmb_sink")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT * FROM rmb_sink").count() >= 50:
                break
            time.sleep(0.25)
        vals = sorted(r.value for r in spark.sql("SELECT * FROM rmb_sink").collect())
        assert vals[:50] == list(range(50))  # contiguous, no gaps
        assert len(vals) % 25 == 0           # whole batches only
    finally:
        q.stop()


def test_available_now_backfill_resumes_from_checkpoint(spark, tmp_path):
    """T5+ backfill pattern: Trigger.AvailableNow drains everything present
    then STOPS; a later run against the same checkpoint processes ONLY
    files added since — batch-shaped runs with streaming exactly-once
    bookkeeping (the scheduled-ingest shape: cron a bounded run, offsets
    carry over)."""
    import pandas as _pd

    src = tmp_path / "backfill_src"
    src.mkdir()
    ckpt = str(tmp_path / "backfill_ckpt")
    sink = tmp_path / "backfill_sink"

    def add_file(i, rows):
        _pd.DataFrame(rows).to_json(
            src / f"f{i}.json", orient="records", lines=True, date_format="iso"
        )

    def drain():
        stream = stream_file_source(spark, str(src), EVENTS_DDL, fmt="json")
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive  # AvailableNow terminates on its own

    add_file(0, [{"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "value": 1.0}])
    add_file(1, [{"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 2, "value": 2.0}])
    drain()
    assert spark.read.parquet(str(sink)).count() == 2

    add_file(2, [{"event_id": 3, "ts": "2024-01-01T00:02:00", "user_id": 3, "value": 3.0}])
    drain()
    got = {r.event_id for r in spark.read.parquet(str(sink)).collect()}
    assert got == {1, 2, 3}  # old files NOT reprocessed, new file picked up


def test_max_files_per_trigger_bounds_each_batch(spark, tmp_path):
    """The file-source rate-limiting knob (idiomatic stand-in for the
    reference producer's per-record sleep): with max_files_per_trigger=2,
    a 6-file backlog must drain as 3 micro-batches of exactly 2 files'
    rows — bounded bites, never one giant catch-up batch."""
    src = tmp_path / "throttle_src"
    src.mkdir()
    base = 1_700_000_000
    for i in range(6):
        p = src / f"f{i}.json"
        pd.DataFrame([{"v": i * 10 + j} for j in range(5)]).to_json(
            p, orient="records", lines=True
        )
        os.utime(p, (base + i, base + i))

    stream = stream_file_source(
        spark, str(src), "v long", fmt="json", max_files_per_trigger=2
    )
    batch_sizes: list[int] = []
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "throttle_ckpt"))
        .foreachBatch(lambda df, _id: batch_sizes.append(df.count()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert batch_sizes == [10, 10, 10]  # 3 batches x (2 files x 5 rows)


def test_stateful_funnel_agrees_with_batch_semantics(spark, tmp_path):
    """T10 + B1: the streaming funnel's converged per-user depth equals the
    batch min-ts-ordering depth, regardless of arrival order across
    micro-batches (min-per-stage state is order-insensitive)."""
    ddl = "event_id long, ts timestamp, user_id long, event_type string, value double"
    # user 1 completes the funnel but stages ARRIVE out of order;
    # user 2's purchase precedes their click in EVENT TIME (depth stops);
    # user 3 has only non-funnel events (never keyed into the output... but
    # groupBy still sees the key — depth 0)
    b1 = [
        {"event_id": 1, "ts": "2024-01-01T03:00:00", "user_id": 1, "event_type": "purchase", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "signup", "value": 1.0},
        {"event_id": 3, "ts": "2024-01-01T00:10:00", "user_id": 2, "event_type": "signup", "value": 1.0},
        {"event_id": 4, "ts": "2024-01-01T01:00:00", "user_id": 2, "event_type": "purchase", "value": 1.0},
    ]
    b2 = [
        {"event_id": 5, "ts": "2024-01-01T01:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"event_id": 6, "ts": "2024-01-01T02:00:00", "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 7, "ts": "2024-01-01T02:00:00", "user_id": 2, "event_type": "click", "value": 1.0},
        {"event_id": 8, "ts": "2024-01-01T03:00:00", "user_id": 2, "event_type": "view", "value": 1.0},
        {"event_id": 9, "ts": "2024-01-01T03:00:00", "user_id": 3, "event_type": "error", "value": 1.0},
    ]
    src = tmp_path / "funnel_src"
    src.mkdir()
    base = 1_700_000_000
    for i, rows in enumerate([b1, b2]):
        p = src / f"b{i}.json"
        pd.DataFrame(rows).to_json(p, orient="records", lines=True, date_format="iso")
        os.utime(p, (base + i, base + i))
    stream = stream_file_source(spark, str(src), ddl, fmt="json", maxFilesPerTrigger=1)
    run_fold_to_memory(stateful.funnel_stateful(stream), "funnel_sink")
    final = {}
    for r in spark.sql("select * from funnel_sink").collect():
        final[r.user_id] = r.depth  # update mode: keep the LAST emission
    # user 1: all four stages in event-time order once converged → 4
    # user 2: purchase@01:00 < view@03:00 breaks the chain at stage 4 → 3
    # user 3: no signup → 0
    assert final == {1: 4, 2: 3, 3: 0}

    # pure-function agreement: funnel_depth on the unioned mins equals the
    # streamed result for user 2
    from streamroom_bigdata_spark.streaming.stateful import funnel_depth

    ms = lambda s: int(pd.Timestamp(s).value // 10**6)  # noqa: E731
    assert funnel_depth((ms("2024-01-01T00:10:00"), ms("2024-01-01T02:00:00"),
                         ms("2024-01-01T03:00:00"), ms("2024-01-01T01:00:00"))) == 3


def test_cusum_alarm_crosses_threshold_across_micro_batches(spark, tmp_path):
    """T10 CUSUM twin, cross-batch state: user 1 drifts up +1.5/event on
    the S+ statistic (value 7 vs target 5, slack .5) so the threshold (8)
    is crossed on event 6 — which arrives in the SECOND micro-batch, so
    the alarm only fires if (s_pos, s_neg, n_events, n_alarms) genuinely
    carried across batches. User 2 drifts down (value 2 → +2.5/event on
    S-) and alarms on their 4th event."""
    ddl = "event_id long, ts timestamp, user_id long, event_type string, value double"
    mk = lambda i, u, v: {  # noqa: E731
        "event_id": i, "ts": f"2024-01-01T00:{i:02d}:00", "user_id": u,
        "event_type": "metric", "value": v,
    }
    b1 = [mk(i, 1, 7.0) for i in range(1, 5)] + [mk(i, 2, 2.0) for i in range(11, 13)]
    b2 = [mk(i, 1, 7.0) for i in range(5, 7)] + [mk(i, 2, 2.0) for i in range(13, 15)]
    src = tmp_path / "cusum_src"
    src.mkdir()
    base = 1_700_000_000
    for i, rows in enumerate([b1, b2]):
        p = src / f"b{i}.json"
        pd.DataFrame(rows).to_json(p, orient="records", lines=True, date_format="iso")
        os.utime(p, (base + i, base + i))
    stream = stream_file_source(spark, str(src), ddl, fmt="json", maxFilesPerTrigger=1)
    run_fold_to_memory(stateful.cusum_alarm_stateful(stream), "cusum_sink")
    got = {
        (r.user_id, r.event_id): r
    for r in spark.sql("select * from cusum_sink").collect()}
    assert set(got) == {(1, 6), (2, 14)}
    up = got[(1, 6)]
    assert (up.direction, up.statistic, up.n_events, up.n_alarms) == ("up", 9.0, 6, 1)
    down = got[(2, 14)]
    assert (down.direction, down.statistic, down.n_events, down.n_alarms) == (
        "down", 10.0, 4, 1,
    )


def test_cusum_streaming_agrees_with_batch_twin(spark, tmp_path):
    """Streaming CUSUM over event-time-ordered micro-batches emits exactly
    the rows of the batch twin (same kernel, full history per key) —
    including the post-alarm restart (user 1 alarms twice)."""
    ddl = "event_id long, ts timestamp, user_id long, event_type string, value double"
    # user 1 S+ walk: 1.5, 5.0, 8.5>h → alarm@102, reset; 0 (dip), 4.0,
    # 8.0 (not > h, strict), 12.0>h → alarm@106, reset; 0
    # user 3 S- walk: 3.5, 7.0, 5.5, 9.0>h → alarm@303, reset; then ≤3.5
    vals = {
        1: [7.0, 9.0, 9.0, 1.0, 9.5, 9.5, 9.5, 5.0],  # two up alarms
        2: [5.0, 5.2, 4.9, 5.1, 5.0, 4.8, 5.1, 5.0],  # in control: none
        3: [1.0, 1.0, 6.0, 1.0, 1.0, 5.0, 5.0, 5.0],  # one down alarm
    }
    rows = [
        {
            "event_id": u * 100 + i, "ts": f"2024-01-01T0{i}:00:00",
            "user_id": u, "event_type": "metric", "value": v,
        }
        for u, vs in vals.items()
        for i, v in enumerate(vs)
    ]
    src = tmp_path / "cusum_agree_src"
    src.mkdir()
    base = 1_700_000_000
    for i in range(4):  # 4 micro-batches of 2 events per user, time-ordered
        chunk = [r for r in rows if r["event_id"] % 100 in (2 * i, 2 * i + 1)]
        p = src / f"b{i}.json"
        pd.DataFrame(chunk).to_json(p, orient="records", lines=True, date_format="iso")
        os.utime(p, (base + i, base + i))
    stream = stream_file_source(spark, str(src), ddl, fmt="json", maxFilesPerTrigger=1)
    run_fold_to_memory(stateful.cusum_alarm_stateful(stream), "cusum_agree_sink")
    streamed = sorted(
        tuple(r) for r in spark.sql("select * from cusum_agree_sink").collect()
    )
    static = spark.createDataFrame(pd.DataFrame(rows)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = sorted(tuple(r) for r in stateful.cusum_alarm_batch(static).collect())
    assert streamed == batch
    assert len(batch) == 3  # users 1x2 + 3x1
    assert [r[0] for r in batch] == [1, 1, 3]
    # restart-after-alarm: user 1's second alarm re-accumulated from zero
    a1, a2 = [r for r in batch if r[0] == 1]
    assert a1[5] == 1 and a2[5] == 2


def _wire_booking_line(bid, start="08:00:00"):
    """One wire-format JSON line (what the file source reads: a JSON
    object with a `value` field holding the entity JSON string)."""
    import json

    v = {
        "booking_id": bid,
        "section_id": "S1",
        "classroom_id": "C1",
        "date": "2024-01-01",
        "start_time": start,
        "end_time": "10:00:00",
        "students": 30,
        "source_type": "fixed_booking",
        "ingestion_timestamp": "2024-01-01 00:00:00",
        "ingestion_date": "2024-01-01",
    }
    return json.dumps({"value": json.dumps(v)})


def test_router_crash_recovery_restart_from_checkpoint(spark, tmp_path):
    """Crash-recovery (round-8 verdict item #5): run the checkpointed
    router, STOP it between micro-batches, restart from the same
    checkpoint, and assert the bronze store equals the uninterrupted run —
    no duplicates, no loss. maxFilesPerTrigger=1 + distinct mtimes keep
    batch boundaries deterministic; a long processingTime trigger opens a
    wide idle window so the stop lands between batches, not mid-batch."""
    import time

    wire = tmp_path / "wire"
    wire.mkdir()
    base = 1_700_000_000
    for i in range(3):
        p = wire / f"batch_{i}.json"
        p.write_text(
            _wire_booking_line(f"B{2 * i + 1}")
            + "\n"
            + _wire_booking_line(f"B{2 * i + 2}")
            + "\n"
        )
        os.utime(p, (base + i, base + i))

    def src():
        return parse_wire(
            stream_file_source(
                spark, str(wire), "value string", fmt="json",
                maxFilesPerTrigger=1,
            )
        )

    # reference: uninterrupted availableNow run
    q = start_router(
        src(), str(tmp_path / "bronze_ref"), str(tmp_path / "ckpt_ref"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    ref = sorted(
        r.booking_id
        for r in spark.read.parquet(
            str(tmp_path / "bronze_ref" / "fixed_booking")
        ).collect()
    )
    assert ref == [f"B{i}" for i in range(1, 7)]

    # crashed run: first batch commits, then the query is stopped in the
    # inter-batch idle window
    bronze, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    q1 = (
        src()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, _id: route_batch(df, bronze))
        .trigger(processingTime="60 seconds")
        .start()
    )
    deadline = time.time() + 90
    seen = set()
    while time.time() < deadline:
        try:
            seen = {
                r.booking_id
                for r in spark.read.parquet(
                    f"{bronze}/fixed_booking"
                ).collect()
            }
        except Exception:
            seen = set()
        if seen >= {"B1", "B2"}:
            break
        time.sleep(0.5)
    assert seen >= {"B1", "B2"}, f"first batch never committed: {seen}"
    # stop ONLY inside a trigger-idle window: under external load the
    # bronze rows of a LATER batch can appear while its checkpoint commit
    # is still in flight — stopping then replays that batch on restart
    # and the append sink duplicates it (observed once under a steal
    # storm: B3/B4 doubled). isTriggerActive=False means the engine is
    # parked between triggers, where stop is replay-safe.
    idle_deadline = time.time() + 60
    while q1.status.get("isTriggerActive") and time.time() < idle_deadline:
        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination(60)

    # restart from the SAME checkpoint: only unprocessed batches replay
    q2 = start_router(src(), bronze, ckpt, trigger_once=True)
    q2.awaitTermination(120)
    got = sorted(
        r.booking_id
        for r in spark.read.parquet(f"{bronze}/fixed_booking").collect()
    )
    assert got == ref, f"restart diverged from no-crash run: {got} vs {ref}"


def test_route_batch_idempotent_replay(spark, tmp_path):
    """Exactly-once upgrade: replaying the same micro-batch (what
    foreachBatch does after a mid-batch crash) with batch_id set REPLACES
    the first attempt instead of appending — bronze holds each row once.
    Without batch_id the same replay duplicates (the documented
    at-least-once baseline)."""
    import json

    line = json.loads(_wire_booking_line("B1"))["value"]
    rows = parse_wire(spark.createDataFrame([(line,)], "value string"))
    idem = str(tmp_path / "idem")
    route_batch(rows, idem, batch_id=3)
    route_batch(rows, idem, batch_id=3)  # replay
    got = spark.read.parquet(f"{idem}/fixed_booking")
    assert got.count() == 1
    assert [r.batch_id for r in got.collect()] == [3]

    plain = str(tmp_path / "plain")
    route_batch(rows, plain)
    route_batch(rows, plain)  # replay duplicates without the batch_id key
    assert spark.read.parquet(f"{plain}/fixed_booking").count() == 2


def test_start_router_idempotent_end_to_end(spark, tmp_path):
    """idempotent=True end-to-end: the checkpointed router writes
    batch_id partitions; a restart with no new data appends nothing."""
    wire = tmp_path / "wire"
    wire.mkdir()
    (wire / "b0.json").write_text(
        _wire_booking_line("B1") + "\n" + _wire_booking_line("B2") + "\n"
    )

    def src():
        return parse_wire(
            stream_file_source(spark, str(wire), "value string", fmt="json")
        )

    for _ in range(2):  # second run restarts from the same checkpoint
        q = start_router(
            src(), str(tmp_path / "bronze"), str(tmp_path / "ckpt"),
            trigger_once=True, idempotent=True,
        )
        q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "bronze" / "fixed_booking"))
    assert sorted(r.booking_id for r in got.collect()) == ["B1", "B2"]
    assert "batch_id" in got.columns


def test_streaming_observe_metrics_per_micro_batch(spark, tmp_path):
    """The streaming half of the T16 telemetry surface: the SAME
    DataFrame.observe() call that powers batch Observation emits
    per-micro-batch observedMetrics through the progress stream — row
    counts per batch with no second pass over the data."""
    import json as _json
    import os
    import time

    from pyspark.sql import functions as F
    from streamroom_bigdata_spark.sources.readers import stream_file_source

    src = tmp_path / "src"
    src.mkdir()
    for i, n in enumerate((3, 5)):
        p = src / f"f{i}.json"
        p.write_text("\n".join(_json.dumps({"v": j}) for j in range(n)))
        os.utime(p, (time.time() + i, time.time() + i))

    stream = stream_file_source(
        spark, str(src), "v long", fmt="json", maxFilesPerTrigger=1
    ).observe("batch_stats", F.count(F.lit(1)).alias("n_rows"),
              F.sum("v").alias("v_sum"))
    q = (
        stream.writeStream.format("memory")
        .queryName("obs_sink")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        seen = [
            p.observedMetrics["batch_stats"]
            for p in (q.recentProgress or [])
            if p.observedMetrics and "batch_stats" in p.observedMetrics
        ]
    finally:
        q.stop()
    counts = sorted(m["n_rows"] for m in seen)
    assert counts == [3, 5], seen
    assert sum(m["v_sum"] for m in seen) == sum(range(3)) + sum(range(5))
    assert spark.table("obs_sink").count() == 8


# --- streaming PSI drift alarm (twin of drift_psi_event_types) --------------


def _drift_source(spark, tmp_path, batches, name="drift_src"):
    ddl = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    )
    src = tmp_path / name
    src.mkdir()
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        p = src / f"b{i}.json"
        pd.DataFrame(rows).to_json(
            p, orient="records", lines=True, date_format="iso"
        )
        os.utime(p, (base + i, base + i))
    return stream_file_source(
        spark, str(src), ddl, fmt="json", maxFilesPerTrigger=1
    )


def _drift_rows():
    """Window 1 (00:00-00:10) matches the 50/50 baseline (10 a, 10 b);
    window 2 (00:10-00:20) is all-a (20, 0) — the vanishing-category
    shift the smoothing exists for. The 01:00 sentinel row advances the
    watermark past both windows so append mode emits them; its own window
    stays open and unemitted."""
    mk = lambda i, hh, mm, t: {  # noqa: E731
        "event_id": i, "ts": f"2024-01-01T{hh:02d}:{mm:02d}:00",
        "user_id": i, "event_type": t, "value": 1.0,
    }
    w1 = [mk(i, 0, i % 10, "a" if i % 2 else "b") for i in range(20)]
    w2 = [mk(100 + i, 0, 10 + i % 10, "a") for i in range(20)]
    sentinel = [mk(999, 1, 0, "a")]
    return w1, w2, sentinel


def test_psi_drift_alarms_on_vanished_category(spark, tmp_path):
    from streamroom_bigdata_spark.streaming import drift

    w1, w2, sentinel = _drift_rows()
    stream = _drift_source(spark, tmp_path, [w1, w2, sentinel])
    baseline = {"a": 0.5, "b": 0.5}
    out = drift.psi_drift(stream, baseline, window="10 minutes",
                          watermark="5 minutes")
    _run_to_memory(out, "psi_sink", "append")
    rows = {
        r.window_start.minute: r
        for r in spark.sql("select * from psi_sink").collect()
    }
    assert set(rows) == {0, 10}  # the sentinel's window never closed
    calm, shifted = rows[0], rows[10]
    assert calm.n_events == 20 and not calm.alarm
    assert calm.psi == pytest.approx(
        drift.psi_reference({"a": 10, "b": 10}, baseline), abs=1e-8
    )
    assert shifted.n_events == 20 and shifted.alarm
    assert shifted.psi == pytest.approx(
        drift.psi_reference({"a": 20, "b": 0}, baseline), abs=1e-8
    )
    assert shifted.psi > 0.2 > calm.psi


def test_psi_drift_streaming_agrees_with_batch_twin(spark, tmp_path):
    """psi_drift is ONE plan for both engines: every window append mode
    emits must carry exactly the batch run's numbers; off-baseline types
    fold into n_other on both."""
    from streamroom_bigdata_spark.streaming import drift

    w1, w2, sentinel = _drift_rows()
    w1[3]["event_type"] = "zz"  # type outside the baseline domain
    stream = _drift_source(spark, tmp_path, [w1, w2, sentinel], "agree_src")
    baseline = {"a": 0.5, "b": 0.5}
    out = drift.psi_drift(stream, baseline, window="10 minutes",
                          watermark="5 minutes")
    _run_to_memory(out, "psi_agree_sink", "append")
    streamed = {
        r.window_start: tuple(r)[1:]
        for r in spark.sql("select * from psi_agree_sink").collect()
    }
    static = spark.createDataFrame(
        pd.DataFrame(w1 + w2 + sentinel).assign(
            ts=lambda d: pd.to_datetime(d.ts)
        )
    )
    batch = {
        r.window_start: tuple(r)[1:]
        for r in drift.psi_drift(static, baseline, window="10 minutes").collect()
    }
    assert streamed  # at least the two closed windows
    for k, v in streamed.items():
        assert batch[k] == v
    # tuple layout after dropping window_start: (end, n_events, n_other, ...)
    assert streamed[min(streamed)][2] == 1  # the zz row counted as n_other


def test_psi_drift_validates_baseline(spark):
    from streamroom_bigdata_spark.streaming import drift

    df = spark.createDataFrame([], "ts timestamp, event_type string")
    with pytest.raises(ValueError, match="non-empty"):
        drift.psi_drift(df, {})
    with pytest.raises(ValueError, match="positive"):
        drift.psi_drift(df, {"a": 1.0, "b": 0.0})
    with pytest.raises(ValueError, match="sum to 1"):
        drift.psi_drift(df, {"a": 0.9, "b": 0.3})


def test_baseline_rates_smoothed(spark):
    from streamroom_bigdata_spark.streaming import drift

    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",)], "event_type string"
    )
    rates = drift.baseline_rates(df)
    # Laplace-smoothed: (3+.5)/5, (1+.5)/5
    assert rates == {"a": pytest.approx(0.7), "b": pytest.approx(0.3)}
    assert sum(rates.values()) == pytest.approx(1.0)


def test_pack_documents_carries_fill_across_micro_batches(spark, tmp_path):
    """T19 streaming compaction packer: language 'en' accumulates 10k chars
    per doc against a 16384 target — doc 2 (arriving in the SECOND
    micro-batch) must land in bin 1, which only happens if the running
    total genuinely carried across batches."""
    from streamroom_bigdata_spark.streaming import packer

    ddl = "doc_id long, lang string, n_chars long"
    mk = lambda i, la, n: {"doc_id": i, "lang": la, "n_chars": n}  # noqa: E731
    b1 = [mk(0, "en", 10_000), mk(1, "en", 10_000), mk(10, "de", 500)]
    b2 = [mk(2, "en", 10_000), mk(11, "de", 500)]
    src = tmp_path / "pack_src"
    src.mkdir()
    base = 1_700_000_000
    for i, rows in enumerate([b1, b2]):
        p = src / f"b{i}.json"
        pd.DataFrame(rows).to_json(p, orient="records", lines=True)
        os.utime(p, (base + i, base + i))
    stream = stream_file_source(
        spark, str(src), ddl, fmt="json", maxFilesPerTrigger=1
    )
    run_fold_to_memory(packer.pack_documents_stateful(stream), "pack_sink")
    got = {
        (r.lang, r.doc_id): (r.bin_id, r.bin_fill_chars)
        for r in spark.sql("select * from pack_sink").collect()
    }
    assert got == {
        # en: cum 0 → bin 0; cum 10k → still bin 0 (the overflow doc — its
        # fill shows bin 0 closing at 20k chars); cum 20k → bin 1 — ONLY
        # if state carried (a reset would put doc 2 back in bin 0)
        ("en", 0): (0, 10_000),
        ("en", 1): (0, 20_000),          # bin 0 overfilled by one doc
        ("en", 2): (1, 30_000 - 16_384),  # fill relative to bin 1's start
        ("de", 10): (0, 500),
        ("de", 11): (0, 1_000),
    }


def test_pack_streaming_agrees_with_batch_planner(spark, tmp_path):
    """Docs arriving in doc_id order in ONE micro-batch must get exactly
    the batch planner's (lang-global) bin assignments."""
    from streamroom_bigdata_spark.operators.layout import (
        COMPACT_TARGET_CHARS,
    )
    from streamroom_bigdata_spark.streaming import packer

    sizes = [5_000, 9_000, 4_000, 16_000, 1_000, 20_000, 3_000]
    rows = [
        {"doc_id": i, "lang": "en", "n_chars": n}
        for i, n in enumerate(sizes)
    ]
    src = tmp_path / "pack_agree_src"
    src.mkdir()
    p = src / "b0.json"
    pd.DataFrame(rows).to_json(p, orient="records", lines=True)
    os.utime(p, (1_700_000_000, 1_700_000_000))
    stream = stream_file_source(
        spark, str(src), "doc_id long, lang string, n_chars long",
        fmt="json", maxFilesPerTrigger=1,
    )
    run_fold_to_memory(
        packer.pack_documents_stateful(stream), "pack_agree_sink"
    )
    streamed = {
        r.doc_id: r.bin_id
        for r in spark.sql("select * from pack_agree_sink").collect()
    }
    # batch rule replayed: bin = chars_before // target
    cum, expected = 0, {}
    for i, n in enumerate(sizes):
        expected[i] = cum // COMPACT_TARGET_CHARS
        cum += n
    assert streamed == expected
    # kernel-level agreement too
    assigns, _ = packer.pack_scan(list(enumerate(sizes)))
    assert {d: b for d, b, _ in assigns} == expected


def test_holt_drift_alarm_crosses_batches_and_reanchors(spark, tmp_path):
    """T10 Holt twin, cross-batch state: user 1 climbs +2/event (the
    smoother tracks it — no alarm), then flatlines at 10 in the SECOND
    micro-batch; the established-trend forecast overshoots by > 6 only
    if (l, b) genuinely carried across batches. After the alarm the
    smoother re-anchors, so the continued flatline stays quiet."""
    ddl = "event_id long, ts timestamp, user_id long, event_type string, value double"
    mk = lambda i, u, v: {  # noqa: E731
        "event_id": i, "ts": f"2024-01-01T00:{i:02d}:00", "user_id": u,
        "event_type": "metric", "value": v,
    }
    climb = [2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0, 18.0, 20.0]
    b1 = [mk(i + 1, 1, v) for i, v in enumerate(climb)]
    b2 = [mk(11 + j, 1, 10.0) for j in range(3)]
    src = tmp_path / "holt_src"
    src.mkdir()
    base = 1_700_000_000
    for i, rows in enumerate([b1, b2]):
        p = src / f"b{i}.json"
        pd.DataFrame(rows).to_json(p, orient="records", lines=True, date_format="iso")
        os.utime(p, (base + i, base + i))
    stream = stream_file_source(spark, str(src), ddl, fmt="json", maxFilesPerTrigger=1)
    run_fold_to_memory(stateful.holt_drift_stateful(stream), "holt_sink")
    got = [tuple(r) for r in spark.sql("select * from holt_sink").collect()]
    # driver-side replay of the same kernel fixes the expected rows
    events = [(r["event_id"], r["value"]) for r in b1 + b2]
    expect, _ = stateful.holt_scan(events)
    assert got == [(1, *a) for a in expect]
    assert len(got) == 1 and got[0][1] == 11  # the first flatline point
    assert got[0][4] > stateful.HOLT_DRIFT_THRESHOLD


def test_holt_drift_streaming_agrees_with_batch_twin(spark, tmp_path):
    """Streaming Holt drift over event-time-ordered micro-batches emits
    exactly the rows of the batch twin (same kernel, full history)."""
    ddl = "event_id long, ts timestamp, user_id long, event_type string, value double"
    vals = {
        1: [5.0, 7.0, 9.0, 11.0, 1.0, 3.0, 5.0, 7.0],   # trend break: 1 alarm
        2: [5.0, 5.2, 4.9, 5.1, 5.0, 4.8, 5.1, 5.0],    # steady: none
        3: [0.0, 20.0, 0.0, 20.0, 0.0, 20.0, 0.0, 20.0],  # saw: alarms + re-anchor
    }
    rows = [
        {
            "event_id": u * 100 + i, "ts": f"2024-01-01T0{i}:00:00",
            "user_id": u, "event_type": "metric", "value": v,
        }
        for u, vs in vals.items()
        for i, v in enumerate(vs)
    ]
    src = tmp_path / "holt_agree_src"
    src.mkdir()
    base = 1_700_000_000
    for i in range(4):
        chunk = [r for r in rows if r["event_id"] % 100 in (2 * i, 2 * i + 1)]
        p = src / f"b{i}.json"
        pd.DataFrame(chunk).to_json(p, orient="records", lines=True, date_format="iso")
        os.utime(p, (base + i, base + i))
    stream = stream_file_source(spark, str(src), ddl, fmt="json", maxFilesPerTrigger=1)
    run_fold_to_memory(stateful.holt_drift_stateful(stream), "holt_agree_sink")
    streamed = sorted(
        tuple(r) for r in spark.sql("select * from holt_agree_sink").collect()
    )
    static = spark.createDataFrame(pd.DataFrame(rows)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = sorted(tuple(r) for r in stateful.holt_drift_batch(static).collect())
    assert streamed == batch
    assert [r[0] for r in batch if r[0] == 2] == []  # steady key never alarms
    assert len([r for r in batch if r[0] == 3]) >= 3  # saw re-alarms after reset


@pytest.mark.parametrize("case", ["cusum", "latch", "pack"])
def test_stateful_fold_orders_whole_micro_batch_at_any_chunk_size(
    spark, tmp_path, case
):
    """One micro-batch holds one key's rows in REVERSE order, and Spark
    hands them to the update in Arrow chunks of 2 rows. An order-sensitive
    fold must order the key's whole micro-batch, not each chunk, so the
    result equals the batch rule whatever the chunk size."""
    from streamroom_bigdata_spark.streaming import packer

    sizes = [5_000, 9_000, 4_000, 16_000, 1_000, 20_000, 3_000]
    if case == "pack":
        ddl = "doc_id long, lang string, n_chars long"
        rows = [
            {"doc_id": i, "lang": "en", "n_chars": n}
            for i, n in enumerate(sizes)
        ]
        build = packer.pack_documents_stateful
    else:
        ddl = "event_id long, ts timestamp, user_id long, event_type string, value double"
        # cusum: S+ 3.5, 7.0, 10.5 > h alarms on the 3rd event; latch:
        # 9 alerts, 3 resets, 9 alerts again
        values = [9.0, 9.0, 9.0, 5.0, 5.0] if case == "cusum" else [9.0, 3.0, 9.0]
        rows = [
            {
                "event_id": 100 + i, "ts": f"2024-01-01T0{i}:00:00",
                "user_id": 1, "event_type": "metric", "value": v,
            }
            for i, v in enumerate(values)
        ]
        build = (
            stateful.cusum_alarm_stateful if case == "cusum"
            else stateful.alert_latch_stateful
        )
    src = tmp_path / "chunk_src"
    src.mkdir()
    pd.DataFrame(rows[::-1]).to_json(
        src / "b0.json", orient="records", lines=True, date_format="iso"
    )
    stream = stream_file_source(spark, str(src), ddl, fmt="json", maxFilesPerTrigger=1)
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "2")
    try:
        run_fold_to_memory(build(stream), f"chunk_{case}_sink")
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    got = sorted(
        tuple(r) for r in spark.sql(f"select * from chunk_{case}_sink").collect()
    )
    if case == "cusum":
        static = spark.createDataFrame(pd.DataFrame(rows)).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        batch = sorted(tuple(r) for r in stateful.cusum_alarm_batch(static).collect())
        assert got == batch == [(1, 102, "up", 10.5, 3, 1)]
    elif case == "latch":
        assert got == [(1, 100, 9.0, 1), (1, 102, 9.0, 2)]
    else:
        assigns, _ = packer.pack_scan(list(enumerate(sizes)))
        assert got == [("en", *a) for a in assigns]


def test_streaming_ohlc_matches_batch(spark, tmp_path):
    """T8+ (round-11): watermarked streaming OHLC bars converge to the
    batch answer — including the (ts, event_id) tie-break on open/close
    when two events share one timestamp across DIFFERENT micro-batches
    (the ordering state the streaming aggregate must carry)."""
    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01T{i % 3:02d}:{(11 * i) % 60:02d}:00",
            "user_id": i % 4,
            "value": float((7 * i) % 23),
        }
        for i in range(30)
    ]
    # planted tie: event 100 (later id) arrives in batch 1 at the same
    # timestamp as event 5 from batch 0 — open must stay event 5's value
    rows_tie = [
        {
            "event_id": 100,
            "ts": rows[5]["ts"],
            "user_id": 1,
            "value": 999.0,
        }
    ]
    all_rows = rows + rows_tie
    rows_df = spark.createDataFrame(
        pd.DataFrame(all_rows).assign(ts=lambda d: pd.to_datetime(d.ts)),
        EVENTS_DDL,
    )
    stream = _stream_events(spark, tmp_path, [rows[:15], rows[15:] + rows_tie])
    streamed = sq.ohlc_agg(sq.with_watermark(stream))
    _run_to_memory(streamed, "ohlc_sink", "append")
    got = {
        r.window_start: (r.n_events, r.open, r.high, r.low, r.close)
        for r in spark.sql("select * from ohlc_sink").collect()
    }
    expected = {
        r.window_start: (r.n_events, r.open, r.high, r.low, r.close)
        for r in sq.ohlc_agg(rows_df).collect()
    }
    assert got  # at least the watermark-closed windows emitted
    for k, v in got.items():
        assert expected[k] == v

"""Stream-static enrichment join: the streaming result over micro-batches
equals the batch recompute over the union of all batches."""

from __future__ import annotations

import json
import os
import time

from conftest import run_fold_to_memory
from pyspark.sql import functions as F

from streamroom_bigdata_spark.streaming.queries import stream_static_enrich


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    dim_rows = [(u, "gold" if u % 3 == 0 else "std") for u in range(1, 9)]
    dim = spark.createDataFrame(dim_rows, "user_id long, segment string")

    batches = [
        [
            {"user_id": 1 + (i + b) % 8, "ts": f"2024-01-01T00:0{b}:0{i}", "value": float(i + b)}
            for i in range(6)
        ]
        for b in range(3)
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        p = src / f"b{i}.jsonl"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (time.time() + i, time.time() + i))

    schema = "user_id long, ts string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream_static_enrich(stream, dim)
        .writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.segment: (r.n_events, r.sum_value)
        for r in spark.sql("select * from enrich_sink").collect()
    }

    batch_df = spark.read.schema(schema).json(str(src))
    want = {
        r.segment: (r.n_events, r.sum_value)
        for r in stream_static_enrich(batch_df, dim).collect()
    }
    assert got == want
    assert set(got) == {"gold", "std"}


def test_alert_latch_hysteresis(spark, tmp_path):
    """The latch fires once per excursion above HIGH, stays silent until
    the value falls through LOW, and re-fires on the next excursion —
    across micro-batch boundaries."""
    import json as _json

    from streamroom_bigdata_spark.streaming import stateful

    # user 1: up (alert) -> still up (silent) -> down -> up again (alert)
    # user 2: never crosses -> no rows
    batches = [
        [
            {"user_id": 1, "event_id": 1, "ts": "2024-01-01T00:00:00", "value": 9.0},
            {"user_id": 1, "event_id": 2, "ts": "2024-01-01T00:01:00", "value": 11.0},
            {"user_id": 2, "event_id": 3, "ts": "2024-01-01T00:01:30", "value": 5.0},
        ],
        [
            {"user_id": 1, "event_id": 4, "ts": "2024-01-01T00:02:00", "value": 3.0},
            {"user_id": 1, "event_id": 5, "ts": "2024-01-01T00:03:00", "value": 8.5},
            {"user_id": 2, "event_id": 6, "ts": "2024-01-01T00:03:30", "value": 7.9},
        ],
    ]
    src = tmp_path / "alerts"
    src.mkdir()
    for i, rows in enumerate(batches):
        p = src / f"b{i}.jsonl"
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (time.time() + i, time.time() + i))

    schema = "user_id long, event_id long, ts string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    run_fold_to_memory(stateful.alert_latch_stateful(stream), "alert_sink")
    rows = sorted(
        spark.sql("select * from alert_sink").collect(),
        key=lambda r: r.event_id,
    )
    assert [(r.user_id, r.event_id, r.n_alerts) for r in rows] == [
        (1, 1, 1),   # first crossing fires
        (1, 5, 2),   # re-fires only after the dip below LOW
    ]

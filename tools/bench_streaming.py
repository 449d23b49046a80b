"""Streaming throughput bench: events/s through the wire-parse + demux
router (reference comparison point: the reference producer hard-caps ingest
at 5 events/s via a 200 ms driver sleep, producer.scala:51).

Drives the router with the rate-micro-batch source (EXACTLY rowsPerBatch
rows per trigger) mapped onto the wire format, sinks to the per-entity
bronze parquet dirs through the checkpointed foreachBatch router, and
reports sustained rows/sec as sum(committed batch input rows) /
sum(trigger durations) — startup time and the in-flight batch discarded at
stop() cancel out, which a wall-clock quotient does not (measured 7x
understatement on a 20 s run). It runs the router's ``idempotent=True``
path, not the default append, so ``rows_in_bronze`` can count only the
``batch_id=<id>`` dirs of committed batches.

Usage: python tools/bench_streaming.py [rows_per_batch] [seconds]
       python tools/bench_streaming.py --stateful [rows_per_batch] [seconds] [n_keys]

``--stateful`` benches the stateful monitoring family instead of the
router: sustained events/s and state-store size for
``cusum_alarm_stateful``, ``holt_drift_stateful``, ``psi_drift`` and the
streaming bin packer under a multi-key rate-micro-batch source — the
applyInPandasWithState throughput ceiling, measured one query at a time
(concurrent queries on one local JVM would contend and understate all
four). Same committed-batch quotient as the router number.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")


def _rate_source(spark, rows_per_batch: int, advance_ms: int):
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("advanceMillisPerBatch", str(advance_ms))
        .option("numPartitions", str(spark.sparkContext.defaultParallelism))
        .load()
    )


def _drain(q, seconds: int):
    """Run ``q`` for ``seconds``, stop, and reduce committed progress to
    (events/s, batches, rows, state_rows, state_bytes, output_rows)."""
    time.sleep(seconds)
    q.stop()
    q.awaitTermination(60)
    progress = [
        p for p in q.recentProgress
        if p is not None and p.get("numInputRows", 0) > 0
    ]
    in_rows = sum(p["numInputRows"] for p in progress)
    busy_ms = sum(p["durationMs"]["triggerExecution"] for p in progress)
    out_rows = sum(
        p.get("sink", {}).get("numOutputRows", 0) or 0 for p in progress
    )
    state_rows = state_bytes = 0
    for p in reversed(progress):
        ops = p.get("stateOperators") or []
        if ops:
            state_rows = sum(o.get("numRowsTotal", 0) for o in ops)
            state_bytes = sum(o.get("memoryUsedBytes", 0) for o in ops)
            break
    return {
        "events_per_sec": round(in_rows / max(busy_ms / 1000.0, 0.001), 1),
        "n_batches": len(progress),
        "rows_committed": in_rows,
        "busy_sec": round(busy_ms / 1000.0, 1),
        "state_rows": state_rows,
        "state_bytes": state_bytes,
        "output_rows": int(out_rows),
    }


def stateful_main() -> int:
    from pyspark.sql import functions as F

    from streamroom_bigdata_spark.session import get_spark
    from streamroom_bigdata_spark.streaming.drift import psi_drift
    from streamroom_bigdata_spark.streaming.packer import (
        pack_documents_stateful,
    )
    from streamroom_bigdata_spark.streaming.stateful import (
        cusum_alarm_stateful,
        holt_drift_stateful,
    )

    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    rows_per_batch = int(args[0]) if len(args) > 0 else 200_000
    run_seconds = int(args[1]) if len(args) > 1 else 40
    n_keys = int(args[2]) if len(args) > 2 else 1_000

    spark = get_spark(
        "bench_streaming_stateful",
        extra_conf={
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    import os

    # deterministic drifting metric: a per-key ramp with a level shift
    # every 500 events, so CUSUM/Holt do real alarm work, not no-op scans
    def events(advance_ms: int):
        r = _rate_source(spark, rows_per_batch, advance_ms)
        return r.select(
            (F.col("value") % n_keys).alias("user_id"),
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (
                (F.col("value") % 7).cast("double")
                + F.when((F.col("value") / n_keys % 1000) < 500, 0.0)
                .otherwise(25.0)
            ).alias("value"),
            F.concat(F.lit("t"), F.col("value") % 8).alias("event_type"),
        )

    def docs(advance_ms: int):
        r = _rate_source(spark, rows_per_batch, advance_ms)
        return r.select(
            F.concat(F.lit("lang"), F.col("value") % 16).alias("lang"),
            F.col("value").alias("doc_id"),
            (F.col("value") % 900 + 100).cast("long").alias("n_chars"),
        )

    uniform = {f"t{i}": 1.0 / 8 for i in range(8)}
    families = {
        "cusum_alarm_stateful": lambda: (
            cusum_alarm_stateful(events(1000)), "update"),
        "holt_drift_stateful": lambda: (
            holt_drift_stateful(events(1000)), "update"),
        # 2 min of event time per batch → 10-min windows + 10-min
        # watermark actually close inside a 40 s run (~11th batch), so
        # append output and its state eviction are part of the measured
        # work, not deferred past the stop
        "psi_drift": lambda: (psi_drift(events(120_000), uniform), "append"),
        "pack_documents_stateful": lambda: (
            pack_documents_stateful(docs(1000)), "update"),
    }

    out = {
        "metric": "streaming_stateful_throughput",
        "unit": "events/sec",
        "rows_per_batch": rows_per_batch,
        "run_seconds": run_seconds,
        "n_keys": n_keys,
        "cpus": spark.sparkContext.defaultParallelism,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "families": {},
    }
    for name, build in families.items():
        ckpt = tempfile.mkdtemp(prefix=f"bench_state_{name}_")
        try:
            df, mode = build()
            q = (
                df.writeStream.format("noop")
                .outputMode(mode)
                .option("checkpointLocation", f"{ckpt}/ckpt")
                .start()
            )
            out["families"][name] = _drain(q, run_seconds)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(out))
    return 0


def annprobe_main() -> int:
    """Serving-twin throughput: queries/s through streaming_ann_probe_sink
    against the committed session chain at the given sf. Each micro-batch
    is ``rows_per_batch`` DISTINCT corpus vectors (rate values are
    consecutive, so value % corpus stays collision-free while batch ≤
    corpus) enriched from a static embedding frame, probed as ONE
    committed-index probe per trigger, results parquet-committed per
    batch. The per-batch cost is probe-plan fixed overhead + |Q|-linear
    LUT work, so queries/s scales with batch size until the LUT broadcast
    (128·|Q| rows) dominates — report the batch size with the number.

    Usage: python tools/bench_streaming.py --annprobe [rows_per_batch]
           [seconds] [sf_dir]"""
    import os

    from pyspark.sql import functions as F

    from streamroom_bigdata_spark.operators.annindex import (
        _emb,
        _incremental_chain,
        streaming_ann_probe_sink,
    )
    from streamroom_bigdata_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    rows_per_batch = int(args[0]) if len(args) > 0 else 64
    run_seconds = int(args[1]) if len(args) > 1 else 40
    sf_dir = args[2] if len(args) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )

    spark = get_spark(
        "bench_streaming_annprobe",
        extra_conf={
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    idx = _incremental_chain(spark, sf_dir)  # untimed: the index exists
    corpus = _emb(spark, sf_dir).select(
        "vec_id", F.col("emb").alias("embedding")
    )
    n = corpus.count()
    assert rows_per_batch <= n, "batch must stay collision-free"
    out_dir = tempfile.mkdtemp(prefix="bench_annprobe_out_")
    ckpt = tempfile.mkdtemp(prefix="bench_annprobe_ckpt_")
    queries = (
        _rate_source(spark, rows_per_batch, 1000)
        .select((F.col("value") % n).cast("long").alias("vec_id"))
        .join(corpus, "vec_id")  # stream-static enrich
    )
    try:
        q = (
            queries.writeStream.foreachBatch(
                streaming_ann_probe_sink(idx, out_dir)
            )
            .option("checkpointLocation", f"{ckpt}/ckpt")
            .start()
        )
        stats = _drain(q, run_seconds)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "streaming_ann_probe_throughput",
                "unit": "queries/sec",
                "rows_per_batch": rows_per_batch,
                "run_seconds": run_seconds,
                "sf_dir": sf_dir,
                "corpus_vectors": n,
                "cpus": spark.sparkContext.defaultParallelism,
                "loadavg_start": [round(x, 2) for x in os.getloadavg()],
                "serving": stats,
            }
        )
    )
    return 0


def main() -> int:
    if "--annprobe" in sys.argv:
        return annprobe_main()
    if "--stateful" in sys.argv:
        return stateful_main()
    from pyspark.sql import functions as F

    from streamroom_bigdata_spark.schemas import ENTITIES, bronze_schema
    from streamroom_bigdata_spark.session import get_spark
    from streamroom_bigdata_spark.streaming.ingest import parse_wire
    from streamroom_bigdata_spark.streaming.router import start_router

    rows_per_batch = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    run_seconds = int(sys.argv[2]) if len(sys.argv) > 2 else 40

    spark = get_spark(
        "bench_streaming",
        extra_conf={
            # recentProgress retains only the last N updates (default 100);
            # a long run with small batches would silently truncate the
            # throughput numerator AND denominator — keep every batch
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    entities = list(ENTITIES)
    # rate-micro-batch: EXACTLY rows_per_batch rows per trigger, so every
    # committed batch is the same size and throughput can be computed from
    # committed-batch trigger durations alone — startup time and the
    # in-flight batch lost at stop() (which understated a 20 s wall-clock
    # run 7x) cancel out of the number entirely.
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("numPartitions", str(spark.sparkContext.defaultParallelism))
        .load()
    )
    # rate rows -> synthetic wire JSON, one of the six entity types per row;
    # every entity's dedup key is unique per row except classroom_id (500
    # rooms), so the router's per-entity key dedup keeps the other rows
    other_keys = [k for _, k in ENTITIES.values() if k not in ("booking_id", "classroom_id")]
    wire = rate.select(
        F.to_json(
            F.struct(
                F.concat(F.lit("B"), F.col("value")).alias("booking_id"),
                *[F.concat(F.lit("K"), F.col("value")).alias(k) for k in other_keys],
                F.concat(F.lit("C"), F.col("value") % 500).alias("classroom_id"),
                (F.col("value") % 200 + 5).cast("int").alias("students"),
                F.element_at(
                    F.array(*[F.lit(e) for e in entities]),
                    (F.col("value") % len(entities) + 1).cast("int"),
                ).alias("source_type"),
                F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias(
                    "ingestion_timestamp"
                ),
                F.date_format("timestamp", "yyyy-MM-dd").alias("ingestion_date"),
            )
        ).alias("value")
    )

    import os

    out_dir = tempfile.mkdtemp(prefix="bench_stream_")
    load_start = os.getloadavg()
    try:
        t0 = time.time()
        q = start_router(parse_wire(wire), f"{out_dir}/bronze", f"{out_dir}/ckpt",
                         idempotent=True)
        stats = _drain(q, run_seconds)
        elapsed = time.time() - t0
        # rows left after the router's per-entity key dedup, in the batches
        # the progress log reports; the batch stop() interrupts may have
        # written files without committing
        committed = [p["batchId"] for p in q.recentProgress
                     if p is not None and p.get("numInputRows", 0) > 0]
        rows = sum(
            spark.read.schema(bronze_schema(e)).parquet(f"{out_dir}/bronze/{e}")
            .filter(F.col("batch_id").isin(committed)).count()
            for e in entities
            if os.path.isdir(f"{out_dir}/bronze/{e}")
        )
        print(
            json.dumps(
                {
                    "metric": "streaming_router_throughput",
                    "value": stats["events_per_sec"],
                    "unit": "events/sec",
                    "rows_committed": stats["rows_committed"],
                    "rows_in_bronze": rows,
                    "elapsed_sec": round(elapsed, 1),
                    "busy_sec": stats["busy_sec"],
                    "n_batches": stats["n_batches"],
                    "rows_per_batch": rows_per_batch,
                    "loadavg_start": [round(x, 2) for x in load_start],
                    "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                }
            )
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

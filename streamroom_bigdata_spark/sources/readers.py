"""Batch + streaming readers.

Batch: parquet fixture tables (columnar scans — Catalyst gets predicate
pushdown, column pruning and min/max skipping for free) and schema'd CSV for
the SmartRoom ingest surface (reference: producer.scala:22-36 reads CSV
line-wise on the driver; ours is a distributed `spark.read.csv`).

Fixture tables go through one loader, :func:`load_table`, backed by a schema
catalog: the first read of a table infers its schema from the parquet
footer (one Spark job), and every later read of the same file version passes
that schema to ``spark.read.schema(...)``, which submits no job. An entry is
keyed on the path's absolute name, inode, size and mtime (plus those of every
file under a directory) and on the session confs that change what Spark
infers from a footer, so a pinned schema always equals what inference would
return at that moment. The catalog holds schemas, never DataFrames: every
call builds a fresh relation, so self-joins of one table keep distinct
attributes. Paths ``os.stat`` cannot see (``hdfs://``, ``s3a://``,
``file://`` URIs) are inferred on every read.

Streaming: thin wrappers for file/rate/socket/kafka sources (reference:
consumer.scala:44-49 Kafka source). Kafka needs the connector jar + a broker,
neither of which exists in the test container, so it is exercised only via
option-building unit tests; the file and rate sources drive the real tests.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import FIXTURE_TABLES

#: session confs that change the schema Spark infers from a parquet footer
#: (or from a table directory's layout)
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: (absolute path, inference confs) -> (file fingerprint, inferred schema).
#: Module-level: a schema depends only on the files and the confs, so it
#: stays valid across ``spark.stop()`` and new contexts.
_SCHEMAS: dict[tuple, tuple[tuple, T.StructType]] = {}


def _fingerprint(path: str) -> tuple | None:
    """(inode, size, mtime_ns) of ``path`` and, for a directory, of every
    entry under it; None when ``os.stat`` cannot see the path."""
    try:
        st = os.stat(path)
    except OSError:  # a URI, or a missing path (Spark raises the error)
        return None
    out = [(".", st.st_ino, st.st_size, st.st_mtime_ns)]
    if stat.S_ISDIR(st.st_mode):
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in sorted(files):
                full = os.path.join(root, name)
                try:
                    s = os.stat(full)
                except OSError:  # removed while walking
                    return None
                out.append((os.path.relpath(full, path), s.st_ino, s.st_size, s.st_mtime_ns))
    return tuple(out)


def _read_parquet(
    spark: SparkSession, path: str, confs: dict[str, str] | None = None
) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema pinned from the catalog
    when this file version was read before under the same confs. ``confs``
    (name → value) apply to schema inference only: they are set around the
    inferring read, the caller's values are restored after it, and the
    returned read is pinned to the inferred schema."""
    confs = confs or {}
    fingerprint = _fingerprint(path)
    key = (
        os.path.abspath(path),
        tuple(confs.get(k, spark.conf.get(k, None)) for k in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if fingerprint is not None and hit is not None and hit[0] == fingerprint:
        return spark.read.schema(hit[1]).parquet(path)
    # the fingerprint is taken before inference, so a file rewritten in
    # between is re-inferred on the next read; racing misses both infer and
    # store the same kind of pair, so no lock is needed
    if confs:
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            schema = spark.read.parquet(path).schema
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    if fingerprint is not None:
        _SCHEMAS[key] = (fingerprint, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # The fixture events.ts is parquet TIMESTAMP(NANOS), which Spark's
        # schema inference rejects outright. Infer nanos as int64 (the conf
        # holds for that one read) and convert to a microsecond timestamp
        # in-plan (floor division — matches DuckDB's ns→µs cast truncation,
        # so oracle comparisons agree). Synthetic events tables written
        # with µs timestamps pass through untouched.
        df = _read_parquet(spark, path, {"spark.sql.legacy.parquet.nanosAsLong": "true"})
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in FIXTURE_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (mirrors the DuckDB oracle
    environment, where the same names are pre-registered)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_entity_csv(
    spark: SparkSession, path: str, schema: T.StructType, sep: str = ";"
) -> DataFrame:
    """Schema'd CSV read for SmartRoom entity files (semicolon-separated,
    one header row — reference producer.scala:36,82). Malformed short rows
    drop via DROPMALFORMED, matching the reference's silent null-drop
    (producer.scala:83,102,...)."""
    return (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("mode", "DROPMALFORMED")
        .schema(schema)
        .csv(path)
    )


def stream_file_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    **options,
) -> DataFrame:
    """File-based streaming source — the deterministic test harness stand-in
    for Kafka (same micro-batch engine downstream).

    ``max_files_per_trigger`` is the file-source rate-limiting knob (the
    idiomatic equivalent of the reference producer's 200 ms/record sleep,
    and of ``maxOffsetsPerTrigger`` on the Kafka source): each micro-batch
    ingests at most that many files, so a backlog drains in bounded bites
    instead of one giant catch-up batch that can blow executor memory."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def stream_rate_source(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Built-in rate source: (timestamp, value) rows — used for throughput
    tests. The reference's producer is hard-capped at 5 events/s by a driver
    sleep (producer.scala:51); this is the executor-parallel replacement."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Options for a Kafka streaming read (reference: consumer.scala:44-49).
    Rate limiting moves from the producer's per-record sleep to the consumer's
    maxOffsetsPerTrigger — backpressure the Spark way."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def stream_socket_source(
    spark: SparkSession, host: str = "localhost", port: int = 9999
) -> DataFrame:
    """Socket text source (S4): one ``value`` string column per received line.
    Spark connects to ``host:port`` as a client; lines are not replayable, so
    this is a dev/debug source — exactly the niche the reference's
    console-oriented tooling fills. Exercised against a real local socket in
    tests/test_streaming.py."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )


def kafka_sink_options(bootstrap_servers: str, topic: str) -> dict[str, str]:
    """Options for a Kafka write (reference: producer.scala:19-20,46-51
    produces to ``room_requests`` one record at a time on the driver; the
    Spark writer is executor-parallel)."""
    return {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}


def to_kafka_records(
    df: DataFrame, value_col: str = "value", key_col: str | None = None
) -> DataFrame:
    """Project to the (key, value) string columns the Kafka writer contract
    requires — the pure-plan half of the sink, unit-testable without a
    broker."""
    cols = [F.col(value_col).cast("string").alias("value")]
    if key_col is not None:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return df.select(*cols)


def write_kafka_batch(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    value_col: str = "value",
    key_col: str | None = None,
) -> None:
    """Batch Kafka sink (S3): every partition produces in parallel from the
    executors — no driver loop, no per-record sleep (contrast
    producer.scala:51's 200 ms/record cap). Guarded like the source: no
    connector jar / broker in the test container."""
    writer = to_kafka_records(df, value_col, key_col).write.format("kafka")
    for k, v in kafka_sink_options(bootstrap_servers, topic).items():
        writer = writer.option(k, v)
    try:
        writer.save()
    except Exception as exc:  # pragma: no cover - no broker in test env
        raise RuntimeError(
            "Kafka sink unavailable (connector jar or broker missing); "
            "use a file/memory sink for local testing"
        ) from exc


def console_sink(df: DataFrame, mode: str = "append", num_rows: int = 20, truncate: bool = False):
    """Console sink wrapper (S8) — the reference's consumer prints every
    micro-batch (consumer.scala format("console")). Returns the configured
    writer; caller ``.start()``s it."""
    return (
        df.writeStream.format("console")
        .outputMode(mode)
        .option("numRows", str(num_rows))
        .option("truncate", str(truncate).lower())
    )


def stream_kafka_source(spark: SparkSession, **kwargs) -> DataFrame:
    """Kafka streaming source. Requires the spark-sql-kafka connector on the
    classpath and a reachable broker; guarded so environments without Kafka
    fail with a clear message instead of a JVM stack."""
    opts = kafka_source_options(**kwargs)
    reader = spark.readStream.format("kafka")
    for k, v in opts.items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as exc:  # pragma: no cover - no broker in test env
        raise RuntimeError(
            "Kafka source unavailable (connector jar or broker missing); "
            "use stream_file_source/stream_rate_source for local testing"
        ) from exc


def read_kafka_batch(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    ending_offsets: str = "latest",
) -> DataFrame:
    """Batch Kafka read (S4 batch form): a bounded scan of ``topic`` between
    the two offset specs — the replay/backfill path. Same guard as the
    streaming source: clear error when the connector jar or broker is
    absent."""
    reader = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("endingOffsets", ending_offsets)
    )
    try:
        return reader.load()
    except Exception as exc:  # pragma: no cover - no broker in test env
        raise RuntimeError(
            "Kafka source unavailable (connector jar or broker missing); "
            "use batch parquet/CSV readers for local testing"
        ) from exc


def stream_rate_micro_batch(
    spark: SparkSession, rows_per_batch: int = 1000, start_ts_ms: int = 0
) -> DataFrame:
    """rate-micro-batch source (S4): EXACTLY ``rows_per_batch`` rows per
    trigger with deterministic values and timestamps — the reproducible
    variant of ``rate`` (which is wall-clock driven), right for
    load-shaping tests where batch contents must be stable across runs."""
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("startTimestamp", str(start_ts_ms))
        .load()
    )

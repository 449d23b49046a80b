"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); the configuration below is
chosen so the same code is correct on a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast) so the
  physical plan adapts to real statistics at any scale factor.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's coalescing makes the initial number mostly irrelevant.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
- Codegen cache sized to the working set, so warm queries reuse their
  generated classes instead of recompiling them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: generated classes the codegen cache keeps. Spark's default of 100 is
#: split into 4 segments of 25 that evict on their own, so four warm queries
#: (~90 classes) already recompile classes on every run. The bench.py
#: headline (sf0.1) plus the perfbench analytics mix compile 834 distinct
#: classes; 2000 leaves each segment about 2.4x that share.
CODEGEN_CACHE_ENTRIES = 2000


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    except ValueError:
        return os.cpu_count() or 4


def shuffle_partition_count(spark: SparkSession, default: int = 200) -> int:
    """Numeric value of ``spark.sql.shuffle.partitions`` with a safe
    fallback: runtimes may set the conf to a non-numeric value (e.g.
    ``"auto"``), and operators that size a ``repartitionByRange`` off it
    must not throw there."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (ValueError, TypeError):
        return default


def get_spark(
    app_name: str = "streamroom_bigdata_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession.

    ``cpus`` only affects a freshly created session (``master`` is fixed at
    creation); an existing session is returned as-is apart from runtime confs.
    """
    n = cpus or cpu_count()
    # Shuffle-partition sizing is THE local scale knob: the pinned
    # shuffle-hash joins (dedup/winnowing) build one hash map per task, so
    # per-partition size must fit the per-task heap share. At sf0.1 `cores`
    # partitions are right; the sf≈10 rehearsal measured 32 partitions
    # OOMing the shared local heap (corpus/32 build sides × 32 concurrent
    # tasks), fixed by 8× the partitions — the same rows-per-partition a
    # real cluster would get from spark.sql.files.maxPartitionBytes.
    # Override per-run with SPARK_GRAFT_SHUFFLE_PARTITIONS.
    env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    sp = shuffle_partitions or (int(env_sp) if env_sp else None) or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Defense-in-depth: parquet written with timezone-naive timestamps
        # (the driver-generated fixtures) should read as TIMESTAMP_LTZ so
        # epoch functions (unix_millis & co) resolve. Operators additionally
        # cast at the call site so correctness never depends on this conf —
        # the driver may build its own session without it.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the console progress bar writes \r-prefixed lines into stdout,
        # where they merge into the tools' JSON output lines
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # bucketed tables (sources/bucketing.py) need a writable warehouse;
        # keep it out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

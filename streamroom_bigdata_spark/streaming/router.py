"""Streaming bronze router (SURVEY.md §2.9 T1-T5, §2.1 S7).

The reference's consumer routes each micro-batch into six MongoDB collections
with six independent filter→dedup→write jobs, re-scanning the uncached batch
each time, with no checkpoint (reference: consumer.scala:57-97). This router
keeps the capability and fixes the anti-patterns (SURVEY.md §4.3):

- ``route_batch`` dedups the whole batch ONCE, on ``(source_type, key)``
  with each entity's key picked by ``source_type``, and writes it with ONE
  ``partitionBy("source_type")`` job into a staging directory whose part
  files are then renamed into the per-entity dirs (one shuffle and one
  write, not six of each).
- ``start_router`` wires it under ``writeStream.foreachBatch`` WITH a
  checkpoint location, so restarts resume from offsets instead of replaying.
- Within-batch dedup keeps the reference's per-entity keys
  (consumer.scala:61-91); ``dedup_stream`` upgrades to cross-batch streaming
  dedup with watermark-bounded state (T2 upgrade) — the state store holds
  only keys newer than the watermark, so state is bounded at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..schemas import ENTITIES, WIRE_SCHEMA
from ..sources.maintenance import _fs_path


def route_batch(
    batch_df: DataFrame, base_dir: str, batch_id: int | None = None
) -> None:
    """Route one micro-batch into the per-entity bronze store: one parquet
    dir per entity, the reference's per-collection layout
    (consumer.scala:60-94).

    The batch is cast to the wire types and deduped once on ``source_type``
    and the entity's key (consumer.scala:61-91: ``booking_id`` for fixed
    bookings, ``onetime_id`` for one-time bookings, ...), so the same key
    under two entities stays in both. One ``partitionBy("source_type")``
    overwrite of ``<base_dir>/_staging`` (clearing what an interrupted batch
    left) writes it; its part files are renamed into ``<base_dir>/<entity>/``
    and the staging dir deleted. Files keep every wire column but
    ``source_type`` (readers pin ``schemas.bronze_schema``).

    ``batch_id`` (exactly-once upgrade): when set, each entity's files land
    in a freshly emptied ``batch_id=<id>`` dir — foreachBatch is only
    at-least-once (a crash mid-batch replays the batch after restart, and
    plain appends would duplicate what was already moved), but replacing
    by the checkpoint's monotonic batch id makes the replay IDEMPOTENT.
    Readers see a ``batch_id`` partition column (prunable; harmless to
    entity projections)."""
    key = F.expr(
        "CASE source_type "
        + " ".join(f"WHEN '{name}' THEN {col}" for name, (_, col) in ENTITIES.items())
        + " END"
    )
    staging = f"{base_dir}/_staging"
    (
        batch_df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in WIRE_SCHEMA.fields]
        )
        .withColumn("_key", key)
        .dropDuplicates(["source_type", "_key"])
        .drop("_key")
        .write.mode("overwrite")
        # a session-wide dynamic mode would keep a stale staged entity
        .option("partitionOverwriteMode", "static")
        .partitionBy("source_type")
        .parquet(staging)
    )
    fs, staged, jvm = _fs_path(batch_df.sparkSession, staging)
    Path = jvm.org.apache.hadoop.fs.Path
    for name in ENTITIES:
        src = Path(staged, f"source_type={name}")
        if not fs.exists(src):
            continue
        dst = Path(f"{base_dir}/{name}")
        if batch_id is not None:
            dst = Path(dst, f"batch_id={batch_id}")
            fs.delete(dst, True)
        fs.mkdirs(dst)
        for status in fs.listStatus(src):
            part = status.getPath()
            if not fs.rename(part, Path(dst, part.getName())):
                raise IOError(f"bronze router: could not move {part} into {dst}")
    fs.delete(staged, True)


def start_router(
    wire_stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
    idempotent: bool = False,
) -> StreamingQuery:
    """The consumer entry point: parsed wire stream → bronze store under
    ``foreachBatch``, checkpointed (the reference has no checkpoint —
    consumer.scala:57-97; ours restarts exactly-once-ish).

    ``idempotent=True`` upgrades "exactly-once-ish" to exactly-once for
    the bronze files: each entity's files land in a ``batch_id=<epoch>``
    partition that the batch empties first, so a batch REPLAYED after a
    mid-batch crash replaces its own partial output instead of appending
    a duplicate (see :func:`route_batch`)."""
    writer = (
        wire_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, bid: route_batch(
                df, base_dir, batch_id=bid if idempotent else None
            )
        )
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    parsed: DataFrame,
    key: str,
    ts_col: str = "event_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Cross-batch streaming dedup (T2 upgrade): duplicates are dropped across
    micro-batches, with state bounded by the watermark — keys older than
    ``watermark`` age out of the state store, so this runs forever at any
    volume (the reference dedups only within a micro-batch,
    consumer.scala:61-91).

    Dedup is KEY-ONLY, matching the reference's
    ``dropDuplicates("booking_id")`` semantics (consumer.scala:61): the same
    business key arriving later with a *different* timestamp is still a
    duplicate. ``dropDuplicatesWithinWatermark`` gives exactly that — state
    keyed on ``key`` alone, expired once the key's first-seen event time
    falls behind the watermark."""
    return parsed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([key])


def content_dedup_stream(
    parsed: DataFrame,
    content_cols: list[str],
    ts_col: str = "event_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact dedup at ingest by CONTENT identity (T2 upgraded once more):
    the reference dedups on the business key (consumer.scala:61-91), which
    misses the retransmit that re-keys the same payload — the shape a
    training-data ingest actually fights (the same document crawled twice
    under two ids). Rows are fingerprinted with ``content_fingerprint``
    (operators/dedup.py — sha256 over '|'-joined canonical column strings;
    column order fixed by the caller's list, so the hash is stable across
    plans AND identical to the batch audit twin ``ingest_content_dedup``),
    then deduped cross-batch on that
    fingerprint with watermark-bounded state — the state store holds one
    64-hex key per distinct payload newer than the watermark, so state is
    bounded at any volume exactly like :func:`dedup_stream`.

    The ``content_hash`` column stays on the output: the bronze router
    downstream can partition or index on it, and the batch twin audits the
    same fingerprint definition retrospectively."""
    from ..operators.dedup import content_fingerprint

    hashed = parsed.withColumn(
        "content_hash", content_fingerprint(*content_cols)
    )
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )

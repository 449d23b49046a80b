"""Streaming bronze router (SURVEY.md §2.9 T1-T5, §2.1 S7).

The reference's consumer routes each micro-batch into six MongoDB collections
with six independent filter→dedup→write jobs, re-scanning the uncached batch
each time, with no checkpoint (reference: consumer.scala:57-97). This router
keeps the capability and fixes the anti-patterns (SURVEY.md §4.3):

- ``route_batch`` dedups the whole batch ONCE, on ``(source_type, key)``
  with each entity's key picked by ``source_type`` (one shuffle, not six),
  materializes that result eagerly, then writes the six per-entity parquet
  dirs from it concurrently and releases it.
- ``start_router`` wires it under ``writeStream.foreachBatch`` WITH a
  checkpoint location, so restarts resume from offsets instead of replaying.
- Within-batch dedup keeps the reference's per-entity keys
  (consumer.scala:61-91); ``dedup_stream`` upgrades to cross-batch streaming
  dedup with watermark-bounded state (T2 upgrade) — the state store holds
  only keys newer than the watermark, so state is bounded at any scale.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.reliability import materialize, release
from ..schemas import ENTITIES, bronze_schema


def route_batch(
    batch_df: DataFrame, base_dir: str, batch_id: int | None = None
) -> None:
    """Route one micro-batch into the per-entity bronze store: one parquet
    dir per entity with that entity's columns only — the reference's
    per-collection layout (consumer.scala:60-94).

    The batch is deduped once, on ``source_type`` and the entity's key
    (consumer.scala:61-91: ``booking_id`` for fixed bookings, ``onetime_id``
    for one-time bookings, ...), so the same key under two entities stays in
    both. That result is materialized eagerly before the six writes start:
    the writes run concurrently, and a lazily persisted frame would be
    computed by whichever writes reach it first. After the writes the
    materialized blocks are released. With ``spark.checkpoint.dir`` set
    (reliable mode, see ``functions/reliability``), each batch leaves one
    checkpoint directory of its deduped rows there, removed only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.

    ``batch_id`` (exactly-once upgrade): when set, each entity's rows land
    in a ``batch_id=<id>`` partition directory written with OVERWRITE —
    foreachBatch is only at-least-once (a crash mid-batch replays the batch
    after restart, and plain appends would then duplicate every entity dir
    already written), but an overwrite keyed on the checkpoint's monotonic
    batch id makes the replay IDEMPOTENT: the second attempt replaces the
    partial first attempt byte-for-byte. Readers see a ``batch_id``
    partition column (prunable; harmless to entity projections)."""
    key = F.expr(
        "CASE source_type "
        + " ".join(f"WHEN '{name}' THEN {col}" for name, (_, col) in ENTITIES.items())
        + " END"
    )
    deduped = materialize(
        batch_df.withColumn("_key", key).dropDuplicates(["source_type", "_key"])
    )
    try:

        def write_entity(name):
            # cast to the bronze layout, so readers can pin its schema (a
            # no-op on the wire-parsed batch, whose types already match)
            entity = deduped.filter(F.col("source_type") == name).select(
                *[F.col(f.name).cast(f.dataType).alias(f.name)
                  for f in bronze_schema(name).fields]
            )
            if batch_id is None:
                entity.write.mode("append").parquet(os.path.join(base_dir, name))
            else:
                entity.write.mode("overwrite").parquet(
                    os.path.join(base_dir, name, f"batch_id={batch_id}")
                )

        # the six writes are independent jobs over the materialized batch —
        # submit them concurrently so executor slots stay busy (the
        # reference runs them serially AND rescans the source each time)
        with ThreadPoolExecutor(max_workers=len(ENTITIES)) as pool:
            for fut in [pool.submit(write_entity, name) for name in ENTITIES]:
                fut.result()
    finally:
        release(deduped)


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
    the bronze files: each entity write lands in a ``batch_id=<epoch>``
    partition with overwrite semantics, so a batch REPLAYED after a
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

"""The one way to materialize a DataFrame eagerly (or lazily) in this repo.

Policy: if the session's SparkContext has a checkpoint directory (Spark's
own deployment setting ``spark.checkpoint.dir``, or ``setCheckpointDir``),
``materialize`` writes a RELIABLE ``df.checkpoint()`` there, which survives
executor loss; otherwise it takes a ``localCheckpoint`` (executor-local
blocks, no external storage). Either way the result is lineage-truncated
and nothing enters the session's SQL cache: local blocks are freed with
their DataFrame, and reliable files stay in the directory unless
``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.

Measured cost of reliable mode (connected_components, sf0.1, interleaved
A/B warm medians): 1.39 s vs 1.37 s local — noise, because every
per-round table in these loops is output-sized (labels, ranks, peeled
edges), not corpus-sized; the write cost follows the small table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` checkpointed under the policy above."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


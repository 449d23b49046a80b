"""Streaming heavy hitters — a sharded Misra-Gries summary as stream state
(SURVEY.md §2.9 T10 family; the streaming twin of the batch
``heavy_hitter_tokens`` operator and the count-min sketch in
``operators/profile.py``).

Shape that scales: a single global summary would funnel every token through
one state key (the streaming version of the unpartitioned-window trap).
Instead the token stream is SHARDED by token hash — each shard's state is
its own bounded Misra-Gries table, and because sharding routes every
occurrence of a token to exactly one shard, each shard sees the complete
stream of its tokens: the classic N/k error bound holds per shard
(N = that shard's token count, k = MG_CAPACITY). Shard summaries are
emitted every micro-batch; the reader unions shards and thresholds. State
per shard is <= MG_CAPACITY (token, count) entries — fixed, regardless of
stream length or vocabulary.

The weighted (batched) MG update below is the SpaceSaving-family
generalization: inserting c occurrences of an unseen token into a full
table repeatedly subtracts the table-wide minimum — equivalent to c unit
MG decrements, preserving the invariant
    true_count - decrement_total <= est <= true_count.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stateful import HOUR_MS, _fold_update, _keyed_fold

#: counters kept per shard (the k in the N/k error bound) and shard count.
MG_CAPACITY = 64
MG_SHARDS = 8

MG_OUTPUT_SCHEMA = "shard int, tok string, est long, dec long"
MG_STATE_SCHEMA = "toks array<string>, counts array<long>, dec long"


def mg_update(d: dict[str, int], tok: str, c: int, cap: int) -> int:
    """Weighted Misra-Gries insert; returns the total decrement applied
    (the amount every absent token's estimate may undercount by)."""
    if tok in d:
        d[tok] += c
        return 0
    dec_total = 0
    while c > 0:
        if len(d) < cap:
            d[tok] = c
            return dec_total
        m = min(d.values())
        step = min(m, c)
        dec_total += step
        c -= step
        for t in list(d):
            d[t] -= step
            if d[t] == 0:
                del d[t]
    return dec_total


def _shard_fold(pdf: pd.DataFrame, state):
    toks, counts, dec = state
    d = dict(zip(toks, counts))
    dec = int(dec)
    for tok, c in pdf["tok"].value_counts().items():
        dec += mg_update(d, str(tok), int(c), MG_CAPACITY)
    est = [int(v) for v in d.values()]
    return [(t, e, dec) for t, e in zip(d, est)], (list(d), est, dec)


_update_shard = _fold_update(_shard_fold, ([], [], 0), MG_OUTPUT_SCHEMA, HOUR_MS)


def streaming_heavy_hitters(tokens: DataFrame) -> DataFrame:
    """``tokens`` is a streaming DataFrame with a ``tok`` string column;
    emits each shard's current MG summary every micro-batch (update mode):
    (shard, tok, est, dec) with true_count - dec <= est <= true_count
    within the shard. Union the final emission per shard and keep
    ``est + dec >= threshold`` for a no-false-negative heavy-hitter read."""
    sharded = tokens.withColumn(
        "shard", F.pmod(F.hash("tok"), F.lit(MG_SHARDS)).cast("int")
    )
    return _keyed_fold(
        sharded, "shard", _update_shard, MG_OUTPUT_SCHEMA, MG_STATE_SCHEMA
    )

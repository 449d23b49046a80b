"""Streaming Misra-Gries heavy hitters: MG invariants on the pure update
function, plus the end-to-end sharded stream against exact batch counts."""

from __future__ import annotations

import json
import os
import random
import time

from conftest import run_fold_to_memory

from streamroom_bigdata_spark.streaming.sketches import (
    MG_CAPACITY,
    MG_SHARDS,
    mg_update,
    streaming_heavy_hitters,
)


def test_mg_update_invariant():
    """est <= true and true - est <= total decrement, for every token."""
    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(300)]
    weights = [1 + (i % 7) * 10 for i in range(300)]
    stream = rng.choices(vocab, weights=weights, k=20_000)
    d: dict[str, int] = {}
    dec = 0
    truth: dict[str, int] = {}
    for tok in stream:
        truth[tok] = truth.get(tok, 0) + 1
        dec += mg_update(d, tok, 1, 32)
    assert len(d) <= 32
    for tok, true_c in truth.items():
        est = d.get(tok, 0)
        assert est <= true_c
        assert true_c - est <= dec
    # classic bound: dec <= N / (k+1)
    assert dec <= len(stream) // 33 + 1


def test_mg_weighted_matches_unit_updates():
    """Inserting weight c at once == c unit inserts (same table, same
    decrement total)."""
    rng = random.Random(9)
    ops = [(f"t{rng.randrange(40)}", rng.randint(1, 9)) for _ in range(500)]
    d1: dict[str, int] = {}
    dec1 = 0
    for tok, c in ops:
        dec1 += mg_update(d1, tok, c, 8)
    d2: dict[str, int] = {}
    dec2 = 0
    for tok, c in ops:
        for _ in range(c):
            dec2 += mg_update(d2, tok, 1, 8)
    assert d1 == d2
    assert dec1 == dec2


def test_streaming_heavy_hitters_end_to_end(spark, tmp_path):
    """Sharded MG over file micro-batches: every token whose true count
    exceeds its shard's error bound survives, and every estimate brackets
    the truth."""
    rng = random.Random(21)
    vocab = [f"w{i}" for i in range(200)]
    hot = ["alpha", "beta", "gamma"]
    batches = []
    for b in range(3):
        toks = rng.choices(vocab, k=800) + hot * 120
        rng.shuffle(toks)
        batches.append(toks)

    src = tmp_path / "src"
    src.mkdir()
    for i, toks in enumerate(batches):
        p = src / f"b{i}.jsonl"
        with open(p, "w") as f:
            for t in toks:
                f.write(json.dumps({"tok": t}) + "\n")
        os.utime(p, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema("tok string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    run_fold_to_memory(streaming_heavy_hitters(stream), "mg_sink")

    # last emission per (shard, tok): per-shard dec is monotone
    # nondecreasing across batches, and for equal dec the count only
    # grows — so (dec desc, est desc) picks the latest state
    rows = spark.sql(
        "select * from (select *, row_number() over "
        "(partition by shard, tok order by dec desc, est desc) rn "
        "from mg_sink) where rn = 1"
    ).collect()
    est = {r.tok: r.est for r in rows}
    dec_by_shard = {r.shard: r.dec for r in rows}

    all_toks = [t for b in batches for t in b]
    truth: dict[str, int] = {}
    for t in all_toks:
        truth[t] = truth.get(t, 0) + 1

    # recompute each token's shard the way the operator does
    shard_of = {
        r["tok"]: r["shard"]
        for r in spark.createDataFrame(
            [(t,) for t in truth], "tok string"
        )
        .selectExpr("tok", f"pmod(hash(tok), {MG_SHARDS}) as shard")
        .collect()
    }
    for tok, true_c in truth.items():
        e = est.get(tok, 0)
        assert e <= true_c, (tok, e, true_c)
        d = dec_by_shard.get(shard_of[tok], 0)
        assert true_c - e <= d, (tok, e, true_c, d)
    # the planted heavy hitters must survive with tight estimates
    for h in hot:
        assert est.get(h, 0) >= truth[h] - dec_by_shard[shard_of[h]]
        assert truth[h] == 360
        assert est[h] > 300

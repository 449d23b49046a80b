"""Manifest-committed table: atomic visibility under crash injection."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from streamroom_bigdata_spark.sources import manifest_table as mt


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


@pytest.fixture()
def table(spark, tmp_path):
    d = str(tmp_path / "tbl")
    mt.manifest_write(spark, d, _mk(spark, [(1, "a"), (2, "b")]))
    return d


def test_write_read_roundtrip(spark, table):
    got = {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()}
    assert got == {(1, "a"), (2, "b")}
    assert mt.manifest_generation(spark, table) == 0


def test_upsert_replaces_and_appends(spark, table):
    gen = mt.manifest_upsert(
        spark, table, _mk(spark, [(2, "B"), (3, "c")]), "k"
    )
    assert gen == 1
    got = {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_upsert_stores_duplicate_update_key_once(spark, tmp_path):
    """Two rows for one key in ``updates`` commit ONE row for that key
    (which row wins is unspecified) — without going through the CDC
    sink."""
    d = str(tmp_path / "dup")
    mt.manifest_write(spark, d, _mk(spark, [(1, "a")]))
    mt.manifest_upsert(
        spark, d, _mk(spark, [(1, "old"), (1, "new"), (2, "x")]), "k"
    )
    got = sorted(tuple(r) for r in mt.manifest_read(spark, d).collect())
    assert [k for k, _ in got] == [1, 2]
    assert dict(got)[1] in ("old", "new")
    assert dict(got)[2] == "x"


def test_crash_between_stage_and_commit_is_invisible(spark, table):
    """Kill the writer after the data write, before the manifest rename:
    readers must keep seeing generation 0, and a later upsert must succeed
    and ignore the orphan."""
    before = {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()}
    # crash injection: stage a generation but never commit it
    mt._stage_generation(_mk(spark, [(9, "torn")]), table, 1)
    # ...and a manifest temp file that never got renamed
    os.makedirs(f"{table}/_manifest", exist_ok=True)
    with open(f"{table}/_manifest/.tmp-deadbeef.json", "w") as f:
        json.dump({"generation": 1, "data_dir": "bogus"}, f)

    assert {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()} == before
    assert mt.manifest_generation(spark, table) == 0

    gen = mt.manifest_upsert(spark, table, _mk(spark, [(3, "c")]), "k")
    assert gen == 1
    got = {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()}
    assert got == before | {(3, "c")}
    # vacuum reclaims the orphaned stage dir (2 live gens kept)
    removed = mt.manifest_vacuum(spark, table, keep=2)
    assert removed == 1
    assert {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()} == got


def test_concurrent_commit_detected(spark, table):
    """Two writers staging the same next generation: the second rename
    fails loudly instead of clobbering."""
    data_dir, n = mt._stage_generation(_mk(spark, [(5, "x")]), table, 1)
    mt._commit(spark, table, 1, {"generation": 1, "data_dir": data_dir,
                                 "n_rows": n})
    other, n2 = mt._stage_generation(_mk(spark, [(6, "y")]), table, 1)
    with pytest.raises(mt.ConcurrentCommitError):
        mt._commit(spark, table, 1, {"generation": 1, "data_dir": other,
                                     "n_rows": n2})
    got = {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()}
    assert (5, "x") in got and (6, "y") not in got


def test_vacuum_keeps_recent_generations(spark, table):
    for i in range(3):
        mt.manifest_upsert(spark, table, _mk(spark, [(10 + i, "v")]), "k")
    assert mt.manifest_generation(spark, table) == 3
    removed = mt.manifest_vacuum(spark, table, keep=2)
    assert removed == 2  # gens 0 and 1 reclaimed
    # newest generation still reads fine
    assert mt.manifest_read(spark, table).count() == 5


def test_streaming_manifest_sink_idempotent_replay(spark, tmp_path):
    """A foreachBatch replay of the same batch (post-crash restart) must
    leave the table unchanged — keys replace themselves."""
    d = str(tmp_path / "stream_tbl")
    sink = mt.streaming_manifest_upsert_sink(d, "k")
    batch = _mk(spark, [(1, "a"), (2, "b")])
    sink(batch, 0)
    sink(batch, 0)  # replay
    got = {(r.k, r.v) for r in mt.manifest_read(spark, d).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_time_travel_reads_old_generation(spark, table):
    mt.manifest_upsert(spark, table, _mk(spark, [(2, "B"), (3, "c")]), "k")
    # latest is merged; generation 0 is still the original
    now = {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()}
    then = {(r.k, r.v) for r in mt.manifest_read(spark, table, generation=0).collect()}
    assert now == {(1, "a"), (2, "B"), (3, "c")}
    assert then == {(1, "a"), (2, "b")}
    hist = mt.manifest_history(spark, table)
    assert [h["generation"] for h in hist] == [0, 1]
    assert [h["n_rows"] for h in hist] == [2, 3]


def test_time_travel_errors_are_explicit(spark, table):
    mt.manifest_upsert(spark, table, _mk(spark, [(3, "c")]), "k")
    with pytest.raises(FileNotFoundError, match="not in manifest"):
        mt.manifest_read(spark, table, generation=99)
    # vacuum to 1 generation: gen 0's manifest AND data go away
    mt.manifest_vacuum(spark, table, keep=1)
    with pytest.raises(FileNotFoundError):
        mt.manifest_read(spark, table, generation=0)


def test_schema_evolution_gated_and_null_fills(spark, table):
    widened = spark.createDataFrame([(3, "c", 9.5)], "k long, v string, score double")
    with pytest.raises(ValueError, match="evolve_schema"):
        mt.manifest_upsert(spark, table, widened, "k")
    mt.manifest_upsert(spark, table, widened, "k", evolve_schema=True)
    got = {(r.k, r.v, r.score) for r in mt.manifest_read(spark, table).collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 9.5)}
    # narrower updates still merge after evolution (missing col null-fills)
    mt.manifest_upsert(spark, table, _mk(spark, [(1, "A")]), "k")
    row1 = mt.manifest_read(spark, table).filter("k = 1").first()
    assert (row1.v, row1.score) == ("A", None)


def test_delete_is_a_generation(spark, table):
    gen = mt.manifest_delete(spark, table, _mk(spark, [(1, "x")]), "k")
    assert gen == 1
    assert {r.k for r in mt.manifest_read(spark, table).collect()} == {2}
    # pre-delete state still readable via time travel
    assert {r.k for r in mt.manifest_read(spark, table, generation=0).collect()} == {1, 2}


def test_compact_preserves_rows_and_shrinks_files(spark, tmp_path):
    import os

    d = str(tmp_path / "many")
    df = spark.range(0, 1000, 1, 12).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    mt.manifest_write(spark, d, df)

    def files_of(gen):
        rec = mt.manifest_history(spark, d)[gen]
        return [
            f for f in os.listdir(rec["data_dir"].removeprefix("file:"))
            if f.endswith(".parquet")
        ]

    assert len(files_of(0)) > 2
    gen = mt.manifest_compact(spark, d, 2)
    assert gen == 1 and len(files_of(1)) <= 2
    assert mt.manifest_read(spark, d).count() == 1000


def test_diff_emits_insert_delete_pairs(spark, table):
    mt.manifest_upsert(spark, table, _mk(spark, [(2, "B"), (3, "c")]), "k")
    diff = {
        (r.k, r.v, r._change)
        for r in mt.manifest_diff(spark, table, 0, 1).collect()
    }
    assert diff == {
        (2, "b", "delete"),   # update = delete+insert pair
        (2, "B", "insert"),
        (3, "c", "insert"),
    }


def test_occ_upsert_recomputes_merge_after_collision(spark, table, monkeypatch):
    """A writer losing the commit race must re-merge against the WINNER's
    generation, not its own stale read — simulated by injecting a competing
    commit between the loser's read and its commit attempt."""
    real_commit = mt._commit
    raced = {"done": False}

    def racing_commit(spark_, table_dir, generation, record):
        if not raced["done"]:
            raced["done"] = True
            # competing writer lands (2, "X") first, taking this generation
            winner = mt.manifest_read(spark_, table_dir).join(
                _mk(spark_, [(2, "X")]).select("k"), "k", "left_anti"
            ).unionByName(_mk(spark_, [(2, "X")]))
            data_dir, n_rows = mt._stage_generation(winner, table_dir, generation)
            real_commit(
                spark_, table_dir, generation,
                {"generation": generation, "data_dir": data_dir, "n_rows": n_rows},
            )
            # now the loser's own attempt at the same generation collides
        return real_commit(spark_, table_dir, generation, record)

    monkeypatch.setattr(mt, "_commit", racing_commit)
    gen = mt.manifest_upsert_occ(spark, table, _mk(spark, [(3, "c")]), "k")
    assert gen == 2  # retried as the NEXT generation
    got = {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()}
    # both the winner's update and the retried upsert survive
    assert got == {(1, "a"), (2, "X"), (3, "c")}


def test_incremental_agg_matches_recompute(spark, tmp_path):
    """Folding the change feed into a materialized aggregate must equal
    recomputing the aggregate from the new generation — including updated
    rows (delete+insert pairs) and groups that vanish entirely."""
    d = str(tmp_path / "ivm")
    rows0 = [(1, "a", 10), (2, "a", 20), (3, "b", 5), (4, "c", 7)]
    df0 = spark.createDataFrame(rows0, "k long, grp string, x long")
    mt.manifest_write(spark, d, df0)

    agg = (
        mt.manifest_read(spark, d)
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("x").alias("sx"))
    )

    # gen1: update k=2 (a: 20->25), add k=5 (b), delete the only c row
    mt.manifest_upsert(
        spark, d,
        spark.createDataFrame([(2, "a", 25), (5, "b", 1)], "k long, grp string, x long"),
        "k",
    )
    mt.manifest_delete(
        spark, d, spark.createDataFrame([(4,)], "k long"), "k"
    )

    new_gen = mt.manifest_generation(spark, d)
    updated = mt.manifest_incremental_agg(
        spark, d, agg, 0, new_gen, ["grp"], "n", {"sx": "x"}
    )
    recomputed = (
        mt.manifest_read(spark, d)
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("x").alias("sx"))
    )
    got = {(r.grp, r.n, r.sx) for r in updated.collect()}
    want = {(r.grp, r.n, r.sx) for r in recomputed.collect()}
    assert got == want
    assert not any(r[0] == "c" for r in got)  # emptied group dropped


def test_incremental_join_matches_recompute(spark, tmp_path):
    """Maintaining V = orders ⋈ customers under change feeds on BOTH
    sides (inserts, updates, deletes, including changes to both sides in
    the same commit window) must equal recomputing the join from the new
    generations — the δA⋈B + A⋈δB + δA⋈δB signed delta rule."""
    ad = str(tmp_path / "orders")
    bd = str(tmp_path / "custs")
    a0 = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 7.0), (3, 20, 2.0), (4, 30, 9.0)],
        "oid long, cid long, amt double",
    )
    b0 = spark.createDataFrame(
        [(10, "gold"), (20, "silver"), (40, "bronze")],
        "cid long, tier string",
    )
    mt.manifest_write(spark, ad, a0)
    mt.manifest_write(spark, bd, b0)

    view = mt.manifest_read(spark, ad).join(mt.manifest_read(spark, bd), "cid")

    # window 1: both sides change together — order update (2: amt 7->8),
    # order insert referencing an ALSO-new customer (5 -> cid 40... and a
    # customer update (10 gold->plat) touching existing orders, plus a
    # customer delete (20) that kills order 3's pair, and an order delete (4)
    mt.manifest_upsert(
        spark, ad,
        spark.createDataFrame([(2, 10, 8.0), (5, 40, 1.0)],
                              "oid long, cid long, amt double"),
        "oid",
    )
    mt.manifest_delete(spark, ad, spark.createDataFrame([(4,)], "oid long"), "oid")
    mt.manifest_upsert(
        spark, bd,
        spark.createDataFrame([(10, "plat")], "cid long, tier string"),
        "cid",
    )
    mt.manifest_delete(spark, bd, spark.createDataFrame([(20,)], "cid long"), "cid")

    a_to = mt.manifest_generation(spark, ad)
    b_to = mt.manifest_generation(spark, bd)
    maintained = mt.manifest_incremental_join(
        spark, ad, bd, view, 0, a_to, 0, b_to, ["cid"]
    )
    recomputed = mt.manifest_read(spark, ad).join(
        mt.manifest_read(spark, bd), "cid"
    )
    cols = sorted(recomputed.columns)
    got = {tuple(r[c] for c in cols) for r in maintained.collect()}
    want = {tuple(r[c] for c in cols) for r in recomputed.collect()}
    assert got == want

    # window 2: maintain AGAIN on top of the maintained view (chaining)
    mt.manifest_upsert(
        spark, ad,
        spark.createDataFrame([(6, 40, 3.0)], "oid long, cid long, amt double"),
        "oid",
    )
    a_to2 = mt.manifest_generation(spark, ad)
    maintained2 = mt.manifest_incremental_join(
        spark, ad, bd, maintained, a_to, a_to2, b_to, b_to, ["cid"]
    )
    recomputed2 = mt.manifest_read(spark, ad).join(
        mt.manifest_read(spark, bd), "cid"
    )
    got2 = {tuple(r[c] for c in cols) for r in maintained2.collect()}
    want2 = {tuple(r[c] for c in cols) for r in recomputed2.collect()}
    assert got2 == want2


def test_shallow_clone_forks_history_without_copying_data(spark, table, tmp_path):
    """manifest_clone copies only commit records: the clone reads the
    source's immutable data dirs, its own commits stage under the clone,
    the source never observes them, and vacuuming the clone cannot
    reclaim source files (it only lists its own data/)."""
    mt.manifest_append(spark, table, _mk(spark, [(3, "c")]))
    clone = str(tmp_path / "clone")
    mt.manifest_clone(spark, table, clone)
    # zero data bytes under the clone, yet it reads the full table
    assert not os.path.exists(os.path.join(clone, "data"))
    got = {(r.k, r.v) for r in mt.manifest_read(spark, clone).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    assert mt.manifest_generation(spark, clone) == 1

    # a delete committed to the clone stays invisible to the source
    mt.manifest_delete(spark, clone, _mk(spark, [(2, "b")]), "k")
    assert {r.k for r in mt.manifest_read(spark, clone).collect()} == {1, 3}
    assert {r.k for r in mt.manifest_read(spark, table).collect()} == {1, 2, 3}
    # time travel on the clone still serves the shared pre-fork state
    assert mt.manifest_generation(spark, table) == 1
    pre = {(r.k, r.v) for r in mt.manifest_read(spark, clone, generation=1).collect()}
    assert pre == {(1, "a"), (2, "b"), (3, "c")}

    # vacuuming the clone reclaims only clone-staged dirs; the source's
    # data dirs (outside the clone's data/) survive and the source reads
    mt.manifest_vacuum(spark, clone, keep=1)
    assert {r.k for r in mt.manifest_read(spark, table).collect()} == {1, 2, 3}


def test_restore_rereferences_without_copying(spark, table, tmp_path):
    """manifest_restore re-references the target generation's dirs as a
    NEW commit: content rolls back, history stays, vacuum keeps the
    restored dirs alive because the HEAD commit references them."""
    mt.manifest_upsert(spark, table, _mk(spark, [(2, "B!")]), "k")      # gen 1
    mt.manifest_delete(spark, table, _mk(spark, [(1, "a")]), "k")      # gen 2
    assert {r.k for r in mt.manifest_read(spark, table).collect()} == {2}

    n_dirs_before = len(os.listdir(os.path.join(table, "data")))
    gen = mt.manifest_restore(spark, table, 0)                          # gen 3
    assert gen == 3
    # zero data staged by the restore itself
    assert len(os.listdir(os.path.join(table, "data"))) == n_dirs_before
    got = {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()}
    assert got == {(1, "a"), (2, "b")}
    # the undone commits stay time-travelable
    assert {r.k for r in mt.manifest_read(spark, table, generation=2).collect()} == {2}
    # restore commit records its provenance
    assert mt.manifest_history(spark, table)[-1]["restored_from"] == 0

    # vacuum keep=1: HEAD (the restore) references gen-0's dir, so the
    # rollback target survives reclamation and the table still reads
    mt.manifest_vacuum(spark, table, keep=1)
    got = {(r.k, r.v) for r in mt.manifest_read(spark, table).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_restore_refuses_unknown_generation(spark, table):
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        mt.manifest_restore(spark, table, 7)

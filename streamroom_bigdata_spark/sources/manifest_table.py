"""Manifest-committed parquet tables: a minimal transaction log, and the
one keyed upsert (``manifest_upsert``) and CDC sink
(``streaming_manifest_upsert_sink``) of the package.

Rewriting a table directory in place leaves a moment where the path is
absent or torn. This module never has one: it uses the commit-log idea
Delta/Iceberg use, reduced to its minimum:

    table_dir/
      data/gen-<n>-<uuid>/part-*.parquet   immutable generation data
      _manifest/<%020d-n>.json             commit record for generation n

- A writer stages a NEW generation directory (never touching live data),
  then commits by renaming a temp manifest file into ``_manifest/<n>.json``
  — one atomic file rename IS the commit point.
- Readers list ``_manifest/``, take the highest generation, and read the
  data directory it names. A crash before the manifest rename leaves an
  orphan data dir and possibly a temp manifest — both invisible; readers
  keep seeing the previous generation. There is no moment when the table
  is absent or torn.
- The rename-if-absent commit also detects concurrent writers: the loser's
  rename fails (destination exists) and surfaces as ConcurrentCommitError
  instead of silently clobbering (single-writer is still the intended
  deployment; this is a guard, not OCC with retry).
- ``vacuum`` deletes generations older than the newest ``keep`` commits —
  the reclaim step, separated from commit so readers of older generations
  get a grace period.

At 100 TB the manifest is O(commits) tiny JSON files and one listing per
read — the same metadata shape object stores serve well — while data files
are immutable, so eventual-consistency renames of DATA never happen.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .maintenance import _fs_path


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this generation first."""


def _manifest_dir(table_dir: str) -> str:
    return f"{table_dir}/_manifest"


def _list_commits(spark: SparkSession, table_dir: str) -> list[tuple[int, str]]:
    """Sorted (generation, manifest path) pairs; [] for an empty table."""
    fs, mdir, _ = _fs_path(spark, _manifest_dir(table_dir))
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.endswith(".json") and not name.startswith("."):
            try:
                out.append((int(name[:-5]), st.getPath().toString()))
            except ValueError:
                continue  # foreign file; never a commit
    return sorted(out)


def _read_manifest(spark: SparkSession, manifest_path: str) -> dict:
    fs, path, jvm = _fs_path(spark, manifest_path)
    stream = fs.open(path)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _commit(
    spark: SparkSession, table_dir: str, generation: int, record: dict
) -> None:
    """Atomically publish ``record`` as commit ``generation`` via
    write-temp + rename-if-absent. The rename IS the commit point."""
    mdir = _manifest_dir(table_dir)
    fs, mdir_path, jvm = _fs_path(spark, mdir)
    fs.mkdirs(mdir_path)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{mdir}/.tmp-{uuid.uuid4().hex}.json"
    )
    final = jvm.org.apache.hadoop.fs.Path(f"{mdir}/{generation:020d}.json")
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(json.dumps(record).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise ConcurrentCommitError(
            f"generation {generation} of {table_dir} was committed by "
            "another writer"
        )


def _stage_generation(
    df: DataFrame, table_dir: str, generation: int
) -> tuple[str, int]:
    """Write ``df`` into a fresh immutable data dir; returns (dir, rows).

    The row count rides the write job itself as an observed metric
    (round-16; guide §1/§5): the previous spelling re-read the freshly
    written files with a second ``count()`` job per staged generation —
    pure footer-scan overhead on every manifest commit (3 such jobs per
    committed ANN index build)."""
    from pyspark.sql import Observation

    data_dir = f"{table_dir}/data/gen-{generation}-{uuid.uuid4().hex[:8]}"
    obs = Observation(f"stage-gen-{uuid.uuid4().hex[:8]}")
    # fresh dir — no overwrite semantics needed
    df.observe(obs, F.count(F.lit(1)).alias("n_rows")).write.parquet(data_dir)
    return data_dir, int(obs.get["n_rows"])


def _stage_and_commit(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    read_gen: int | None,
    extra: dict | None = None,
) -> int:
    """Stage ``df`` and commit it as the generation after ``read_gen``,
    the newest generation the caller read (None: the table was empty).
    Returns the new generation. If another writer committed that
    generation since the caller's read, the commit raises
    ConcurrentCommitError and the staged dir is left for vacuum."""
    gen = 0 if read_gen is None else read_gen + 1
    data_dir, n_rows = _stage_generation(df, table_dir, gen)
    rec = dict(extra or {})
    rec.update({"generation": gen, "data_dir": data_dir, "n_rows": n_rows})
    _commit(spark, table_dir, gen, rec)
    return gen


def manifest_write(
    spark: SparkSession, table_dir: str, df: DataFrame,
    extra: dict | None = None,
) -> int:
    """Full overwrite as a new committed generation; returns the generation.
    ``extra`` merges application metadata into the commit record (e.g. a
    streaming sink's last-applied batch_id — the Delta txn-version idea),
    readable back via ``manifest_history``; reserved keys are ignored."""
    return _stage_and_commit(
        spark, table_dir, df, manifest_generation(spark, table_dir), extra
    )


def _generation_dirs(rec: dict) -> list[str]:
    """Data dirs of one committed generation: append commits carry a
    ``data_dirs`` list (prior dirs + the new one); full-rewrite commits
    carry a single ``data_dir``."""
    return rec.get("data_dirs") or [rec["data_dir"]]


def manifest_read(
    spark: SparkSession, table_dir: str, generation: int | None = None
) -> DataFrame:
    """The table at its newest committed generation, or — time travel — at
    an explicit earlier ``generation`` (immutable data dirs make every
    still-vacuum-retained generation readable, the Delta/Iceberg
    ``VERSION AS OF`` capability). Raises on a generation that was never
    committed or whose data a vacuum already reclaimed."""
    _, dirs = _live_generation(spark, table_dir, generation)
    return spark.read.parquet(*dirs)


def _live_generation(
    spark: SparkSession, table_dir: str, generation: int | None = None
) -> tuple[dict, list[str]]:
    """(commit record, data dirs) of ``generation``, the newest by
    default. Raises FileNotFoundError on an empty table, a generation that
    was never committed, or one whose data a vacuum already reclaimed."""
    commits = _list_commits(spark, table_dir)
    if not commits:
        raise FileNotFoundError(f"no committed generation in {table_dir}")
    by_gen = dict(commits)
    if generation is None:
        generation = commits[-1][0]
    elif generation not in by_gen:
        raise FileNotFoundError(
            f"generation {generation} not in manifest for {table_dir} "
            f"(have {sorted(by_gen)}; older ones may be vacuumed)"
        )
    rec = _read_manifest(spark, by_gen[generation])
    dirs = _generation_dirs(rec)
    fs, _, jvm = _fs_path(spark, dirs[0])
    for d in dirs:
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(d)):
            raise FileNotFoundError(
                f"generation {generation} data was vacuumed from {table_dir}"
            )
    return rec, dirs


def manifest_append(
    spark: SparkSession, table_dir: str, new_rows: DataFrame,
    extra: dict | None = None,
) -> int:
    """BLIND-APPEND commit: stages ONLY ``new_rows`` into a fresh data dir
    and publishes a generation whose manifest references the previous
    generation's data dirs plus the new one — O(batch) write, never a
    copy of the table (the Delta/Iceberg append path; ``manifest_upsert``
    / ``manifest_delete`` / ``manifest_compact`` remain the copy-on-write
    path, and any of them — compact in particular — pays down a long
    append chain back to one dir). No key semantics: appending rows whose
    keys already exist duplicates them, by design; use
    ``manifest_upsert`` when replays are possible (or gate the append on
    application metadata carried in ``extra`` — see
    ``streaming_ann_index_sink`` for the batch_id-gated pattern). Returns
    the new generation."""
    commits = _list_commits(spark, table_dir)
    if not commits:
        return manifest_write(spark, table_dir, new_rows, extra=extra)
    prev = _read_manifest(spark, commits[-1][1])
    gen = commits[-1][0] + 1
    data_dir, n_new = _stage_generation(new_rows, table_dir, gen)
    rec = dict(extra or {})
    rec.update(
        {
            "generation": gen,
            "data_dir": data_dir,
            "data_dirs": _generation_dirs(prev) + [data_dir],
            "n_rows": prev.get("n_rows", 0) + n_new,
        }
    )
    _commit(spark, table_dir, gen, rec)
    return gen


def manifest_history(spark: SparkSession, table_dir: str) -> list[dict]:
    """Commit records oldest-first — the table's audit log (generation,
    data_dir, n_rows per commit)."""
    return [
        _read_manifest(spark, p) for _, p in _list_commits(spark, table_dir)
    ]


def manifest_generation(spark: SparkSession, table_dir: str) -> int | None:
    commits = _list_commits(spark, table_dir)
    return commits[-1][0] if commits else None


def manifest_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str,
    evolve_schema: bool = False,
) -> int:
    """Keyed merge committed as one new generation: ``updates`` is
    deduplicated on ``key`` (an arbitrary row wins per key, so no key is
    ever stored twice), replaced keys dropped via anti-join, updates
    appended, staged to a fresh data dir, then one atomic manifest rename
    publishes it. Readers either see the previous generation or the merged
    one — never a gap, never a mix. Returns the new generation (0 when
    creating the table).

    Schema policy: by default an updates frame must not ADD columns (a
    typo'd column name would otherwise silently widen the table — the
    strict default Delta also chose); a missing column in ``updates`` or,
    with ``evolve_schema=True``, a new column is null-filled on the other
    side, which is exactly parquet-compatible schema evolution (old data
    files simply lack the column)."""
    updates = updates.dropDuplicates([key])
    read_gen = manifest_generation(spark, table_dir)
    if read_gen is None:
        return _stage_and_commit(spark, table_dir, updates, None)
    current = manifest_read(spark, table_dir, read_gen)
    added = set(updates.columns) - set(current.columns)
    if added and not evolve_schema:
        raise ValueError(
            f"updates add column(s) {sorted(added)} not in the table; pass "
            "evolve_schema=True to widen the schema"
        )
    merged = current.join(
        updates.select(key).distinct(), key, "left_anti"
    ).unionByName(updates, allowMissingColumns=True)
    return _stage_and_commit(spark, table_dir, merged, read_gen)


def manifest_upsert_occ(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str,
    max_retries: int = 3,
) -> int:
    """Optimistic-concurrency upsert: on a commit collision (another writer
    landed the generation first) the merge is RECOMPUTED against the new
    current generation and retried — the standard OCC loop Delta runs.
    Correct because ``manifest_upsert`` re-reads the table each attempt;
    the loser's staged data dir is left orphaned for vacuum. Raises the
    last ``ConcurrentCommitError`` after ``max_retries`` collisions."""
    last: ConcurrentCommitError | None = None
    for _ in range(max_retries + 1):
        try:
            return manifest_upsert(spark, table_dir, updates, key)
        except ConcurrentCommitError as exc:
            last = exc
    assert last is not None
    raise last


def manifest_delete(
    spark: SparkSession, table_dir: str, keys: DataFrame, key: str
) -> int:
    """Row-level delete committed as one new generation: the surviving rows
    (anti-join against ``keys``) become the next generation's data — the
    copy-on-write delete Delta/Iceberg perform, without deletion-vector
    machinery. Time travel keeps the pre-delete generations readable until
    vacuumed."""
    read_gen = manifest_generation(spark, table_dir)
    remaining = manifest_read(spark, table_dir, read_gen).join(
        keys.select(key).distinct(), key, "left_anti"
    )
    return _stage_and_commit(spark, table_dir, remaining, read_gen)


def manifest_clone(spark: SparkSession, src_dir: str, dst_dir: str) -> None:
    """SHALLOW clone: copy only the commit records of ``src_dir`` into a
    new table at ``dst_dir`` — zero data bytes move (the Delta ``SHALLOW
    CLONE`` idea). Data dirs are immutable and referenced by absolute
    path, so the clone reads the source's files; commits made to the
    clone afterwards (upsert/delete/compact/append) stage THEIR data
    under ``dst_dir`` and never touch the source — an O(commits) fork of
    a table's history for what-if work (e.g. committing a delete against
    a probe-shared ANN index without mutating it). Safe with vacuum by
    construction: ``manifest_vacuum`` only ever deletes under its own
    table's ``data/``, so vacuuming a clone cannot reclaim source files
    (vacuuming the SOURCE can orphan a clone — the same caveat Delta
    documents; keep sources un-vacuumed while clones live)."""
    fs, dst_mdir, _ = _fs_path(spark, _manifest_dir(dst_dir))
    fs.mkdirs(dst_mdir)
    for gen, p in _list_commits(spark, src_dir):
        rec = _read_manifest(spark, p)
        _commit(spark, dst_dir, gen, rec)


def manifest_restore(
    spark: SparkSession, table_dir: str, generation: int
) -> int:
    """Roll the table back to ``generation`` as a NEW commit (Delta's
    ``RESTORE TABLE ... VERSION AS OF``): the target generation's
    immutable data dirs are simply RE-REFERENCED — zero data bytes move,
    exactly like :func:`manifest_clone` but within one table — and
    history stays intact, so the undone commits remain time-travelable
    until vacuum. The committed-ANN-index composition: restoring the
    codes table to its pre-delete generation is takedown UNDO; restoring
    past a bad compaction or a corrupt ingest batch is the operational
    escape hatch every commit-log table owes its operators. Raises if
    the generation was never committed or is already vacuumed. Returns
    the new generation."""
    target, dirs = _live_generation(spark, table_dir, generation)
    gen = manifest_generation(spark, table_dir) + 1
    _commit(
        spark, table_dir, gen,
        {
            "generation": gen,
            "data_dir": dirs[-1],
            "data_dirs": dirs,
            "n_rows": target.get("n_rows", 0),
            "restored_from": generation,
        },
    )
    return gen


def manifest_compact(
    spark: SparkSession, table_dir: str, n_files: int
) -> int:
    """Rewrite the current generation into ``n_files`` files as a NEW
    generation — same rows, better layout. Because compaction is just
    another commit, it is atomic, concurrent-reader-safe, and undoable via
    time travel; the small-file debt of many upsert generations is paid
    without a maintenance window."""
    read_gen = manifest_generation(spark, table_dir)
    current = manifest_read(spark, table_dir, read_gen).coalesce(n_files)
    return _stage_and_commit(spark, table_dir, current, read_gen)


def manifest_diff(
    spark: SparkSession, table_dir: str, from_gen: int, to_gen: int
) -> DataFrame:
    """Row-level change feed between two retained generations: each row of
    the result carries ``_change`` = 'insert' (present only in ``to_gen``)
    or 'delete' (present only in ``from_gen``); an updated row appears as
    its delete + insert pair. Incremental consumers read this instead of
    rescanning the table."""
    old = manifest_read(spark, table_dir, generation=from_gen)
    new = manifest_read(spark, table_dir, generation=to_gen)
    # align schemas across an evolution boundary: a column absent in one
    # generation is null there (parquet semantics), so diff on that basis
    types = {f.name: f.dataType for f in new.schema.fields}
    for f in old.schema.fields:
        types.setdefault(f.name, f.dataType)
    cols = sorted(types)

    def align(df: DataFrame) -> DataFrame:
        for c in cols:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(types[c]))
        return df.select(*cols)

    old, new = align(old), align(new)
    inserts = new.exceptAll(old).withColumn("_change", F.lit("insert"))
    deletes = old.exceptAll(new).withColumn("_change", F.lit("delete"))
    return inserts.unionByName(deletes)


def incremental_agg(
    old_agg: DataFrame,
    changes: DataFrame,
    keys: list[str],
    count_col: str = "n",
    sum_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Incremental view maintenance for keyed count/sum aggregates: fold a
    row-level change feed (``manifest_diff`` output — rows tagged
    ``_change`` in {'insert','delete'}) into a previously materialized
    aggregate WITHOUT rescanning the base table.

    ``old_agg`` has ``keys`` + ``count_col`` (+ the keys of ``sum_cols``);
    ``sum_cols`` maps output column -> source column in the feed. Updated
    rows appear in the feed as delete+insert, so the signed fold handles
    them for free; groups whose count reaches 0 drop out.

    Cost is O(|delta|): one aggregate over the feed plus a full-outer join
    against the (output-sized) old aggregate — at 100 TB this is the
    difference between maintaining a materialized view per commit and
    rebuilding it. Counts and integer sums are exact; floating sums drift
    from a recompute by normal summation reordering.
    """
    sum_cols = sum_cols or {}
    sign = F.when(F.col("_change") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = changes.groupBy(*keys).agg(
        F.sum(sign).alias(count_col),
        *[
            F.sum(sign * F.col(src)).alias(out)
            for out, src in sum_cols.items()
        ],
    )
    d = delta.select(
        *[F.col(k).alias(f"_d_{k}") for k in keys],
        *[
            F.col(c).alias(f"_d_{c}")
            for c in (count_col, *sum_cols)
        ],
    )
    cond = None
    for k in keys:
        eq = old_agg[k].eqNullSafe(F.col(f"_d_{k}"))
        cond = eq if cond is None else cond & eq
    merged = old_agg.join(d, cond, "full_outer")
    out_cols = [
        F.coalesce(old_agg[k], F.col(f"_d_{k}")).alias(k) for k in keys
    ]
    for c in (count_col, *sum_cols):
        out_cols.append(
            (
                F.coalesce(old_agg[c], F.lit(0))
                + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
            ).alias(c)
        )
    return merged.select(*out_cols).filter(F.col(count_col) > 0)


def manifest_incremental_agg(
    spark: SparkSession,
    table_dir: str,
    old_agg: DataFrame,
    from_gen: int,
    to_gen: int,
    keys: list[str],
    count_col: str = "n",
    sum_cols: dict[str, str] | None = None,
) -> DataFrame:
    """:func:`incremental_agg` fed by the table's own change feed between
    two retained generations."""
    return incremental_agg(
        old_agg,
        manifest_diff(spark, table_dir, from_gen, to_gen),
        keys,
        count_col,
        sum_cols,
    )


def manifest_vacuum(
    spark: SparkSession, table_dir: str, keep: int = 2
) -> int:
    """Delete data dirs (and manifests) older than the newest ``keep``
    generations, plus orphaned data dirs no manifest references (crashed
    stages). Returns the number of directories removed."""
    fs, _, jvm = _fs_path(spark, table_dir)
    commits = _list_commits(spark, table_dir)
    live = commits[-keep:] if keep > 0 else []
    # qualify through the filesystem so "file:/x" and "/x" compare equal;
    # an append generation keeps EVERY dir it references alive, not just
    # the one it staged
    live_dirs = {
        fs.makeQualified(jvm.org.apache.hadoop.fs.Path(d)).toString()
        for _, p in live
        for d in _generation_dirs(_read_manifest(spark, p))
    }
    removed = 0
    data_root = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/data")
    if fs.exists(data_root):
        for st in fs.listStatus(data_root):
            d = fs.makeQualified(st.getPath()).toString()
            if d not in live_dirs:
                fs.delete(st.getPath(), True)
                removed += 1
    for gen, p in commits[: max(0, len(commits) - keep)]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(p), False)
    return removed


def streaming_manifest_upsert_sink(
    table_dir: str, key: str, ts_col: str | None = None
):
    """foreachBatch sink applying each micro-batch as a manifest-committed
    upsert — the CDC-consumer pattern. ``manifest_upsert`` stores each key
    once; with ``ts_col`` the row with the highest ``ts_col`` wins per key,
    without it an arbitrary one. A batch replay after a crash re-merges
    idempotently (same keys replace themselves), and readers never observe
    a partial batch."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if ts_col is not None:
            w = Window.partitionBy(key).orderBy(F.desc(ts_col))
            batch_df = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        manifest_upsert(batch_df.sparkSession, table_dir, batch_df, key)

    return apply


def incremental_join(
    old_view: DataFrame,
    a_old: DataFrame,
    da: DataFrame,
    b_old: DataFrame,
    db: DataFrame,
    on: list[str],
) -> DataFrame:
    """Incremental view maintenance for an inner equi-JOIN view
    ``V = A ⋈_on B`` under row-level change feeds (``manifest_diff``
    output for each side) — the join sibling of :func:`incremental_agg`.

    Delta rule (signed z-set algebra): with A_new = A + δA and
    B_new = B + δB,

        δV = δA ⋈ B_old  +  A_old ⋈ δB  +  δA ⋈ δB

    each joined pair signed by the product of its sides' signs
    (insert = +1, delete = −1); the third term corrects pairs where BOTH
    sides changed in the same commit window. Pairs with net sign 0
    cancel; net +1 are view inserts, net −1 view deletes, applied as an
    anti-join + union against the old view.

    Preconditions: A and B rows are unique per their own primary key (the
    manifest upsert contract), and non-join column names are disjoint.

    Cost: join WORK is |δ|-probe-sized (Spark broadcasts a small delta
    side against the old snapshot's scan — and the bloom-sidecar index
    (bloom_index.py) can prune that scan to the files whose key range
    intersects the delta), and the view merge is output-sized. The
    recompute this replaces is the full A ⋈ B. Equality with recompute is
    property-tested across multi-commit histories, including same-window
    changes on both sides."""
    sign = F.when(F.col("_change") == "insert", F.lit(1)).otherwise(F.lit(-1))
    a_cols = [c for c in a_old.columns]
    b_extra = [c for c in b_old.columns if c not in on]
    view_cols = a_cols + b_extra

    da_s = da.withColumn("_s", sign)
    db_s = db.withColumn("_s", sign)
    t1 = da_s.join(b_old, on).select(*view_cols, F.col("_s"))
    t2 = a_old.join(db_s, on).select(*view_cols, F.col("_s"))
    t3 = (
        da_s.select(*a_cols, F.col("_s").alias("_sa"))
        .join(db_s.select(*on, *b_extra, F.col("_s").alias("_sb")), on)
        .select(*view_cols, (F.col("_sa") * F.col("_sb")).alias("_s"))
    )
    net = (
        t1.unionByName(t2)
        .unionByName(t3)
        .groupBy(*view_cols)
        .agg(F.sum("_s").alias("_d"))
        .filter(F.col("_d") != 0)
    )
    inserts = net.filter(F.col("_d") > 0).drop("_d")
    deletes = net.filter(F.col("_d") < 0).drop("_d")
    return old_view.join(deletes, view_cols, "left_anti").unionByName(inserts)


def manifest_incremental_join(
    spark: SparkSession,
    a_dir: str,
    b_dir: str,
    old_view: DataFrame,
    a_from: int,
    a_to: int,
    b_from: int,
    b_to: int,
    on: list[str],
) -> DataFrame:
    """:func:`incremental_join` fed by both tables' own change feeds and
    FROM-generation snapshots (the old snapshots are exactly what the
    delta rule needs — never the new ones, whose content the deltas
    already encode)."""
    return incremental_join(
        old_view,
        manifest_read(spark, a_dir, generation=a_from),
        manifest_diff(spark, a_dir, a_from, a_to),
        manifest_read(spark, b_dir, generation=b_from),
        manifest_diff(spark, b_dir, b_from, b_to),
        on,
    )

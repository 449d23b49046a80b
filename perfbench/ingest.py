"""``ingest_live``: an open-loop generator plus one closed-loop reader on
the same store.

The generator runs in a thread of this process. Every ``PERIOD_S`` it
atomically lands one JSON-lines file of seed-generated wire records
(``RATE`` events/s). ``start_router(parse_wire(stream_file_source(...)))``
routes the files into the per-entity bronze store while the main thread
reads the store ``READS`` times with ``recommend_classrooms``, pausing
``THINK_S`` between reads. Each file is timed from its due time to the
commit of the micro-batch that holds it, read from the checkpoint
(``sources/0/*`` maps files to batches, ``commits/<id>`` gives the commit
time). After the window the generator stops and the router gets
``DRAIN_GRACE_S`` to commit the rest; a file still uncommitted then counts
as failed. The store is then checked against the generated counts, and one
final read against DuckDB over the same bronze snapshot.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

from . import datagen, oracle
from .harness import (Context, dir_stats, jobs_by_group, latency, medians, sources_layer,
                      span_split, tree_cpu_s)
from .trace import progress_rows

RATE = 5_000  # events/s
PERIOD_S = 0.5  # one landed file per period
N_ROOMS = 200  # classroom catalog, landed before timing
DRAIN_GRACE_S = 15.0
READS = 2  # live reads per run, a fixed load beside the fixed ingest
THINK_S = 1.0  # the reader's pause between reads
WARMUP = ((25, 40, 60), 3)
#: per-layer metric prefixes this workload must emit
LAYERS = ("sources.", "stream.", "router.", "bronze.", "domain.", "gen.")
_DURATIONS = ("addBatch", "latestOffset", "walCommit", "commitOffsets", "queryPlanning")


def _land(directory: str, name: str, payload: str) -> None:
    """Write ``payload`` under a hidden name, then rename it into place, so
    the file source never lists a partial file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(payload)
    os.rename(tmp, os.path.join(directory, name))


def committed(ckpt: str) -> dict[str, float]:
    """Landed file name -> commit time (epoch s) of the batch that holds it."""
    src = os.path.join(ckpt, "sources", "0")
    commits = os.path.join(ckpt, "commits")
    batch_of: dict[str, int] = {}
    for log in os.listdir(src) if os.path.isdir(src) else ():
        if log.startswith("."):
            continue
        try:
            with open(os.path.join(src, log)) as f:
                lines = f.read().splitlines()[1:]  # first line is the version
        except FileNotFoundError:  # replaced by a compaction meanwhile
            continue
        for line in lines:
            entry = json.loads(line)
            batch_of[os.path.basename(entry["path"])] = entry["batchId"]
    out = {}
    for name, bid in batch_of.items():
        try:
            out[name] = os.path.getmtime(os.path.join(commits, str(bid)))
        except FileNotFoundError:  # batch planned, not committed yet
            pass
    return out


class Generator(threading.Thread):
    """Lands the pre-made payloads on schedule from ``t0``; records when
    each landed and how late against its due time."""

    def __init__(self, land: str, payloads: list[str], t0: float) -> None:
        super().__init__(daemon=True)
        self.land, self.payloads, self.t0 = land, payloads, t0
        self.landed: list[tuple[str, float, float]] = []  # (name, due, landed)

    def run(self) -> None:
        for k, payload in enumerate(self.payloads):
            due = self.t0 + k * PERIOD_S
            time.sleep(max(0.0, due - time.time()))
            name = f"wire-{k:05d}.json"
            _land(self.land, name, payload)
            self.landed.append((name, due, time.time()))


def run(ctx: Context) -> dict:
    from streamroom_bigdata_spark.plans import domain
    from streamroom_bigdata_spark.schemas import ENTITIES
    from streamroom_bigdata_spark.sources.readers import stream_file_source
    from streamroom_bigdata_spark.streaming.ingest import parse_wire
    from streamroom_bigdata_spark.streaming.router import start_router

    tracer = ctx.tracer
    catalog = datagen.classroom_catalog(ctx.seed, N_ROOMS)
    requests = datagen.classroom_requests(ctx.seed, 100_000)
    live = {}

    def prep(spark, i):
        land, bronze, ckpt = (ctx.path(f"setup{i}", d, "") for d in ("land", "bronze", "ckpt"))
        _land(land, "catalog.json", catalog)
        wire = parse_wire(stream_file_source(spark, land, "value string", fmt="text"))
        query = start_router(wire, bronze, ckpt)
        while not os.path.exists(os.path.join(ckpt, "commits", "0")):
            if query.exception() is not None:
                raise RuntimeError(f"router failed: {query.exception()}")
            time.sleep(0.05)
        domain.recommend_classrooms(spark, bronze, *WARMUP).collect()
        live.update(land=land, bronze=bronze, ckpt=ckpt, query=query)

    setup_s = ctx.setup(prep)
    spark = ctx.spark
    land, bronze, ckpt, query = live["land"], live["bronze"], live["ckpt"], live["query"]

    gen = datagen.WireGenerator(ctx.seed, N_ROOMS)
    per_file = int(RATE * PERIOD_S)
    payloads = [gen.payload(per_file) for _ in range(int(ctx.seconds / PERIOD_S))]

    def request(sizes, k):
        df = domain.recommend_classrooms(spark, bronze, sizes, k)
        return tracer.call("domain.exec", df.collect)

    reads = []  # (traced, latency_s, ok)
    cpu0 = tree_cpu_s()
    t0 = ctx.start_window()
    writer = Generator(land, payloads, t0)
    writer.start()
    for i in range(READS):
        if i:
            time.sleep(THINK_S)
        traced = tracer.active = tracer.enabled and i % 2 == 0
        t1 = time.perf_counter()
        try:
            tracer.call("domain.request", request, *requests[i])
            ok = True
        except Exception:  # noqa: BLE001 - a failed read is counted, not fatal
            ok = False
        reads.append((traced, time.perf_counter() - t1, ok))
    tracer.active = False
    writer.join()
    ctx.end_window()

    names = [name for name, _due, _at in writer.landed]
    deadline = time.time() + DRAIN_GRACE_S
    while time.time() < deadline and not set(names) <= committed(ckpt).keys():
        time.sleep(0.1)
    commit_at = committed(ckpt)
    cpu_s = tree_cpu_s() - cpu0
    progress = progress_rows(query)
    query.stop()

    # -- correctness, outside the timed window ------------------------------
    want = {**gen.counts, "classroom": N_ROOMS}
    if ctx.plant_wrong:
        want["fixed_booking"] += 1
    got = oracle.bronze_counts(bronze, {e: ENTITIES[e][1] for e in want})
    store_ok = all(got[e] == (n, n) for e, n in want.items())
    final_req = requests[READS]
    final_rows = domain.recommend_classrooms(spark, bronze, *final_req).collect()
    final_want = oracle.classroom_expected(bronze, *final_req)
    if ctx.plant_wrong:
        final_want = final_want[1:]
    final_ok = oracle.rows_match(final_rows, final_want)

    lag_ms = [(commit_at[n] - due) * 1e3 for n, due, _at in writer.landed if n in commit_at]
    uncommitted = len(names) - len(lag_ms)
    read_ms = [dt * 1e3 for traced, dt, ok in reads if ok and not traced]
    out = {
        "attempted": len(names) + len(reads) + 2,
        "failed": uncommitted + sum(not ok for _t, _dt, ok in reads) + (not store_ok)
        + (not final_ok),
        "detail": {
            **latency(lag_ms),
            "uncommitted_files": uncommitted,
            "read_ms": read_ms,
            "store_ok": store_ok,
            "final_read_ok": final_ok,
        },
    }
    if not tracer.enabled:
        out["metrics"] = {"setup_s": setup_s, "cpu_ms_per_op": cpu_s * 1e3 / len(names)}
        out["detail"]["peak_rss_mb"] = ctx.peak_rss_mb()
        return out

    engine, jobs, stages = ctx.engine()
    by_group = jobs_by_group(jobs)
    t_lo, t_hi = ctx.window
    in_window = [s for s in tracer.named("router.route_batch") if t_lo <= s["start"] <= t_hi]
    # route_batch writes from its own thread pool, whose threads do not
    # inherit the span's job group: its jobs are the ungrouped ones
    # submitted while the span was open
    ungrouped = [j["submitted"] for j in by_group.get(None, []) if j["submitted"]]
    batches = [p for p in progress if p["numInputRows"] and t_lo <= p["timestamp"] <= t_hi]
    n_files, n_bytes = dir_stats(bronze)
    traced_ms = [dt * 1e3 for traced, dt, ok in reads if ok and traced]
    layer = medians([span_split(tracer, by_group, stages, s, "domain.build", "domain.exec")
                     for s in tracer.named("domain.request")])
    out["metrics"] = {
        **{f"domain.{k}": layer[k] for k in ("build_ms", "build_jobs", "exec_ms", "jobs",
                                             "queue_wait_ms")},
        **sources_layer(tracer, by_group, len(traced_ms)),
        "stream.batches": len(batches),
        "stream.rows_per_batch": statistics.mean(p["numInputRows"] for p in batches),
        "stream.busy_share": sum(
            min(p["timestamp"] + p["durationMs"].get("triggerExecution", 0) / 1e3, t_hi)
            - p["timestamp"] for p in batches
        ) / (t_hi - t_lo),
        **{f"stream.{d}_ms": statistics.mean(p["durationMs"].get(d, 0) for p in batches)
           for d in _DURATIONS},
        "router.route_batch_ms": statistics.median(s["ms"] for s in in_window),
        "router.jobs_per_batch": statistics.median(
            sum(s["start"] <= t <= s["end"] for t in ungrouped) for s in in_window
        ),
        "bronze.files": n_files,
        "bronze.bytes_per_event": n_bytes / max(sum(want.values()), 1),
        "gen.late_ms_max": max((at - due) * 1e3 for _n, due, at in writer.landed),
        "gen.events": per_file * len(names),
        **ctx.storage(),
        **ctx.stamp(engine),
        "trace.overhead_ms": statistics.median(traced_ms) - statistics.median(read_ms),
    }
    return out

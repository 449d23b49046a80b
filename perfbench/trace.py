"""Traced mode: timing shims around the engine's public functions, plus
readers for what Spark itself records (AppStatusStore jobs and stages,
Catalyst phase times, codegen counters, streaming progress).

Shims are installed from the benchmark's files only; the program is not
edited. Each shim opens a span and tags every Spark job the call submits
with its own job group (``spark.jobGroup.id`` is a thread-local property),
so jobs, stages and task metrics are attributed to the span that caused
them even while the streaming thread submits jobs of its own. Spans stay
in memory; the status store is read once, after the timed window.

Request-side shims can be switched off in the same process
(``Tracer.active``), which is how a traced run measures its own overhead:
it alternates traced and untraced requests. Spans in ``ALWAYS`` (the
router's per-batch call, on the streaming thread) are recorded whenever
the run is traced.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from datetime import datetime

#: (module, attribute, span name); modules resolved lazily at install time
SHIMS = (
    ("streamroom_bigdata_spark.sources.readers", "load_table", "sources.load_table"),
    ("streamroom_bigdata_spark.sources", "load_table", "sources.load_table"),
    ("streamroom_bigdata_spark.plans.domain", "recommend_classrooms", "domain.build"),
    ("streamroom_bigdata_spark.streaming.router", "route_batch", "router.route_batch"),
)

#: span names recorded in a traced run even while ``active`` is off
ALWAYS = frozenset({"router.route_batch"})

_GROUP = "spark.jobGroup.id"
#: job group of the untraced ops of a traced run
UNTRACED = "pb/untraced"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False  # traced run
        self.active = False  # request-side spans on
        self.spark = None
        self.spans: list[dict] = []
        self._seq = itertools.count()

    # -- shims -------------------------------------------------------------
    def install(self) -> None:
        """Turn tracing on and wrap the public entry points. Must run before
        any operator module is imported (they bind ``load_table`` at
        import); ``start_router``'s lambda looks ``route_batch`` up at call
        time, so the module attribute is enough there."""
        import importlib

        from pyspark.sql.readwriter import DataFrameReader

        self.enabled = True
        for mod_name, attr, span in SHIMS:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), span))
        DataFrameReader.parquet = self._wrap(
            DataFrameReader.parquet, "sources.read_parquet"
        )

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def shim(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return shim

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` as a span named ``name`` when tracing is active."""
        if not self.enabled or self.spark is None:
            return fn(*args, **kwargs)
        sc = self.spark.sparkContext
        parent = sc.getLocalProperty(_GROUP)
        if not (self.active or name in ALWAYS):
            # untraced op of a traced run: tagged only, so that jobs left
            # without a benchmark group are the ones the program's own
            # threads submit
            if parent is not None:
                return fn(*args, **kwargs)
            sc.setLocalProperty(_GROUP, UNTRACED)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty(_GROUP, None)
        gid = f"pb/{name}/{next(self._seq)}"
        sc.setLocalProperty(_GROUP, gid)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            sc.setLocalProperty(_GROUP, parent)
            self.spans.append({
                "name": name, "group": gid, "parent": parent,
                "start": t0, "end": t1, "ms": (t1 - t0) * 1e3,
                "thread": threading.get_ident(),
            })

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, group: str) -> set[str]:
        """``group`` plus every span group opened inside it."""
        out, frontier = {group}, [group]
        while frontier:
            g = frontier.pop()
            kids = [s["group"] for s in self.spans if s["parent"] == g]
            out.update(kids)
            frontier.extend(kids)
        return out


# ---------------------------------------------------------------------------
# What Spark records
# ---------------------------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def status_snapshot(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every job and stage in the AppStatusStore, as plain dicts (times in
    epoch seconds, CPU in ms)."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.Collections.emptyList()
    jobs = []
    seq = store.jobsList(empty)
    for i in range(seq.size()):
        j = seq.apply(i)
        grp = j.jobGroup()
        sids = j.stageIds()
        jobs.append({
            "id": j.jobId(),
            "group": grp.get() if grp.isDefined() else None,
            "submitted": _opt_ms(j.submissionTime()),
            "stages": [sids.apply(k) for k in range(sids.size())],
        })
    stages = {}
    seq = store.stageList(
        empty, False, False, spark.sparkContext._gateway.new_array(jvm.double, 0), empty
    )
    for i in range(seq.size()):
        s = seq.apply(i)
        stages[s.stageId()] = {
            "tasks": s.numCompleteTasks(),
            "cpu_ms": s.executorCpuTime() / 1e6,
            "run_ms": s.executorRunTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "submitted": _opt_ms(s.submissionTime()),
            "first_task": _opt_ms(s.firstTaskLaunchedTime()),
        }
    return jobs, stages


def job_totals(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Summed stage metrics of ``jobs``, plus the summed wait from each
    job's submission to its first task launch."""
    out = {"jobs": len(jobs), "tasks": 0, "cpu_ms": 0.0, "run_ms": 0.0,
           "gc_ms": 0.0, "shuffle_write_bytes": 0, "queue_wait_ms": 0.0}
    for j in jobs:
        firsts = []
        for sid in j["stages"]:
            s = stages.get(sid)
            if s is None:  # skipped stage (its shuffle output was reused)
                continue
            for k in ("tasks", "cpu_ms", "run_ms", "gc_ms", "shuffle_write_bytes"):
                out[k] += s[k]
            if s["first_task"] is not None:
                firsts.append(s["first_task"])
        if firsts and j["submitted"] is not None:
            out["queue_wait_ms"] += max(0.0, min(firsts) - j["submitted"]) * 1e3
    return out


def codegen_counters(spark) -> tuple[int, float]:
    """(whole-stage + expression classes compiled so far, compile ms)."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s last
    execution, from the QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def progress_rows(query) -> list[dict]:
    """``recentProgress`` as dicts: trigger time (epoch s), batch id, input
    rows and the ``durationMs`` split."""
    out = []
    for p in query.recentProgress:
        out.append({
            "timestamp": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "durationMs": dict(p.durationMs),
        })
    return out

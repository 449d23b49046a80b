"""One query runner for every tool that times, profiles, audits or checks
registry queries (``bench.py``, ``tools/profile_query.py``,
``tools/shuffle_audit.py``, ``tools/check_oracle.py``).

A :class:`Runner` warms its session up once (one non-headline query, one
count of every fixture table, one pandas-UDF pass over every core so Python
worker forks land there), writes the untimed layout its roster reads (the
bucketed star tables; the committed ANN index chain, which every
``ann_index_*`` query except ``ann_index_probe_committed`` probes), and
revives a SparkContext that a JVM OOM stopped. Each run builds one query
and ends it with a ``count`` or ``collect``, under a job group unique to
the run, and returns one :class:`QueryRun`. Every RDD a run persists
(the query's checkpoints) is unpersisted when the run ends, so no run
sees an earlier run's storage. A failed layout prep or revive is the
recorded error of each run that needs it.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from . import registry
from .operators.annindex import _incremental_chain
from .schemas import FIXTURE_TABLES
from .session import get_spark
from .sources import load_table
from .sources.bucketing import ensure_star_bucketed

#: the final actions a run can end with
ACTIONS = ("count", "collect")
_GROUP = "spark.jobGroup.id"
#: untimed layout prep, by the layout a query reads (see ``_layout``)
_PREP = {"bucketed": ensure_star_bucketed, "ann_chain": _incremental_chain}


def _layout(name: str) -> str | None:
    """The prepared layout query ``name`` reads, if any."""
    if name in ("star_join_bucketed", "sql_revenue_share"):
        return "bucketed"
    if name.startswith("ann_index_") and name != "ann_index_probe_committed":
        return "ann_chain"
    return None


@dataclass
class QueryRun:
    """One run of one registry query."""

    name: str
    build_s: float = 0.0  # building the DataFrame, eager jobs included
    exec_s: float = 0.0  # the final action
    jobs: int = 0  # every job in the run's group
    build_jobs: int = 0  # of those, submitted while building
    job_rows: list[dict] = field(default_factory=list)
    rows: int | None = None
    columns: list[str] | None = None
    collected: list | None = None  # ``collect`` action only
    # its materializations are released when the run ends: read its plan
    # and schema, but do not execute it again
    df: DataFrame | None = None
    error: Exception | None = None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


class Runner:
    """Warm session over ``sf_dir``, prepared for the queries in ``roster``."""

    def __init__(self, sf_dir: str, roster) -> None:
        self.sf_dir = sf_dir
        self.roster = set(roster)
        self.spark = get_spark("runner")
        self.queries = registry.queries()
        self._groups = itertools.count()
        try:
            self.queries["global_stats"](self.spark, sf_dir).count()
            self.touch_tables(sf_dir)
            n_part = self.spark.sparkContext.defaultParallelism
            self.spark.range(0, n_part * 10, 1, n_part).mapInPandas(
                lambda it: it, "id long"
            ).count()
        except Exception:  # noqa: BLE001
            pass  # a query that needs the failed step fails in its own run
        self._prep()

    def touch_tables(self, sf_dir: str) -> None:
        """Read every fixture table of ``sf_dir`` once, so no query pays
        first-read IO that its peers don't."""
        self._ensure_alive()
        for t in FIXTURE_TABLES:
            load_table(self.spark, sf_dir, t).count()

    def _prep(self) -> None:
        self.prep_errors: dict[str, Exception] = {}
        for layout in sorted({_layout(n) for n in self.roster} - {None}):
            try:
                _PREP[layout](self.spark, self.sf_dir)
            except Exception as exc:  # noqa: BLE001
                self.prep_errors[layout] = exc

    def _ensure_alive(self) -> None:
        if not self.spark.sparkContext._jsc.sc().isStopped():
            return
        # a context killed by an executor OOM is stopped but still
        # registered as the instantiated session, so getOrCreate would hand
        # it back; stop() clears the registration
        try:
            self.spark.stop()
        except Exception:  # noqa: BLE001
            pass
        self.spark = get_spark("runner")
        self._prep()

    def run(
        self, name: str, action: str = "count", sf_dir: str | None = None
    ) -> QueryRun:
        """Build query ``name`` over ``sf_dir`` (default: the runner's) and
        run ``action`` on it. A query that raises is recorded in
        ``error``, never re-raised."""
        if action not in ACTIONS:
            raise ValueError(f"action must be one of {ACTIONS}, not {action!r}")
        rec = QueryRun(name)
        try:
            self._ensure_alive()
        except Exception as exc:  # noqa: BLE001
            rec.error = exc
            return rec
        rec.error = self.prep_errors.get(_layout(name))
        if rec.error is not None:
            return rec
        sc = self.spark.sparkContext
        kept = set(sc._jsc.getPersistentRDDs().keySet())
        group = f"{name}#{next(self._groups)}"
        parent = sc.getLocalProperty(_GROUP)
        sc.setLocalProperty(_GROUP, group)
        try:
            t0 = time.perf_counter()
            rec.df = self.queries[name](self.spark, sf_dir or self.sf_dir)
            rec.build_s = time.perf_counter() - t0
            build_end_ms = time.time() * 1000
            t0 = time.perf_counter()
            if action == "count":
                rec.rows = rec.df.count()
            else:
                rec.collected = rec.df.collect()
                rec.rows = len(rec.collected)
            rec.exec_s = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001
            rec.error = exc
            return rec
        finally:
            sc.setLocalProperty(_GROUP, parent)
            if not sc._jsc.sc().isStopped():
                for rid, rdd in sc._jsc.getPersistentRDDs().items():
                    if rid not in kept:
                        rdd.unpersist(True)
        rec.columns = rec.df.columns
        rec.job_rows = self._job_rows(group, build_end_ms)
        rec.jobs = len(rec.job_rows)
        rec.build_jobs = sum(j["build"] for j in rec.job_rows)
        return rec

    def _job_rows(self, group: str, build_end_ms: float) -> list[dict]:
        """The group's jobs; one submitted by ``build_end_ms`` (wall clock,
        as the JVM's) ran while the DataFrame was built."""
        sc = self.spark.sparkContext
        # the status store is fed asynchronously: drain the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        rows = []
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            j = store.job(jid)
            sub, comp = j.submissionTime(), j.completionTime()
            t0 = sub.get().getTime() if sub.isDefined() else None
            t1 = comp.get().getTime() if comp.isDefined() else None
            desc = j.description()
            rows.append({
                "id": jid,
                "build": t0 is not None and t0 <= build_end_ms,
                "t0": t0,
                "dur_ms": t1 - t0 if t0 and t1 else None,
                "stages": j.stageIds().size(),
                "tasks": j.numTasks(),
                "desc": (desc.get() if desc.isDefined() else j.name())[:110],
            })
        return rows

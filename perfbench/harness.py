"""Run context shared by the workloads: the isolated run directory, set-up
timing, the timed window, and the engine, memory, storage and box-state
readouts taken after it."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from .trace import Tracer, codegen_counters, job_totals, status_snapshot

#: warm-up + prep repetitions per run, each on a fresh SparkContext
SETUPS = 3


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since import."""
    print(f"[perfbench +{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def latency(ms: list[float]) -> dict:
    """Median and p90 of ``ms`` with their sample count."""
    if not ms:
        return {"samples": 0, "p50_ms": None, "p90_ms": None}
    p50, p90 = np.percentile(np.asarray(ms, dtype=float), (50, 90))
    return {"samples": len(ms), "p50_ms": float(p50), "p90_ms": float(p90)}


def dir_stats(path: str) -> tuple[int, int]:
    """(file count, bytes) under ``path``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant: the Spark JVM and its Python workers. Children already
    reaped count through their parent's ``cutime``/``cstime``. Unlike wall
    time, this barely moves when other tenants take the machine's CPUs."""
    root = os.getpid()
    ticks, children = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


@dataclass
class Context:
    run_dir: str  # per-run temp root, removed at exit
    seed: int
    seconds: float
    plant_wrong: bool  # smoke test: corrupt every expected result
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None
    session_start_s: float = 0.0
    prep_times: list = field(default_factory=list)
    window: tuple = (0.0, 0.0)
    _steal0: int = 0
    _steal: int = 0
    _codegen: tuple = ((0, 0.0), (0, 0.0))

    def path(self, *parts: str) -> str:
        """A path under the run directory; its parent directory exists."""
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    # -- set-up ----------------------------------------------------------------
    def _session(self):
        from streamroom_bigdata_spark.session import get_spark

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # status-store retention only; the same in traced and
                # untraced runs
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                # JVM launch options, effective on the first session only:
                # temp files under the run directory, and no hsperfdata
                # file in the system /tmp
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            },
        )
        self.tracer.spark = self.spark
        return self.spark

    def setup(self, prep) -> float:
        """Start the session once (JVM launch included), then run
        ``prep(spark, i)`` -- warm-up plus layout/catalog prep -- ``SETUPS``
        times, each on a fresh SparkContext in the same JVM. Returns the
        session start plus the median prep; the last context stays live for
        the timed window."""
        t0 = time.perf_counter()
        self._session()
        self.session_start_s = time.perf_counter() - t0
        log(f"session started in {self.session_start_s:.1f}s")
        for i in range(SETUPS):
            if i:
                self._session()
            t0 = time.perf_counter()
            prep(self.spark, i)
            self.prep_times.append(time.perf_counter() - t0)
            log(f"set-up {i} prep took {self.prep_times[-1]:.1f}s")
        return self.session_start_s + statistics.median(self.prep_times)

    # -- timed window ------------------------------------------------------------
    def start_window(self) -> float:
        self._steal0 = _steal_jiffies()
        self._codegen = (codegen_counters(self.spark), None)
        t = time.time()
        self.window = (t, t + self.seconds)
        log("window start")
        return t

    def end_window(self) -> None:
        self.window = (self.window[0], time.time())
        self._steal = _steal_jiffies() - self._steal0
        self._codegen = (self._codegen[0], codegen_counters(self.spark))
        log(f"window end after {self.window[1] - self.window[0]:.1f}s")

    # -- readouts after the window ---------------------------------------------------
    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the Spark JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return (py_kb + _vm_hwm_kb(jvm_pid)) / 1024.0

    def live_heap_mb(self) -> float:
        """JVM heap still in use after a full collection: what the session
        keeps alive (cached blocks, broadcasts, plans, status store)."""
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return heap.getUsed() / 2**20

    def engine(self) -> tuple[dict, list[dict], dict]:
        """Engine totals over the timed window, plus the raw snapshot."""
        jobs, stages = status_snapshot(self.spark)
        t0, t1 = self.window
        in_window = [j for j in jobs if j["submitted"] and t0 <= j["submitted"] <= t1]
        tot = job_totals(in_window, stages)
        (n0, ms0), (n1, ms1) = self._codegen
        tot["codegen_compiles"] = n1 - n0
        tot["codegen_ms"] = ms1 - ms0
        tot["stages"] = sum(len(j["stages"]) for j in in_window)
        return tot, jobs, stages

    def stamp(self, engine: dict) -> dict:
        """Box state over the window; recorded, never acted on."""
        return {
            "box.steal_jiffies": self._steal,
            "box.loadavg": os.getloadavg()[0],
            "engine.jobs": engine["jobs"],
            "engine.stages": engine["stages"],
            "engine.tasks": engine["tasks"],
            "engine.task_cpu_ms": engine["cpu_ms"],
        }

    def storage(self) -> dict:
        """What the run left behind: persisted RDDs and their memory, temp
        files, the live heap, and peak memory."""
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().getRDDStorageInfo()
        return {
            "storage.persisted_rdds": len(sc._jsc.getPersistentRDDs()),
            "storage.mem_bytes": sum(i.memSize() for i in infos),
            "storage.tmp_bytes_left": dir_stats(os.environ["TMPDIR"])[1],
            "storage.live_heap_mb": self.live_heap_mb(),
            "storage.peak_rss_mb": self.peak_rss_mb(),
        }


def span_split(tracer: Tracer, by_group: dict, stages: dict, span: dict,
               build: str, exec_: str) -> dict:
    """One traced op: wall time of its build and exec child spans, Catalyst
    plan time (recorded on the exec span), jobs (build-phase and total),
    tasks, task CPU/run/GC time, shuffle bytes and scheduler queue wait."""
    groups = tracer.descendants(span["group"])
    kids = [s for s in tracer.spans if s["parent"] in groups]
    b = [s for s in kids if s["name"] == build]
    e = [s for s in kids if s["name"] == exec_]
    tot = job_totals([j for g in groups for j in by_group.get(g, [])], stages)
    return {
        "build_ms": sum(s["ms"] for s in b),
        "build_jobs": sum(len(by_group.get(g, [])) for s in b
                          for g in tracer.descendants(s["group"])),
        "plan_ms": sum(s.get("plan_ms", 0.0) for s in e),
        "exec_ms": sum(s["ms"] for s in e),
        "jobs": tot["jobs"],
        "tasks": tot["tasks"],
        "task_cpu_ms": tot["cpu_ms"],
        "task_run_ms": tot["run_ms"],
        "gc_ms": tot["gc_ms"],
        "shuffle_write_bytes": tot["shuffle_write_bytes"],
        "queue_wait_ms": tot["queue_wait_ms"],
    }


def medians(rows: list[dict]) -> dict:
    if not rows:
        raise RuntimeError("traced run recorded no spans to aggregate")
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def jobs_by_group(jobs: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for j in jobs:
        out.setdefault(j["group"], []).append(j)
    return out


def sources_layer(tracer: Tracer, by_group: dict, n_ops: int) -> dict:
    """Calls, wall ms and Spark jobs of the source readers, per traced op."""
    out = {}
    n = max(n_ops, 1)
    for name in ("sources.read_parquet", "sources.load_table"):
        spans = tracer.named(name)
        out[f"{name}.calls"] = len(spans) / n
        out[f"{name}.ms"] = sum(s["ms"] for s in spans) / n
        out[f"{name}.jobs"] = sum(
            len(by_group.get(g, [])) for s in spans for g in tracer.descendants(s["group"])
        ) / n
    return out

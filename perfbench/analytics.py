"""``analytics_mix``: a closed loop with one client making passes over
registry queries, the flagship ``recommend_rooms`` among them. Each query
is built through its registry callable, ``collect()``ed and hash-checked
against its DuckDB oracle (``registry.oracle_sql()``) with
``tools/check_oracle.py``'s normalization. The seed fixes the query order
for the whole run. The first pass in the session is the cold pass.
``WARMUP_PASSES`` passes, the cold pass among them, come before the
measured ones; measured passes follow until ``--seconds`` has passed, at
least ``MIN_PASSES`` of them."""

from __future__ import annotations

import random
import statistics
import time
from typing import NamedTuple

from . import datagen, oracle
from .harness import (Context, jobs_by_group, latency, medians, sources_layer, span_split,
                      tree_cpu_s)
from .trace import plan_ms

#: the flagship plan plus one query per operator family that fits the run
#: budget (README.md, "Sizing")
QUERIES = (
    "recommend_rooms",  # plans.recommend: the room scheduler's request
    "pricing_summary",  # relational aggregation
    "q7_volume_shipping",  # TPC-H shape, multi-way join
    "bm25_search",  # text retrieval
)
FLAGSHIP = "recommend_rooms"
#: the tables the queries read
TABLES = ("nation", "customer", "supplier", "part", "orders", "lineitem", "documents")
SF = 0.001
#: passes before the measured ones, the cold pass first. Per-pass CPU is
#: several times the warm figure in the cold pass and still falls for some
#: ten passes while the JIT compiles the engine's hot code; how far it has
#: got at a given pass depends on how busy the machine is
WARMUP_PASSES = 4
#: measured passes, at least; more if ``--seconds`` has not passed
MIN_PASSES = 3
#: per-layer metric prefixes this workload must emit
LAYERS = ("sources.", "analytics.", "recommend.")
_RECOMMEND = ("build_ms", "build_jobs", "plan_ms", "exec_ms", "jobs", "tasks", "task_cpu_ms")
_OPERATORS = ("build_ms", "build_jobs", "exec_ms", "jobs", "tasks", "task_cpu_ms",
              "task_run_ms", "gc_ms", "shuffle_write_bytes")


class Run(NamedTuple):
    n_pass: int
    name: str
    traced: bool
    latency_s: float | None  # None if the query raised
    ok: bool
    cpu_s: float  # process-tree CPU while it ran


def _prep(spark, data: str) -> None:
    """bench.py's warm-up, lighter: read every table's schema once and fork
    a Python worker per core, so neither cost lands in the first query."""
    from streamroom_bigdata_spark.sources import load_table

    for t in TABLES:
        load_table(spark, data, t)
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 10, 1, n).mapInPandas(lambda it: it, "id long").count()


def run(ctx: Context) -> dict:
    from streamroom_bigdata_spark import registry

    data = ctx.path("data", "")
    datagen.write_tables(data, ctx.seed, SF, TABLES)
    qs = registry.queries()
    expected = oracle.registry_hashes(data, TABLES, {q: registry.oracle_sql()[q] for q in QUERIES})
    if ctx.plant_wrong:
        expected = {q: (cols, n + 1, h) for q, (cols, n, h) in expected.items()}
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)
    tracer = ctx.tracer

    setup_s = ctx.setup(lambda spark, _i: _prep(spark, data))
    spark = ctx.spark

    def query(name):
        df = tracer.call("analytics.build", qs[name], spark, data)
        rows = tracer.call("analytics.exec", df.collect)
        if tracer.active:
            tracer.spans[-1]["plan_ms"] = plan_ms(df)
        return df.columns, rows

    runs: list[Run] = []
    ctx.start_window()
    t_end = None
    n_pass = 0
    while n_pass < WARMUP_PASSES + MIN_PASSES or time.time() < t_end:
        if n_pass == WARMUP_PASSES:
            t_end = time.time() + ctx.seconds
        # in a traced run the cold pass and every other warm pass are traced
        tracer.active = tracer.enabled and n_pass % 2 == 0
        for name in order:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                cols, rows = tracer.call(f"analytics.{name}", query, name)
                dt = time.perf_counter() - t0
                ok = (sorted(cols), len(rows), oracle.value_hash(rows, cols)) == expected[name]
            except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                dt, ok = None, False
            runs.append(Run(n_pass, name, tracer.active, dt, ok, tree_cpu_s() - c0))
        n_pass += 1
    tracer.active = False
    ctx.end_window()

    warm = [r for r in runs if r.n_pass > 0]
    measured = [r for r in runs if r.n_pass >= WARMUP_PASSES]
    passes: dict[int, float] = {}
    for r in runs:
        passes[r.n_pass] = passes.get(r.n_pass, 0.0) + (r.latency_s or 0.0)
    out = {
        "attempted": len(runs),
        "failed": sum(not r.ok for r in runs),
        "detail": {
            **latency([r.latency_s * 1e3 for r in measured if r.latency_s and not r.traced]),
            "cold_pass_s": passes[0],
            "warm_pass_s": statistics.median(v for p, v in passes.items() if p >= WARMUP_PASSES),
            "passes": n_pass,
        },
    }
    if not tracer.enabled:
        # each query's median over the measured passes, so one pass that
        # met a GC or a busy neighbour does not move it; averaged over the
        # queries
        cpu_ms: dict[str, list] = {}
        for r in measured:
            cpu_ms.setdefault(r.name, []).append(r.cpu_s * 1e3)
        out["metrics"] = {
            "setup_s": setup_s,
            "cpu_ms_per_op": statistics.mean(map(statistics.median, cpu_ms.values())),
        }
        out["detail"]["peak_rss_mb"] = ctx.peak_rss_mb()
        return out

    engine, jobs, stages = ctx.engine()
    by_group = jobs_by_group(jobs)
    # medians over the traced warm passes; each name's first span is its
    # cold run
    per_query = {
        name: medians([span_split(tracer, by_group, stages, s, "analytics.build",
                                  "analytics.exec")
                       for s in tracer.named(f"analytics.{name}")][1:])
        for name in QUERIES
    }
    flagship = per_query[FLAGSHIP]
    operators = [v for q, v in per_query.items() if q != FLAGSHIP]
    times: dict[tuple, list] = {}
    for r in warm:
        if r.latency_s:
            times.setdefault((r.name, r.traced), []).append(r.latency_s * 1e3)
    out["metrics"] = {
        **{f"recommend.{k}": flagship[k] for k in _RECOMMEND},
        "recommend.shuffle_bytes": flagship["shuffle_write_bytes"],
        **{f"analytics.{k}": sum(q[k] for q in operators) for k in _OPERATORS},
        "analytics.codegen_compiles": engine["codegen_compiles"],
        "analytics.codegen_ms": engine["codegen_ms"],
        **{f"analytics.{q}.{k}": v[k] for q, v in per_query.items() if q != FLAGSHIP
           for k in ("build_ms", "exec_ms", "jobs", "task_cpu_ms")},
        **sources_layer(tracer, by_group, sum(1 for r in runs if r.traced)),
        **ctx.storage(),
        **ctx.stamp(engine),
        "trace.overhead_ms": statistics.median(
            statistics.median(times[(q, True)]) - statistics.median(times[(q, False)])
            for q in QUERIES
        ),
    }
    return out

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. Inputs are generated from ``--seed``; every
output is checked. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics. The line before it holds the
workload's detail figures. Everything the run writes lives in its own
directory under ``.perfbench_run/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {"analytics_mix": "analytics", "ingest_live": "ingest"}

#: per-layer prefixes every workload emits in a traced run
COMMON = ("storage.", "box.", "engine.", "trace.")


def _isolate(run_dir: str) -> None:
    """Point every temp and scratch location of this process, the Spark
    JVM and its Python workers at ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    # local[N] from the CPUs this process may run on, not the host's count;
    # a value already set is kept
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(run_dir)  # stray relative writes (derby.log, ...) land here


def _shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _metrics(spec: list[dict], got: dict, owned: tuple[str, ...]) -> dict:
    """Every metric of ``spec`` with its unit. A metric of a layer this
    workload does not exercise reads 0; one it does must be measured."""
    out = {}
    for m in spec:
        name = m["name"]
        if name not in got and name.startswith(owned):
            raise RuntimeError(f"metric {name} was not measured")
        out[name] = {"value": float(got.get(name, 0.0)), "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt every expected result (smoke test of the checks)")
    args = ap.parse_args(argv)
    # on SIGTERM or SIGHUP, unwind through the clean-up below
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))

    if not os.path.isdir(os.path.join(ROOT, "streamroom_bigdata_spark")):
        print(f"no streamroom_bigdata_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    ctx = None
    try:
        _isolate(run_dir)
        from perfbench.harness import Context, log

        ctx = Context(run_dir=run_dir, seed=args.seed, seconds=args.seconds,
                      plant_wrong=args.plant_wrong)
        if args.trace:
            ctx.tracer.install()  # before any operator module is imported
        workload = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
        res = workload.run(ctx)
        log("checks done")
        if args.trace:
            metrics = _metrics(bench["per_layer"], res["metrics"], workload.LAYERS + COMMON)
        else:
            metrics = _metrics(bench["end_to_end"], res["metrics"], ("",))
            res["detail"].update(ctx.stamp(ctx.engine()[0]))  # box state, every run
    except Exception:  # noqa: BLE001 - report and exit non-zero, printing no result
        traceback.print_exc()
        return 1
    finally:
        _shutdown(ctx.spark if ctx else None)
        if ctx:
            log("shut down")
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(os.path.dirname(run_dir)):
            os.rmdir(os.path.dirname(run_dir))

    print(json.dumps({"workload": args.workload, "seed": args.seed, **res["detail"]}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

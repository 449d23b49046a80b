"""Smoke test of the benchmark itself, at the smallest sizes it accepts.

    python3 perfbench/smoke.py

For each workload it makes one untraced run and one traced run with every
expected result corrupted (``--plant-wrong``), and checks that:

- each run exits 0 and ends with the result line, whose metrics are exactly
  the ``BENCHMARK.json`` metrics of its mode, each with its unit;
- the untraced run is correct, and the planted run counts failures;
- the traced run measured the layers its workload exercises.

It also checks that the command fails, printing no result, in a directory
that holds only the benchmark and not the program. Exits non-zero on the
first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SECONDS = {"analytics_mix": 1, "ingest_live": 6}  # ingest: >= 10 landed files
#: traced metrics that must be nonzero, per workload
NONZERO = {
    "analytics_mix": ("recommend.build_ms", "recommend.jobs", "sources.read_parquet.calls",
                      "analytics.build_ms", "analytics.jobs", "analytics.codegen_compiles"),
    "ingest_live": ("stream.batches", "router.route_batch_ms", "router.jobs_per_batch",
                    "domain.exec_ms", "domain.jobs", "bronze.files", "gen.events"),
}


def _run(cwd: str, *args: str) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=300)
    if p.returncode:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, p.stdout.strip().splitlines()


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {msg}")
    print(f"ok    {msg}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, plant in ((0, False), (1, True)):
            args = ["--workload", wl, "--seed", "7", "--seconds", str(SECONDS[wl]),
                    "--trace", str(trace)] + (["--plant-wrong"] if plant else [])
            rc, lines = _run(ROOT, *args)
            _check(rc == 0, f"{wl} trace={trace} exits 0")
            res = json.loads(lines[-1])
            _check(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{wl} trace={trace} result keys")
            spec = bench["per_layer" if trace else "end_to_end"]
            _check({m["name"]: m["unit"] for m in spec}
                   == {k: v["unit"] for k, v in res["metrics"].items()},
                   f"{wl} trace={trace} emits every metric with its unit")
            if plant:
                _check(res["failed"] > 0 and not res["correct"],
                       f"{wl} planted wrong results count as failed ({res['failed']})")
                zero = [m for m in NONZERO[wl] if not res["metrics"][m]["value"]]
                _check(not zero, f"{wl} traced layers measured (zero: {zero})")
            else:
                _check(res["correct"] and res["failed"] == 0, f"{wl} untraced run is correct")
                _check(all(v["value"] > 0 for v in res["metrics"].values()),
                       f"{wl} end-to-end metrics are nonzero")

    bare = os.path.join(ROOT, ".perfbench_run", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, lines = _run(bare, "--workload", "ingest_live", "--seed", "1", "--seconds", "1")
        _check(rc != 0 and not lines, "fails without a result where the program is absent")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        if not os.listdir(os.path.dirname(bare)):
            os.rmdir(os.path.dirname(bare))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Per-job profile of one registry query (guide §1: measure first).

Usage:
    python tools/profile_query.py <query> [sf_dir] [--runs N]

Runs the query once cold and N−1 more times warm through
``streamroom_bigdata_spark.instrument.Runner`` (bench.py's warm-up and
layout prep), then dumps every Spark job the run submitted — duration,
stage count, task count, description, and whether it ran while the
DataFrame was being built — from the in-memory AppStatusStore (works with
the UI disabled). This is the local-mode stand-in for the Spark UI jobs
page: it attributes a query's wall-clock to its constituent jobs
(collects, localCheckpoints, iterative rounds, the final count) so
optimization targets the right stage instead of guessing.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> int:
    # parse --runs first (both --runs=N and --runs N forms), consuming its
    # value token so it never leaks into the query-name list (ADVICE r15)
    argv = list(sys.argv[1:])
    runs = 2
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--runs"):
            if "=" in a:
                runs = int(a.split("=", 1)[1])
                del argv[i]
            else:
                runs = int(argv[i + 1])
                del argv[i : i + 2]
            continue
        i += 1
    args = [a for a in argv if not a.startswith("--")]
    if args and "/" in args[0]:
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args

    from streamroom_bigdata_spark.instrument import Runner

    runner = Runner(sf_dir, names)
    for name in names:
        for i in range(runs):
            r = runner.run(name)
            if r.error is not None:
                raise r.error
            label = "cold" if i == 0 else f"warm{i}"
            print(f"\n=== {name} {label}: {r.wall_s:.3f}s total "
                  f"(build {r.build_s:.3f}s, {r.build_jobs} jobs), {r.rows} rows, "
                  f"{r.jobs} jobs, job-sum "
                  f"{sum(j['dur_ms'] or 0 for j in r.job_rows)/1000:.3f}s ===")
            prev_end = None
            for j in r.job_rows:
                gap = ""
                if prev_end is not None and j["t0"] is not None:
                    g = (j["t0"] - prev_end) / 1000.0
                    if g > 0.05:
                        gap = f"  (+{g:.2f}s gap before)"
                if j["t0"] is not None and j["dur_ms"] is not None:
                    prev_end = j["t0"] + j["dur_ms"]
                print(
                    f"  job {j['id']:>4}  {(j['dur_ms'] or 0)/1000:7.3f}s  "
                    f"stages={j['stages']:<2} tasks={j['tasks']:<4} "
                    f"{'build ' if j['build'] else ''}{j['desc']}{gap}"
                )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

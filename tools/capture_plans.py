"""Dump ``explain("formatted")`` for named registry queries to files.

Usage:
    python tools/capture_plans.py <out_dir> <suffix> [sf_dir] query [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each query — the round's
plan-evidence artifacts (plans/r{N}/<query>_before.txt / _after.txt).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", rest
    os.makedirs(out_dir, exist_ok=True)

    from streamroom_bigdata_spark import registry
    from streamroom_bigdata_spark.session import get_spark

    spark = get_spark("capture_plans")
    qs = registry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

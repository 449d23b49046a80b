"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf directory, then compares row count, sorted column names, and
an order-insensitive value hash (doubles rounded to 6 significant-ish
decimals before hashing, so float noise below the round threshold doesn't
flip the gate). The Spark side runs through
``streamroom_bigdata_spark.instrument.Runner`` (bench.py's warm-up, layout
prep and session revive).

Usage:
    python tools/check_oracle.py [sf_dir] [query ...] [--json FILE]

``--json FILE`` additionally writes per-query results in the driver's
CORRECTNESS_r{N}.json shape (rows/schema/hash match + error), so a full
local run can be committed as a round artifact (CHECK_LOCAL_r{N}.json).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, ".")


def norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):  # datetime/date
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s.removesuffix("+00:00")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    row_hashes = sorted(
        hashlib.md5("|".join(norm(r[i]) for i in order).encode()).hexdigest()
        for r in rows
    )
    return hashlib.md5("\n".join(row_hashes).encode()).hexdigest()


def main() -> int:
    from streamroom_bigdata_spark import registry
    from streamroom_bigdata_spark.instrument import Runner
    from streamroom_bigdata_spark.schemas import FIXTURE_TABLES

    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables (e.g. the synthetic sf≈1 fixtures) are
        # DIRECTORIES of part files; DuckDB needs the glob form for those
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    names = sorted(n for n in registry.queries() if not only or n in only)
    runner = Runner(sf_dir, names)
    oracles = registry.oracle_sql()
    failures = []
    results: dict[str, dict] = {}

    def record(name, *, rows=None, orows=None, rm=None, sm=None, hm=None, err=None):
        results[name] = {
            "rows_match": rm,
            "schema_match": sm,
            "hash_match": hm,
            "spark_rows": rows,
            "oracle_rows": orows,
            "err": err,
        }

    for name in names:
        t0 = time.time()
        r = runner.run(name, action="collect")
        if r.error is not None:
            tb = "".join(traceback.format_exception(r.error))
            print(f"FAIL  {name}: spark error")
            print(tb, end="", file=sys.stderr)
            failures.append(name)
            record(name, err="spark: " + tb[-400:])
            continue
        scols = r.columns
        srows = [tuple(row) for row in r.collected]
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            record(name, rows=len(srows))
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            failures.append(name)
            record(name, rows=len(srows), err="duckdb: " + traceback.format_exc()[-400:])
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        elif value_hash(srows, scols) != value_hash(drows, dcols):
            problems.append("value hash mismatch")
            # show a few diffs for debugging
            sset = {}
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            for r in srows:
                k = "|".join(norm(r[i]) for i in order)
                sset[k] = sset.get(k, 0) + 1
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            for r in drows:
                k = "|".join(norm(r[i]) for i in dorder)
                if sset.get(k):
                    sset[k] -= 1
                    if not sset[k]:
                        del sset[k]
                else:
                    problems.append(f"  duck-only: {k[:160]}")
                    if len(problems) > 6:
                        break
            for k in list(sset)[:3]:
                problems.append(f"  spark-only: {k[:160]}")
        record(
            name,
            rows=len(srows),
            orows=len(drows),
            rm=len(srows) == len(drows),
            sm=sorted(scols) == sorted(dcols),
            hm=not problems,
            err="; ".join(problems[:8]) or None,
        )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:8]))
            failures.append(name)
        else:
            print(f"OK    {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

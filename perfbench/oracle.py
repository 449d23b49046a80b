"""Expected results, computed with DuckDB over the same files Spark reads.

All of this runs outside the timed window and outside ``setup_s``. Registry
queries are compared by ``tools/check_oracle.py``'s value hash. For the live store,
DuckDB does the data-sized work (scans, groupings) and the top-k is ranked
in Python with the exact double arithmetic and HALF_UP rounding the Spark
plan uses, so a response is compared row by row: keys exactly, scores
within ``FLOAT_TOL``.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb

FLOAT_TOL = 2e-6
_Q6 = Decimal("0.000001")


def round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on its decimal form."""
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


def rows_match(got, expected) -> bool:
    """Order-insensitive row comparison; floats within ``FLOAT_TOL``."""
    if len(got) != len(expected):
        return False
    for g, e in zip(sorted(map(tuple, got), key=repr), sorted(map(tuple, expected), key=repr)):
        if len(g) != len(e):
            return False
        for a, b in zip(g, e):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, abs_tol=FLOAT_TOL):
                    return False
            elif a != b:
                return False
    return True


def bronze_counts(bronze: str, entities: dict[str, str]) -> dict[str, tuple[int, int]]:
    """(rows, distinct keys) per entity dir of the bronze store."""
    con = duckdb.connect()
    out = {}
    for entity, key in entities.items():
        out[entity] = con.execute(
            f"SELECT count(*), count(DISTINCT {key}) "
            f"FROM read_parquet('{bronze}/{entity}/*.parquet')"
        ).fetchone()
    con.close()
    return out


def classroom_expected(bronze: str, sizes, k) -> list[tuple]:
    """Expected ``recommend_classrooms`` rows over a bronze snapshot
    (plans/domain.py: ranked by the unrounded score, then classroom_id)."""
    con = duckdb.connect()
    rows = con.execute(f"""
        WITH b AS (
          SELECT classroom_id FROM read_parquet('{bronze}/fixed_booking/*.parquet')
          UNION ALL
          SELECT classroom_id FROM read_parquet('{bronze}/one_time_booking/*.parquet')
        ), u AS (SELECT classroom_id, count(*) AS c FROM b GROUP BY 1)
        SELECT r.classroom_id, CAST(r.capacity AS INT), coalesce(u.c, 0),
               u.c IS NOT NULL, (SELECT max(c) FROM u)
        FROM read_parquet('{bronze}/classroom/*.parquet') r
        LEFT JOIN u ON r.classroom_id = u.classroom_id""").fetchall()
    con.close()
    scored = sorted(
        (
            (0.5 + 0.3 * (usage / max(max_usage or 1, 1))
             + 0.2 * (0.5 if booked else 1.0), cid, cap)
            for cid, cap, usage, booked, max_usage in rows
        ),
        key=lambda r: (-r[0], r[1]),
    )
    out = []
    for size in sizes:
        rank = 0
        for score, cid, cap in scored:
            if cap is not None and cap >= size:
                rank += 1
                out.append((size, cid, cap, round6(score), rank))
                if rank == k:
                    break
    return out


# ---------------------------------------------------------------------------
# Registry queries: check_oracle.py's order-insensitive value hash. Copied
# from tools/check_oracle.py, which parses sys.argv at import.
# ---------------------------------------------------------------------------


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


def registry_hashes(data_dir: str, tables, sqls: dict[str, str]) -> dict[str, tuple]:
    """(sorted column names, row count, value hash) of each oracle query,
    run by DuckDB over views of ``tables``."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name, sql in sqls.items():
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = (sorted(cols), len(rows), value_hash(rows, cols))
    con.close()
    return out

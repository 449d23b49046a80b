"""Seeded inputs for the benchmark workloads.

Everything a run reads is a pure function of ``--seed``: the fixture-shaped
tables ``analytics_mix`` queries, and the SmartRoom wire records and reads
of ``ingest_live``. Shapes mirror the fixture tables the
repo's queries are written against (FIXTURES.md): uniform keys, 2-decimal
prices, timestamps in microseconds, a small shared vocabulary for
documents.
"""

from __future__ import annotations

import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "dark")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "valve")
_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window small big data column join customer query "
    "stream order group filter vector"
).split()
_LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995_US + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star(rng, sf: float) -> dict[str, pa.Table]:
    n_part = max(200, int(200_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))

    keys = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {n}" for a in _ADJ for n in _NOUN])
    part = pa.table({
        "p_partkey": keys,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_TYPES)[rng.integers(0, len(_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(0, 2_500, n_line)),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(rng.integers(0, 2_200, n_orders)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9_999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9_999.99, n_supp),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    region = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(_REGIONS),
    })
    return {"part": part, "lineitem": lineitem, "orders": orders,
            "customer": customer, "supplier": supplier, "nation": nation,
            "region": region}


def _documents(rng, sf: float) -> pa.Table:
    """Bag-of-words documents; every 10th one is a copy of an earlier one
    with one word changed, so near-duplicate pairs exist."""
    n = max(500, int(50_000 * sf))
    words = np.array(_WORDS)
    texts = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 80)))]))
    langs = [lang for lang, _ in _LANGS]
    probs = np.array([p for _, p in _LANGS])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(langs)[rng.choice(len(langs), n, p=probs / probs.sum())],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, sf: float, names) -> None:
    """Write the fixture-shaped tables ``names`` at scale factor ``sf`` as
    ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    tables = _star(rng, sf)
    tables["documents"] = _documents(rng, sf)
    for name in names:
        pq.write_table(tables[name], f"{out_dir}/{name}.parquet")


def classroom_requests(seed: int, n: int) -> list[tuple[tuple[int, ...], int]]:
    """``n`` live-store reads: 1-4 distinct student counts from 10..150,
    ``k`` in 1..5."""
    rnd = random.Random(seed ^ 0x5EED)
    return [
        (tuple(sorted(rnd.sample(range(10, 151), rnd.randint(1, 4)))), rnd.randint(1, 5))
        for _ in range(n)
    ]


# ---------------------------------------------------------------------------
# SmartRoom wire records (the reference's producer output, FIXTURES.md §1)
# ---------------------------------------------------------------------------

#: share of each streamed entity type; classrooms only arrive in the catalog
STREAM_MIX = (
    ("fixed_booking", 0.50),
    ("one_time_booking", 0.30),
    ("courses", 0.07),
    ("professors", 0.06),
    ("sections", 0.07),
)
_STAMP = {"ingestion_timestamp": "2024-09-01 08:00:00", "ingestion_date": "2024-09-01"}


def _record(kind: str, i: int, rnd: random.Random, rooms: list[str]) -> dict:
    room = rooms[min(int(rnd.paretovariate(1.2)) - 1, len(rooms) - 1)]
    day = f"2024-{rnd.randint(9, 12):02d}-{rnd.randint(1, 28):02d}"
    hour = rnd.randint(8, 18)
    if kind == "fixed_booking":
        rec = {"booking_id": f"B{i}", "section_id": f"S{rnd.randrange(500)}",
               "classroom_id": room, "date": day, "start_time": f"{hour}:00:00",
               "end_time": f"{hour + 1}:00:00", "students": rnd.randint(5, 150)}
    elif kind == "one_time_booking":
        rec = {"onetime_id": f"O{i}", "professor_id": f"P{rnd.randrange(300)}",
               "classroom_id": room, "date": day, "start_time": f"{hour}:00:00",
               "end_time": f"{hour + 2}:00:00", "students": rnd.randint(5, 150),
               "booking_type": rnd.choice(("exam", "lecture", "meeting"))}
    elif kind == "courses":
        rec = {"course_id": f"CO{i}", "course_name": f"course {i}",
               "department": f"dept_{rnd.randrange(8)}",
               "fixed_students": rnd.randint(10, 200)}
    elif kind == "professors":
        rec = {"professor_id": f"P{i}", "name": f"prof_{i}",
               "department": f"dept_{rnd.randrange(8)}", "college_id": f"COL{rnd.randrange(5)}"}
    else:
        rec = {"section_id": f"S{i}", "course_id": f"CO{rnd.randrange(1000)}",
               "professor_id": f"P{rnd.randrange(300)}",
               "day_schedule": rnd.choice(("MW", "TR", "F")),
               "start_hour": str(hour), "duration_hours": str(rnd.randint(1, 3)),
               "classroom_id": room, "fixed_students": rnd.randint(10, 200)}
    rec["source_type"] = kind
    rec.update(_STAMP)
    return rec


def classroom_catalog(seed: int, n_rooms: int) -> str:
    """The classroom catalog as one JSON-lines payload (landed before
    timing)."""
    rnd = random.Random(seed)
    return "".join(
        json.dumps({"classroom_id": f"C{i:04d}", "college_id": f"COL{i % 5}",
                    "room_number": str(100 + i), "capacity": rnd.randint(20, 199),
                    "source_type": "classroom", **_STAMP}) + "\n"
        for i in range(n_rooms)
    )


class WireGenerator:
    """JSON-lines payloads of streamed records, made one file at a time.
    Every entity key is unique across the run, so after the drain the
    bronze store must hold exactly ``counts`` rows per entity."""

    def __init__(self, seed: int, n_rooms: int) -> None:
        self._rnd = random.Random(seed * 7919 + 1)
        self._rooms = [f"C{i:04d}" for i in range(n_rooms)]
        self._rnd.shuffle(self._rooms)  # the hot rooms differ per seed
        self._kinds = [k for k, _ in STREAM_MIX]
        self._weights = [w for _, w in STREAM_MIX]
        self._i = 0
        self.counts = dict.fromkeys(self._kinds, 0)

    def payload(self, n: int) -> str:
        lines = []
        for kind in self._rnd.choices(self._kinds, self._weights, k=n):
            lines.append(json.dumps(_record(kind, self._i, self._rnd, self._rooms)))
            self.counts[kind] += 1
            self._i += 1
        return "\n".join(lines) + "\n"

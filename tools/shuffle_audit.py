"""Measured shuffle audit: EXECUTED-plan metrics per headline query.

PLANS.md counts exchanges statically; this tool runs each headline query
(sf0.1 by default) and reads the AQE-final executed plan's SQL metrics —
actual shuffle bytes/records written, broadcast sizes, and rows scanned.
The number that matters at 100 TB is bytes-through-the-shuffle per query,
and it is measured here, not inferred. Queries run through
``streamroom_bigdata_spark.instrument.Runner``; only the final action's
plan is read, so shuffles in the eager jobs a query submits while it is
being built are not counted.

Usage:
    python tools/shuffle_audit.py [sf_dir] [query ...] [--write] [--json OUT]
    # --write → SHUFFLES.md; query names default to bench.py's HEADLINE
    # --json OUT → machine-readable per-query metric map (the
    #   shuffle-regression gate's input; close_round diffs it against the
    #   previous round's SHUFFLES_r{N}.json via ``diff_books``)
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")

# Regression tolerances (per query, same sf): generous enough that AQE
# partition-count jitter and stats-estimate drift never trip them, tight
# enough that the bug class this gate exists for — a corpus-growing join
# side slipping (back) into a broadcast, or a new pair-stage explosion —
# trips LOUDLY. The round-12/13 incidents this automates: bpe_encode_docs
# broadcast 0 → 3,168 MiB, incdedup 0 → 276 MiB, ivfpq 0 → 105 MiB — all
# orders of magnitude past these lines.
BROADCAST_TOL_MIB = 8.0  # new > prev × 1.5 + 8 MiB → red
SHUFFLE_ROWS_TOL = 200_000  # new > prev × 2 + 200k rows → red

# Absolute pins (round 16, VERDICT r15 item 8): hard per-query upper
# bounds at sf0.1 locking in the round-15/16 shared-subtree wins, so a
# revert (e.g. of _capped_contrib) goes red even if both books in a
# round-over-round diff carry the reverted shape. Bounds sit one unit of
# slack above the measured value so AQE jitter never trips them.
PINNED_MAX_SF01 = {
    "jaccard_links": {"shuffles": 6, "shuffle_mib": 45.0},
    "kmv_source_overlap": {"shuffles": 2},
    "theil_sen_daily_trend": {"shuffles": 4},
}


def check_pins(cur: dict, pins: dict = PINNED_MAX_SF01) -> list[str]:
    """Violations of the absolute per-query pins (sf0.1 book only)."""
    bad = []
    for name, lims in sorted(pins.items()):
        c = cur.get(name)
        if c is None:
            continue
        for metric, lim in lims.items():
            if c.get(metric, 0) > lim:
                bad.append(
                    f"{name}: {metric} {c[metric]} exceeds pinned max {lim}"
                )
    return bad


def diff_books(prev: dict, cur: dict) -> list[str]:
    """Violations of the regression tolerances between two audit books
    (same sf). Queries new to ``cur`` establish their own baseline;
    queries gone from ``cur`` are ignored (renames are caught by
    close_round's registry checks)."""
    bad = []
    for name, c in sorted(cur.items()):
        p = prev.get(name)
        if p is None:
            continue
        b_prev, b_cur = p["broadcast_mib"], c["broadcast_mib"]
        if b_cur > b_prev * 1.5 + BROADCAST_TOL_MIB:
            bad.append(
                f"{name}: broadcast {b_prev:.2f} -> {b_cur:.2f} MiB "
                f"(limit {b_prev * 1.5 + BROADCAST_TOL_MIB:.2f})"
            )
        r_prev, r_cur = p["shuffle_rows"], c["shuffle_rows"]
        if r_cur > r_prev * 2 + SHUFFLE_ROWS_TOL:
            bad.append(
                f"{name}: shuffle rows {r_prev:,} -> {r_cur:,} "
                f"(limit {r_prev * 2 + SHUFFLE_ROWS_TOL:,})"
            )
    return bad

HEADER = (
    "| query | shuffles | shuffle MiB | shuffle rows | broadcast MiB | "
    "rows scanned |\n|---|---|---|---|---|---|"
)


def _metrics(node) -> dict:
    vals = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    return vals


def _walk(node, acc) -> None:
    name = node.nodeName()
    m = _metrics(node)
    if name == "Exchange":
        acc["shuffles"] += 1
        acc["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        acc["shuffle_rows"] += m.get("shuffleRecordsWritten", 0)
    elif name == "BroadcastExchange":
        acc["broadcast_bytes"] += m.get("dataSize", 0)
    elif name.startswith("Scan"):
        acc["scan_rows"] += m.get("numOutputRows", 0)
    ch = node.children()
    for i in range(ch.size()):
        _walk(ch.apply(i), acc)
    if name.endswith("QueryStage"):
        _walk(node.plan(), acc)


def main() -> int:
    from bench import HEADLINE

    from streamroom_bigdata_spark.instrument import Runner

    argv = sys.argv[1:]
    write = "--write" in argv
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    pos = [a for a in argv if not a.startswith("-")]
    sf_dir = pos[0] if pos else "/root/testdata/sf0.1"
    names = pos[1:] or HEADLINE

    runner = Runner(sf_dir, names)
    lines = [HEADER]
    books: dict[str, dict] = {}
    for name in names:
        r = runner.run(name, action="collect")
        if r.error is not None:
            raise r.error
        root = r.df._jdf.queryExecution().executedPlan()
        # unwrap AdaptiveSparkPlanExec to the final, metric-bearing plan
        final = (
            root.executedPlan()
            if root.nodeName() == "AdaptiveSparkPlan"
            else root
        )
        acc = dict.fromkeys(
            ("shuffles", "shuffle_bytes", "shuffle_rows", "broadcast_bytes",
             "scan_rows"), 0
        )
        _walk(final, acc)
        books[name] = b = {
            "shuffles": acc["shuffles"],
            "shuffle_mib": round(acc["shuffle_bytes"] / 1048576, 3),
            "shuffle_rows": acc["shuffle_rows"],
            "broadcast_mib": round(acc["broadcast_bytes"] / 1048576, 3),
            "scan_rows": acc["scan_rows"],
        }
        lines.append(
            f"| {name} | {b['shuffles']} | {b['shuffle_mib']:.2f} | "
            f"{b['shuffle_rows']:,} | {b['broadcast_mib']:.2f} | "
            f"{b['scan_rows']:,} |"
        )
    table = "\n".join(lines)
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "queries": books}, f, indent=1,
                      sort_keys=True)
        print(f"wrote {json_out} ({len(books)} queries)")
    if write:
        with open("SHUFFLES.md", "w") as f:
            f.write(
                "# Measured shuffle audit (tools/shuffle_audit.py at "
                f"{sf_dir})\n\n"
                "Executed-plan SQL metrics per headline query — actual "
                "bytes/records through each shuffle and broadcast, after "
                "AQE's final re-plan. Complements PLANS.md (static "
                "exchange counts): a query is scale-safe when shuffle "
                "bytes are a small, output-proportional fraction of rows "
                "scanned.\n\n" + table + "\n\n"
                "Reading notes: partial (map-side) aggregation is why "
                "pricing_summary scans 600k rows but shuffles 6; every "
                "broadcast here is AQE-chosen, not hinted (the plan-audit "
                "guard test forbids forced broadcasts over fact-derived "
                "relations), so a side that grows past the threshold at "
                "larger SF falls back to a shuffle join automatically — "
                "near_dup_pairs' band table is the big one to watch and is "
                "exactly the side the hot-bucket cap bounds.\n"
            )
        print("wrote SHUFFLES.md")
    else:
        print(table)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

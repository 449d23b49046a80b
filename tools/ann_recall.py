"""Recall@k measurement for the ANN operators (round-8 verdict item #6).

Runs the REAL Spark implementations (not a numpy replica) at 2-3 knob
settings each and reports recall@K vs the brute-force `cosine_topk` ground
truth plus wall time — the knob → recall → cost table BASELINE.md
publishes. At 100 TB these knobs (probe radius / list fan-out) are the
entire accuracy-vs-cost tradeoff, so the numbers belong next to the perf
baselines, not only inside a pass/fail property test.

Recall@K per query = |ANN top-K ∩ exact top-K| / K, averaged over the
fixed QUERY_IDS. A setting whose candidate set is smaller than K is
penalized naturally (missing rows are misses).

Usage:
    python tools/ann_recall.py [sf_dir] [K]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
K = int(sys.argv[2]) if len(sys.argv) > 2 else 50


def _topk_sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def main() -> int:
    from streamroom_bigdata_spark.operators import similarity as sim
    from streamroom_bigdata_spark.session import get_spark

    spark = get_spark("ann_recall")
    # pre-fork python workers so the first pandas query isn't charged fork cost
    spark.range(64 * 1024, numPartitions=64).selectExpr("sum(id)").collect()

    t0 = time.time()
    truth = _topk_sets(sim.cosine_topk(spark, SF_DIR, k=K))
    t_truth = time.time() - t0
    print(f"ground truth: brute cosine top-{K}, {t_truth:.2f}s")

    def recall(got: dict[int, set[int]]) -> float:
        return sum(
            len(got.get(q, set()) & truth[q]) / K for q in truth
        ) / len(truth)

    rows = []
    for radius in (0, 1, 2):
        t0 = time.time()
        got = _topk_sets(
            sim.ann_lsh_cosine(spark, SF_DIR, probe_radius=radius, k=K)
        )
        rows.append((f"lsh probe_radius={radius}", recall(got), time.time() - t0))
    for np_ in (1, 3, 5):
        t0 = time.time()
        got = _topk_sets(sim.ann_ivf_cosine(spark, SF_DIR, n_probe=np_, k=K))
        rows.append((f"ivf n_probe={np_}", recall(got), time.time() - t0))
    t0 = time.time()
    got = _topk_sets(sim.ann_pq_cosine(spark, SF_DIR, k=K))
    rows.append(
        (
            f"pq m={sim.PQ_M} k*={sim.PQ_K} (32x compressed codes)",
            recall(got),
            time.time() - t0,
        )
    )
    for np_ in (3, 5):
        t0 = time.time()
        got = _topk_sets(sim.ann_ivfpq_cosine(spark, SF_DIR, n_probe=np_, k=K))
        rows.append(
            (
                f"ivfpq n_probe={np_} (pruned + 32x compressed)",
                recall(got),
                time.time() - t0,
            )
        )

    print(f"\n| setting | recall@{K} | wall s |")
    print("|---|---|---|")
    for name, rec, sec in rows:
        print(f"| {name} | {rec:.3f} | {sec:.2f} |")
    print(f"| brute force (exact) | 1.000 | {t_truth:.2f} |")
    print("\nloadavg", open("/proc/loadavg").read().strip())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Planted-skew rehearsal: measure the reducer-task spread a hot key causes,
plain vs salted (functions/skew.py), on a --hot-key dataset.

Build the dataset first (30% of lineitem collapsed onto one part key):

    python tools/make_scale.py /root/testdata/sf0.1 /tmp/sf1_hot 10 --hot-key
    python tools/skew_rehearsal.py /tmp/sf1_hot

For each scenario the query runs to completion, then the heaviest reducer
stage's per-task durations come from the live Spark UI REST API
(``/api/v1/applications/<app>/stages``) — max/median task time IS the skew
signal: a perfectly spread stage has max ≈ median, a one-hot-reducer stage
has max ≫ median.

Scenario design notes (what makes the comparison honest):
- joins run with broadcast DISABLED — modeling the 100 TB shape where the
  dimension side is too big to broadcast, which is ``salted_join_left``'s
  documented niche (AQE handles the broadcastable case by itself).
- the no-AQE scenarios also pin the reducer count (AQE partition
  coalescing merges this small rehearsal's partitions until a 30%-hot key
  looks like only ~2× spread; at real scale partitions vastly outnumber
  coalescing targets and the dilution disappears).
- grouped applyInPandas is the case AQE can NEVER fix: grouped-map UDFs
  have no partial aggregation, so the hot key funnels 30% of the table
  through one Python worker.
- salting every key multiplies the group count by n_salts — measured here
  as a 4× SLOWDOWN for grouped-pandas. The production pattern is
  detect_hot_keys (1% sampled count) + with_hot_salt (salt only the hot
  list), which both salted scenarios use.
- agg/plain documents that map-side partials already defuse hot-key COUNT
  skew — salted_count's niche is partial-less shapes, not plain counts.

Usage:
    python tools/skew_rehearsal.py [hot_dir]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, ".")

HOT_DIR = next(
    (a for a in sys.argv[1:] if not a.startswith("-")), "/tmp/sf1_hot"
)

HEADER = (
    "| scenario | wall s | reducer tasks | med task ms | max task ms | "
    "max/med |\n|---|---|---|---|---|---|"
)


def _api(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}{path}"
    ) as r:
        return json.load(r)


def _completed_stage_ids(spark) -> set[int]:
    return {s["stageId"] for s in _api(spark, "/stages?status=complete")}


def measure(spark, label: str, build_df, rows_out: list[str]) -> None:
    """Run build_df().count(), then report the per-task duration quantiles
    of the heaviest NEW reducer stage (largest shuffle-read bytes)."""
    before = _completed_stage_ids(spark)
    t0 = time.perf_counter()
    build_df().count()
    wall = time.perf_counter() - t0
    time.sleep(0.5)  # UI listener catch-up
    stages = [
        s
        for s in _api(spark, "/stages?status=complete")
        if s["stageId"] not in before
    ]
    reducer = max(stages, key=lambda s: s.get("shuffleReadBytes", 0))
    sid, att = reducer["stageId"], reducer["attemptId"]
    summary = _api(
        spark, f"/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0"
    )
    med_ms, max_ms = summary["executorRunTime"]
    rows_out.append(
        "| {} | {:.2f} | {} | {:.0f} | {:.0f} | {:.1f}x |".format(
            label,
            wall,
            reducer["numTasks"],
            med_ms,
            max_ms,
            max_ms / max(med_ms, 1.0),
        )
    )


def main() -> int:
    import pandas as pd
    from pyspark.sql import functions as F

    from streamroom_bigdata_spark.functions.skew import (
        detect_hot_keys,
        salted_join_left,
        with_hot_salt,
    )
    from streamroom_bigdata_spark.session import get_spark
    from streamroom_bigdata_spark.sources import load_table

    spark = get_spark(
        "skew_rehearsal",
        extra_conf={
            # the REST status API rides on the UI (off by default in
            # session.py)
            "spark.ui.enabled": "true",
            # model the un-broadcastable dimension side throughout
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    li = load_table(spark, HOT_DIR, "lineitem").select(
        "l_partkey", "l_quantity", "l_orderkey"
    )
    part = load_table(spark, HOT_DIR, "part").select("p_partkey", "p_brand")
    # worker warm-up (fork cost out of the pandas numbers)
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 10, 1, n).mapInPandas(lambda it: it, "id long").count()

    t0 = time.perf_counter()
    hot = detect_hot_keys(li, "l_partkey")
    t_detect = time.perf_counter() - t0
    print(f"detect_hot_keys: {hot} in {t_detect:.2f}s (1% sampled count)")

    def adaptive(on: bool):
        # pin the reducer count in no-AQE scenarios (see module notes)
        spark.conf.set("spark.sql.adaptive.enabled", "true" if on else "false")

    rows: list[str] = []

    def join_plain():
        return (
            li.withColumnRenamed("l_partkey", "p_partkey")
            .join(part, "p_partkey")
            .groupBy("p_partkey", "p_brand")
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        )

    adaptive(True)
    measure(spark, "join/plain+aqeskew", join_plain, rows)
    adaptive(False)
    measure(spark, "join/plain-noaqe", join_plain, rows)

    def join_salted():
        big = li.withColumnRenamed("l_partkey", "p_partkey")
        return (
            salted_join_left(big, part, "p_partkey", n_salts=8, hot=hot)
            .groupBy("p_partkey", "p_brand")
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        )

    measure(spark, "join/salted-hot", join_salted, rows)

    # grouped-map pandas: no partial aggregation exists — the hot key's
    # whole row set crosses the shuffle into one Python worker
    out_schema = "l_partkey long, n long, q double"

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "l_partkey": [pdf["l_partkey"].iloc[0]],
                "n": [len(pdf)],
                "q": [pdf["l_quantity"].sum()],
            }
        )

    def pandas_plain():
        return li.groupBy("l_partkey").applyInPandas(stats, out_schema)

    measure(spark, "pandas/plain", pandas_plain, rows)

    def pandas_salted():
        # per-(key, salt) partials in Python, algebraic merge in the JVM —
        # ONLY the hot keys are salted, so the group count barely grows
        return (
            with_hot_salt(li, "l_partkey", hot, 16)
            .groupBy("l_partkey", "_salt")
            .applyInPandas(stats, out_schema)
            .groupBy("l_partkey")
            .agg(F.sum("n").alias("n"), F.sum("q").alias("q"))
        )

    measure(spark, "pandas/salted-hot", pandas_salted, rows)
    adaptive(True)

    def agg_plain():
        return li.groupBy("l_partkey").count()

    measure(spark, "agg/plain", agg_plain, rows)

    print(HEADER)
    print("\n".join(rows))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

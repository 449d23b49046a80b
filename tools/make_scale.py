"""Synthesize a larger scale factor from an existing fixture directory.

Facts (lineitem, orders, events, documents, embeddings) are replicated
``factor`` times with key-space shifts so uniqueness and join consistency
hold; dimensions (customer, supplier, part, nation, region) are copied
unchanged — the realistic shape of growth (facts grow, dims don't).
Document text gets a per-copy suffix token so shingle-based near-dup does
not see every copy as a duplicate of its original.

``--vary-docs`` rewrites every SHINGLE_N-th token of each document copy
with a per-copy marker instead of appending one suffix token. The suffix
default keeps copies ~Jaccard-1 near-duplicates of their original — fine
for a ×10 rehearsal, but at ×100 the TRUE near-dup pair count grows as
copies² (measured: 73 GB of pair shuffle and a full disk at sf≈10) — a
fixture artifact, not an operator cost. With every 3rd token varied, every
3-gram shingle crosses an altered token, so cross-copy Jaccard is 0 while
WITHIN-copy pair structure (the original corpus's real near-dups, altered
in parallel) is preserved — near-dup output then scales linearly with
FACTOR, the realistic shape.

``--hot-key`` additionally plants PATHOLOGICAL KEY SKEW: ~30% of the
replicated lineitem rows get their l_partkey rewritten to one hot part key
(deterministically, by row-content hash). That is the worst-case shape the
salted operators (functions/skew.py) exist for — use with
tools/skew_rehearsal.py to measure the reducer-time spread the salt buys.

Usage:
    python tools/make_scale.py [src_sf_dir] [dst_dir] [factor] [--hot-key]

Then:  SPARK_GRAFT_SF_DIR=<dst_dir> python bench.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

_pos = [a for a in sys.argv[1:] if not a.startswith("-")]
SRC = _pos[0] if len(_pos) > 0 else "/root/testdata/sf0.1"
DST = _pos[1] if len(_pos) > 1 else "/tmp/sf1_synth"
FACTOR = int(_pos[2]) if len(_pos) > 2 else 10
HOT_KEY = "--hot-key" in sys.argv
VARY_DOCS = "--vary-docs" in sys.argv

KEY_OFFSET = 10_000_000_000  # far above any fixture key
# --hot-key: fraction of lineitem rows remapped onto one part key. The key
# itself is a real p_partkey (1), so joins still hit the part table.
HOT_FRACTION = 0.3
HOT_PARTKEY = 1


def main() -> int:
    from pyspark.sql import functions as F

    from streamroom_bigdata_spark.schemas import FIXTURE_TABLES
    from streamroom_bigdata_spark.session import get_spark
    from streamroom_bigdata_spark.sources import load_table

    spark = get_spark("make_scale")

    # per-table: columns to shift by copy_index * KEY_OFFSET
    shifts = {
        "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey"],
        "events": ["event_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }

    for name in FIXTURE_TABLES:
        src = load_table(spark, SRC, name)
        if name not in shifts:
            src.write.mode("overwrite").parquet(f"{DST}/{name}.parquet")
            continue
        copied = src.crossJoin(
            spark.range(FACTOR).select(F.col("id").alias("_copy"))
        )
        for col in shifts[name]:
            copied = copied.withColumn(
                col, F.col(col) + F.col("_copy") * F.lit(KEY_OFFSET)
            )
        if name == "documents":
            if VARY_DOCS:
                # alter every SHINGLE_N-th (3rd) token with a per-copy
                # marker: every 3-gram shingle then contains an altered
                # token, so cross-copy Jaccard is 0 and near-dup output
                # scales linearly with FACTOR (see module docstring)
                varied = F.transform(
                    F.split("text", " "),
                    lambda t, i: F.when(
                        i % 3 == 2,
                        F.concat(
                            t, F.lit("~c"), F.col("_copy").cast("string")
                        ),
                    ).otherwise(t),
                )
                copied = copied.withColumn(
                    "text", F.array_join(varied, " ")
                ).withColumn("n_chars", F.length("text").cast("long"))
            else:
                # perturb text per copy so copies aren't trivial EXACT
                # duplicates (they remain near-duplicates — ×10-scale only)
                copied = copied.withColumn(
                    "text",
                    F.concat_ws(
                        " ", "text", F.concat(F.lit("copytag"), "_copy")
                    ),
                )
        if name == "events":
            # spread users too, so per-user state grows sublinearly
            copied = copied.withColumn(
                "user_id", F.col("user_id") + F.col("_copy") * F.lit(1000)
            )
        if name == "lineitem" and HOT_KEY:
            # deterministic content-hash selection: ~HOT_FRACTION of rows
            # collapse onto HOT_PARTKEY — a single pathologically hot
            # reducer key for the skew rehearsal
            copied = copied.withColumn(
                "l_partkey",
                F.when(
                    F.pmod(
                        F.xxhash64("l_orderkey", "l_linenumber", "_copy"),
                        F.lit(1000),
                    )
                    < int(HOT_FRACTION * 1000),
                    F.lit(HOT_PARTKEY).cast("long"),
                ).otherwise(F.col("l_partkey")),
            )
            print(f"lineitem: --hot-key planted ({HOT_FRACTION:.0%} -> partkey {HOT_PARTKEY})")
        copied.drop("_copy").write.mode("overwrite").parquet(
            f"{DST}/{name}.parquet"
        )
        print(f"{name}: x{FACTOR}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

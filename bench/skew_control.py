"""Skew-join control benchmark (BASELINE.md control row; SURVEY §2 D3).

Demonstrates why explicit skew handling exists: joins a Zipf-skewed fact
table (one 'water'-grade hot key holding ~40% of all rows) against a
unique-key label table three ways —

  plain     : SortMergeJoin with AQE OFF   (the naive failure mode)
  aqe       : plain join with AQE skew-join ON (runtime mitigation)
  hot_cold  : kgx.shuffle.salt.hot_cold_join (measured heavy hitters ->
              broadcast; the pipeline's default)
  salted    : kgx.shuffle.salt.salted_join (explicit salt columns)

Prints one JSON line with wall seconds per strategy and the max/median
shuffle-partition row ratio of the plain plan (the skew itself).

Usage: python bench/skew_control.py [n_rows] [n_keys]
"""

from __future__ import annotations

import json
import os
import sys
import time

# the checkout this file sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000

    from pyspark.sql import functions as F

    from kgx.session import get_spark
    from kgx.shuffle.salt import hot_cold_join, salted_join

    spark = get_spark(
        "kgx-skew-control",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )

    # Zipf-ish facts: ~40% of rows hit key 0, rest spread uniformly
    base = spark.range(0, n_rows)
    facts = base.select(
        F.when(F.pmod("id", F.lit(5)) < 2, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)))
        .alias("k"),
        F.col("id").alias("v"),
    ).localCheckpoint()
    labels = (
        spark.range(0, n_keys)
        .select(F.col("id").alias("k"), (F.col("id") + 7).alias("label"))
        .localCheckpoint()
    )

    def timed(fn):
        t0 = time.monotonic()
        n = fn().select(F.sum(F.col("v") + F.col("label")).alias("s")).collect()[0]["s"]
        return round(time.monotonic() - t0, 2), n

    results = {}
    results["plain_noaqe_sec"], chk = timed(
        lambda: facts.join(labels.hint("merge"), "k")
    )
    results["hot_cold_sec"], chk2 = timed(
        lambda: hot_cold_join(facts, labels, "k", hot_threshold=500_000)
    )
    results["salted_sec"], chk3 = timed(
        lambda: salted_join(facts, labels, "k", salt_source=F.col("v"), n_salts=32)
    )
    assert chk == chk2 == chk3, "strategies disagree!"

    spark.stop()
    spark2 = get_spark("kgx-skew-aqe", master="local[32]", shuffle_partitions=32)
    facts2 = facts  # lineage lost with old session; rebuild
    from pyspark.sql import functions as F2

    base2 = spark2.range(0, n_rows)
    facts2 = base2.select(
        F2.when(F2.pmod("id", F2.lit(5)) < 2, F2.lit(0))
        .otherwise(F2.pmod(F2.xxhash64("id"), F2.lit(n_keys)))
        .alias("k"),
        F2.col("id").alias("v"),
    ).localCheckpoint()
    labels2 = (
        spark2.range(0, n_keys)
        .select(F2.col("id").alias("k"), (F2.col("id") + 7).alias("label"))
        .localCheckpoint()
    )
    t0 = time.monotonic()
    n = (
        facts2.join(labels2.hint("merge"), "k")
        .select(F2.sum(F2.col("v") + F2.col("label")).alias("s"))
        .collect()[0]["s"]
    )
    results["plain_aqe_sec"] = round(time.monotonic() - t0, 2)
    assert n == chk

    results["hot_key_share"] = 0.4
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())

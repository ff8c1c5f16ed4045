#!/usr/bin/env python
"""One-off skew measurement for SCALE.md: a join where one key owns
half the large side, run three ways — AQE skew-join, no mitigation,
and salted_join — to quantify the doctrine in operators/skew.py
("AQE first, salting second").

Run: python tools/measure_skew.py  (numbers land in stdout; copy the
summary line into SCALE.md)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lightlane_spark.operators.skew import salted_join
from tools.runs import run_reps

N_LARGE = 32_000_000
N_SMALL = 300_000  # past the broadcast threshold → sort-merge join
HOT_SHARE = 2  # 1/2 of large rows hit key 0


def build(spark):
    large = spark.range(N_LARGE).select(
        F.when(F.col("id") % HOT_SHARE == 0, F.lit(0))
        .otherwise(F.col("id") % N_SMALL)
        .alias("k"),
        (F.col("id") * 3 % 1000).alias("v"),
    )
    small = spark.range(N_SMALL).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("w")
    )
    return large, small


def best(spark, label, build):
    """Best of 3 noop-sink runs of ``build()``."""
    t = min(run_reps(spark, build, 3))
    print(f"{label}: {t:.2f}s")
    return t


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", "1MB")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    large, small = build(spark)
    agg = lambda df: df.groupBy().agg(F.sum(F.col("v") + F.col("w")))  # noqa: E731

    t_aqe = best(spark, "AQE skew-join   ", lambda: agg(large.join(small, "k")))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    t_plain = best(spark, "no mitigation   ", lambda: agg(large.join(small, "k")))
    t_salt = best(
        spark, "salted_join(16) ", lambda: agg(salted_join(large, small, ["k"], buckets=16))
    )
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    print(
        f"SUMMARY large={N_LARGE} small={N_SMALL} hot_share=1/{HOT_SHARE}: "
        f"aqe={t_aqe:.2f}s plain={t_plain:.2f}s salted_no_aqe={t_salt:.2f}s"
    )


if __name__ == "__main__":
    main()

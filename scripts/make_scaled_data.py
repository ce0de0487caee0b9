"""Deterministically scale the driver-generated testdata by an integer
factor K (sf0.1 -> sf1.0 with K=10) for SCALE-VALIDATION benchmarking.

The brief forbids external data, so larger scales are synthesized from the
sf0.1 events table itself: K copies with user_id/event_id shifted per copy
and ts unchanged. That gives K x keys at the same per-key window density
(how event data actually grows), so per-query WORK SHAPES scale linearly
instead of degenerating.

Usage:
    python scripts/make_scaled_data.py [--src /root/testdata/sf0.1] \
        [--dst /tmp/scotty_sfdata/sf1.0] [--factor 10] [--cpus 16]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/tmp/scotty_sfdata/sf1.0")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    args = ap.parse_args()
    K = args.factor

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("scotty-make-scaled-data")
        .config("spark.sql.shuffle.partitions", str(int(args.cpus) * 2))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if os.path.exists(args.dst):
        shutil.rmtree(args.dst)
    os.makedirs(args.dst)

    def copies(df):
        return df.withColumn(
            "_c", F.explode(F.array(*[F.lit(i) for i in range(K)]))
        )

    def shift(col, span):
        return (F.col(col) + F.col("_c") * F.lit(span)).alias(col)

    def write(df, name, parts):
        df.repartition(parts).write.mode("overwrite").parquet(
            f"{args.dst}/{name}.parquet"
        )
        n = spark.read.parquet(f"{args.dst}/{name}.parquet").count()
        print(f"{name}: {n:,} rows", flush=True)

    ev = spark.read.parquet(f"{args.src}/events.parquet")
    spans = ev.agg(
        (F.max("user_id") + 1).alias("u"), (F.max("event_id") + 1).alias("e")
    ).collect()[0]
    write(
        copies(ev).select(
            shift("event_id", spans["e"]), "ts", shift("user_id", spans["u"]),
            "event_type", "value", "props",
        ),
        "events", 32,
    )

    print(f"scaled x{K} dataset at {args.dst}")
    spark.stop()


if __name__ == "__main__":
    main()

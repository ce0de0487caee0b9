"""Deterministically scale the driver-generated testdata by an integer
factor K (sf0.1 -> sf1.0 with K=10) for SCALE-VALIDATION benchmarking.

The brief forbids external data, so larger scales are synthesized from the
sf0.1 tables themselves: K copies with copy-shifted keys. The shifts are
chosen so per-query WORK SHAPES scale linearly instead of degenerating:

- events: user_id/event_id shifted per copy (K x keys, same per-key window
  density — how event data actually grows), ts unchanged.
- lineitem/orders/customer: order/cust keys shifted per copy; nationkey
  untouched so the dimension joins keep their selectivity.
- region/nation/supplier/part: copied verbatim (dimensions don't scale).

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

    src = lambda t: spark.read.parquet(f"{args.src}/{t}.parquet")

    ev = src("events")
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

    li, orders, cust = src("lineitem"), src("orders"), src("customer")
    ok_span = orders.agg((F.max("o_orderkey") + 1).alias("k")).collect()[0]["k"]
    ck_span = cust.agg((F.max("c_custkey") + 1).alias("k")).collect()[0]["k"]
    write(
        copies(li).select(
            shift("l_orderkey", ok_span), "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ),
        "lineitem", 32,
    )
    write(
        copies(orders).select(
            shift("o_orderkey", ok_span), shift("o_custkey", ck_span),
            "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
        ),
        "orders", 16,
    )
    write(
        copies(cust).select(
            shift("c_custkey", ck_span), "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment",
        ),
        "customer", 8,
    )

    for t in ("region", "nation", "supplier", "part"):
        write(src(t), t, 1)

    print(f"scaled x{K} dataset at {args.dst}")
    spark.stop()


if __name__ == "__main__":
    main()

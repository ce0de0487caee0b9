"""Measure the session pre-split escape hatch against the unsalted
single-task floor (round-5 task; companion to BENCH/hotkey_ceiling.md).

The ceiling doc pins the unsalted session path's floor at ~T/2M s for a
T-turn conv_id (one task owns the whole key). This script synthesizes a
hot key an order of magnitude past the ceiling's 1M-turn probe — 10M
turns in ~5,000-turn sessions spread over ~280 day-buckets — on top of a
2M-turn uniform background, and times session aggregation via:

- ``window_aggregate``           (unsalted session builtin: the floor), and
- ``presplit_session_aggregate`` (day buckets: intra-key parallel),

both on the full dataset and on the hot key alone (the floor isolated).
Parity is asserted on every run before a time is reported. min-of-N warm
repeats, shared-host discipline.

Usage: python scripts/run_presplit_hotkey.py [--repeats 2] [--hot-turns 10000000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GAP_MS = 30 * 60_000
DAY_MS = 86_400_000


def build_data(spark, hot_turns: int, bg_convs: int = 40_000, bg_turns: int = 50):
    from pyspark.sql import functions as F

    # hot key: 1 turn/s with a 2h pause every 5,000 turns => sessions of
    # 5,000 turns, span ~ (hot_turns s + pauses) ~ 280 days at 10M turns
    hot = spark.range(hot_turns).select(
        F.lit(-1).cast("int").alias("user_id"),
        F.timestamp_millis(
            F.col("id") * 1000 + (F.col("id") / 5000).cast("long") * (2 * 3_600_000)
        ).alias("ts"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    bg = spark.range(bg_convs * bg_turns).select(
        (F.col("id") % bg_convs).cast("int").alias("user_id"),
        F.timestamp_millis(
            F.pmod(F.xxhash64("id"), F.lit(240 * DAY_MS))
        ).alias("ts"),
        (F.col("id") % 89).cast("double").alias("value"),
    )
    return hot.unionByName(bg)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--hot-turns", type=int, default=10_000_000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bench import CPUS, build_spark
    from scotty_window_processor_spark.plans.skew import presplit_session_aggregate
    from scotty_window_processor_spark.operators import SessionWindow, WindowMeasure
    from scotty_window_processor_spark.plans.windowed import window_aggregate

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    full = build_data(spark, args.hot_turns)
    full.write.mode("overwrite").parquet("/tmp/presplit_hotkey_data")
    df = spark.read.parquet("/tmp/presplit_hotkey_data")
    hot_only = df.where(F.col("user_id") == -1)

    def run_base(d):
        return window_aggregate(
            d, "user_id", "ts", SessionWindow(WindowMeasure.TIME, GAP_MS),
            {"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
        )

    def run_pre(d):
        return presplit_session_aggregate(
            d, "user_id", "ts", GAP_MS,
            partials={"n": F.count(F.lit(1)), "sum_value": F.sum("value")},
            finals={"n": F.sum("n"), "sum_value": F.round(F.sum("sum_value"), 2)},
            bucket_ms=DAY_MS,
        )

    # parity gate before any timing (checksum over all emitted sessions)
    def sig(out):
        return out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("w_start") + F.col("w_end") + F.col("n")).alias("chk"),
            F.round(F.sum("sum_value"), 2).alias("sv"),
        ).collect()[0]

    sb, sp = sig(run_base(df)), sig(run_pre(df))
    assert tuple(sb) == tuple(sp), (sb, sp)
    print(f"parity OK: {sb['rows']} sessions, checksum match", flush=True)

    def t(label, mk, d):
        best = None
        for _ in range(args.repeats):
            t0 = time.time()
            mk(d).write.format("noop").mode("overwrite").save()
            w = time.time() - t0
            best = w if best is None else min(best, w)
        print(f"{label}: {best:.2f}s", flush=True)
        return round(best, 2)

    res = {
        "hot_turns": args.hot_turns,
        "full_unsalted": t("full / unsalted builtin", run_base, df),
        "full_presplit": t("full / presplit day-bucket", run_pre, df),
        "hot_unsalted": t("hot-only / unsalted builtin", run_base, hot_only),
        "hot_presplit": t("hot-only / presplit day-bucket", run_pre, hot_only),
    }
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()

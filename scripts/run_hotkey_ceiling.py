"""Session hot-key ceiling measurement.

Sessions route UNSALTED by design (gap semantics are global per key; see
the session rule in the plans/skew.py module docstring), so one
pathological conv_id serializes its session work on a single task. This
script quantifies that ceiling:

  A. uniform run    — n_convs × turns_per_conv, no hot key
  B. hot run        — same + ONE conv at hot_factor × median turns
  C. isolated run   — ONLY the hot conv (per-key sequential throughput:
                      the ceiling a single conversation can ever hit)

and reports the straggler effect (B − A vs the ideal extra work
hot_turns / aggregate_throughput) plus the per-key ceiling (hot_turns /
C). Whether slice-level pre-aggregation inside the key's task amortizes
the cost shows up directly in C's turns/sec — the bulk in-order path lifts
whole sorted segments per slice instead of per-element merges.

Results go to BENCH/hotkey_ceiling.md (BENCH/BASELINE.md stays curated —
merge by hand; see scripts/run_scaling.py history).

Usage: python scripts/run_hotkey_ceiling.py [--n-convs 20000]
    [--turns-per-conv 50] [--hot-factor 100] [--cpus 16] [--repeats 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def flagship(spark, df):
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import (
        SessionWindow,
        TumblingWindow,
        WindowMeasure,
    )
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    out = scotty_window_aggregate(
        df, key="conv_id", ts="ts", value="is_tool",
        windows=[
            TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
            TumblingWindow(WindowMeasure.TIME, 3_600_000, window_id=2),
            SessionWindow(WindowMeasure.TIME, 300_000, window_id=3),
        ],
        aggs=[("turns", "long", CountAggregation), ("tool_calls", "double", SumAggregation)],
        lateness_ms=30_000,
    )
    return out.count()


def timed(spark, df, repeats):
    best = None
    n_windows = 0
    for _ in range(repeats):
        t0 = time.time()
        n_windows = flagship(spark, df)
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best, n_windows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=20000)
    ap.add_argument("--turns-per-conv", type=int, default=50)
    ap.add_argument("--hot-factor", type=int, default=100)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bench import build_spark
    from scotty_window_processor_spark.sources import synthesize_transcripts

    spark = build_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def prep(n_hot):
        df = synthesize_transcripts(
            spark, n_convs=args.n_convs, turns_per_conv=args.turns_per_conv,
            n_hot_convs=n_hot, hot_factor=args.hot_factor,
        ).withColumn("is_tool", F.col("tool").isNotNull().cast("double"))
        df = df.persist()
        return df, df.count()

    def prep_hot_only():
        df = synthesize_transcripts(
            spark, n_convs=0, turns_per_conv=args.turns_per_conv,
            n_hot_convs=1, hot_factor=args.hot_factor,
        ).withColumn("is_tool", F.col("tool").isNotNull().cast("double"))
        df = df.persist()
        return df, df.count()

    # warmup: codegen + python worker pool
    warm, _ = prep(0)
    flagship(spark, warm)
    warm.unpersist()

    uni, n_uni = prep(0)
    t_uni, w_uni = timed(spark, uni, args.repeats)
    uni.unpersist()

    hot, n_hot = prep(1)
    t_hot, w_hot = timed(spark, hot, args.repeats)
    hot.unpersist()

    iso, n_iso = prep_hot_only()
    t_iso, w_iso = timed(spark, iso, args.repeats)
    iso.unpersist()

    agg_tput = n_uni / t_uni
    ideal_extra = n_iso / agg_tput
    straggler = t_hot - t_uni
    r = {
        "cpus": int(args.cpus),
        "uniform": {"turns": n_uni, "sec": round(t_uni, 2),
                    "turns_per_sec": round(agg_tput, 1), "windows": w_uni},
        "with_hot_key": {"turns": n_hot, "sec": round(t_hot, 2),
                         "windows": w_hot},
        "hot_key_isolated": {"turns": n_iso, "sec": round(t_iso, 2),
                             "per_key_turns_per_sec": round(n_iso / t_iso, 1)},
        "straggler_extra_sec": round(straggler, 2),
        "ideal_extra_sec": round(ideal_extra, 2),
        "hot_turns_share_pct": round(100 * n_iso / n_hot, 2),
    }
    print(json.dumps(r))

    md = [
        "# Session hot-key ceiling (unsalted-by-design path)",
        "",
        f"local[{args.cpus}], flagship 3-window job (2 tumbling + 1 session),",
        f"min of {args.repeats} warm repeats per point. One conv_id at",
        f"{args.hot_factor}x the median turn count ({n_iso:,} turns,",
        f"{r['hot_turns_share_pct']}% of the hot dataset).",
        "",
        "| run | turns | wall s | note |",
        "|---|---|---|---|",
        f"| uniform ({args.n_convs:,} convs × {args.turns_per_conv}) | {n_uni:,} | {t_uni:.2f} | {agg_tput:,.0f} turns/s aggregate |",
        f"| + 1 hot conv | {n_hot:,} | {t_hot:.2f} | straggler +{straggler:.2f} s vs ideal +{ideal_extra:.2f} s |",
        f"| hot conv alone | {n_iso:,} | {t_iso:.2f} | per-key ceiling {n_iso / t_iso:,.0f} turns/s |",
        "",
    ]
    os.makedirs(os.path.join(os.path.dirname(__file__), "..", "BENCH"), exist_ok=True)
    out_path = os.path.join(os.path.dirname(__file__), "..", "BENCH", "hotkey_ceiling.md")
    with open(out_path, "w") as f:
        f.write("\n".join(md))
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()

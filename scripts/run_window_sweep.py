"""Concurrent-window-count sweep — the reference's headline benchmark
shape (random_tumbling_benchmark.json / ConcurrentTumblingWindows.png:
1→1000 concurrent windows, where slicing beats bucket-per-window by an
order of magnitude).

For each window count W, time the SAME aggregation over the sf events
table through:
  (a) the engine's shared-slice tier (one shuffle, every window family
      reduced from the same sorted Arrow batches), and
  (b) the bucket-per-window plan (one Catalyst groupBy(F.window) subplan
      per window, unioned) — what a user without the engine would write.

Each point runs in a FRESH subprocess: measured in round 4, running the
sweep inside one JVM degrades later points badly (W=256 shared exec
9.06 s inline vs 2.82 s fresh — accumulated plan-cache/GC pressure from
the earlier points' verify joins), so per-point isolation is what makes
the curve trustworthy.

Writes BENCH/window_sweep.md (sidecar, never touches BASELINE.md).

Usage: python scripts/run_window_sweep.py [--counts 1,4,16,64,256]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHILD = r"""
import json, os, sys
sys.path.insert(0, __REPO__)
from bench import build_spark, time_shared_vs_buckets
from pyspark.sql import functions as F
from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure

w_count = int(os.environ["W_COUNT"])
spark = build_spark(os.environ["CPUS"])
spark.sparkContext.setLogLevel("ERROR")
ev = spark.read.parquet(os.environ["SF_DIR"] + "/events.parquet")
n_rows = ev.count()
# warm python workers + codegen once
spark.range(32000).withColumn("g", F.col("id") % 32).groupBy("g").applyInPandas(
    lambda p: p, "id long, g long"
).count()
windows = [
    # reference shape: random sizes 1-20 min (randomTumbling(N,1,20)),
    # deterministic here: cycle 1..20 minutes
    TumblingWindow(WindowMeasure.TIME, ((i % 20) + 1) * 60_000, window_id=i)
    for i in range(w_count)
]
# verify compares the outputs per instance by a distributed tolerance join
r = time_shared_vs_buckets(spark, ev, windows, verify=True)
r["n_rows"] = n_rows
print("RESULT " + json.dumps(r))
"""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--counts", default="1,4,16,64,256")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()
    counts = [int(c) for c in args.counts.split(",")]

    rows = []
    n_rows = 0
    code = CHILD.replace("__REPO__", repr(REPO))
    for w_count in counts:
        env = dict(
            os.environ, W_COUNT=str(w_count), CPUS=str(args.cpus), SF_DIR=args.sf_dir
        )
        proc = subprocess.run(
            [sys.executable, "-c", code], env=env, capture_output=True, text=True,
            timeout=1800,
        )
        result_lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
        if proc.returncode != 0 or not result_lines:
            print(proc.stdout[-2000:])
            print(proc.stderr[-2000:])
            raise SystemExit(f"W={w_count} child failed (rc={proc.returncode})")
        r = json.loads(result_lines[-1][len("RESULT "):])
        n_rows = r.pop("n_rows")
        rows.append((w_count, r))
        print(f"W={w_count}: shared {r['shared_sec']:.2f}s (+{r['shared_build_sec']:.2f}s plan)  "
              f"bucket-per-window {r['buckets_sec']:.2f}s (+{r['buckets_build_sec']:.2f}s plan)  "
              f"exec speedup {r['buckets_sec'] / r['shared_sec']:.2f}x  "
              f"windows={r['windows_emitted']}", flush=True)

    md = [
        "# Concurrent-window sweep (reference benchmark shape)",
        "",
        f"events sf table, {n_rows:,} rows, local[{args.cpus}], tumbling sizes",
        "cycling 1-20 min (the reference's randomTumbling(N,1,20) shape,",
        "deterministic). Shared-slice tier (FORCED, even below the cost",
        "chooser's >3-window Catalyst crossover) vs one Catalyst",
        "groupBy(F.window) subplan per window (bucket-per-window); outputs",
        "compared per point by a distributed full-outer join (exact keys +",
        "counts, double sums within relative 1e-8). One fresh subprocess",
        "per point (inline points contaminate later ones — see module doc).",
        "",
        "Execution and driver-side plan-construction time are reported",
        "separately; a bucket-per-window user pays BOTH per query, and the",
        "planning column grows linearly with W (it dominates past ~64).",
        "",
        "| concurrent windows | shared exec s (plan s) | buckets exec s (plan s) | exec speedup | total speedup | windows emitted |",
        "|---|---|---|---|---|---|",
    ]
    for w, r in rows:
        tot_sh = r["shared_sec"] + r["shared_build_sec"]
        tot_bu = r["buckets_sec"] + r["buckets_build_sec"]
        md.append(
            f"| {w} | {r['shared_sec']:.2f} ({r['shared_build_sec']:.2f}) "
            f"| {r['buckets_sec']:.2f} ({r['buckets_build_sec']:.2f}) "
            f"| {r['buckets_sec'] / r['shared_sec']:.2f}× | {tot_bu / tot_sh:.2f}× "
            f"| {r['windows_emitted']:,} |"
        )
    md.append("")
    md.append(f"Generated by scripts/run_window_sweep.py on {time.strftime('%Y-%m-%d %H:%M:%S')}.")
    out = os.path.join(REPO, "BENCH", "window_sweep.md")
    with open(out, "w") as f:
        f.write("\n".join(md) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

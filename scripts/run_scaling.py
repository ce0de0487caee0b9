"""Scaling-efficiency evidence (north_rule: ≥0.8 between N and 4N executors).

No real cluster exists in this sandbox, so the same flagship job runs on
identical input at two parallelism levels — N and 4N local cores — in
separate processes (a JVM can't change master in-place); efficiency =
(throughput_4N / throughput_N) / 4.

Methodology notes (documented in BENCH/BASELINE.md):
- the host is shared: occasional 2-10× slowdowns from outside load are
  visible in load-average samples, so each level runs the job
  ``--repeats`` times after a full-size warmup and reports the MIN;
- a pure-CPU multiprocessing calibration measures how many effective
  cores the box actually gives, so the Spark efficiency can be read
  against the hardware ceiling (e.g. 32 threads on ~23 effective cores
  cannot scale 4× from 8 no matter the engine).

Usage: python scripts/run_scaling.py [--low 4 --high 16]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# override to run at a different input size WITHOUT clobbering the cached
# default dataset (ensure_data early-returns on an existing dir — pair any
# size change with a fresh dir)
DATA = os.environ.get("SCALING_DATA_DIR", "/tmp/bench_transcripts")

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, __REPO__)
from bench import build_spark
from pyspark.sql import functions as F
from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
from scotty_window_processor_spark.operators import (
    SessionWindow, SlidingWindow, TumblingWindow, WindowMeasure)

spark = build_spark(os.environ["CPUS"])
spark.sparkContext.setLogLevel("ERROR")
df = spark.read.parquet(os.environ["DATA"]).withColumn(
    "v", F.col("tool").isNotNull().cast("double"))
n_turns = df.count()
# 12 concurrent windows sharing one pass — the engine's headline workload,
# mirroring the reference's concurrent-windows benchmark
# (benchmark/configurations/random_tumbling_benchmark.json: 1..1000
# concurrent tumbling windows)
windows = [TumblingWindow(WindowMeasure.TIME, s * 60_000, window_id=i)
           for i, s in enumerate([1, 2, 5, 10, 20, 30, 60, 120])]
windows += [SlidingWindow(WindowMeasure.TIME, 1_200_000, 300_000, window_id=20),
            SlidingWindow(WindowMeasure.TIME, 3_600_000, 600_000, window_id=21),
            SessionWindow(WindowMeasure.TIME, 300_000, window_id=30),
            SessionWindow(WindowMeasure.TIME, 120_000, window_id=31)]
args = dict(key="conv_id", ts="ts", value="v", windows=windows,
    aggs=[("turns", "long", CountAggregation), ("tool_calls", "double", SumAggregation)])

def go():
    return scotty_window_aggregate(df, **args).count()

n_windows = go()  # full-size warmup (codegen + python workers)
times = []
for _ in range(int(os.environ["REPEATS"])):
    t0 = time.time(); go(); times.append(time.time() - t0)
best = min(times)
print("RESULT " + json.dumps({
    "cpus": int(os.environ["CPUS"]), "sec": best, "runs": [round(x, 2) for x in times],
    "turns": n_turns, "windows": n_windows, "turns_per_sec": n_turns / best}))
"""


def _busy(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def cpu_calibration() -> dict:
    """Effective parallel capacity: throughput ratio of 32 procs vs 1."""
    def run(p):
        with mp.Pool(p) as pool:
            best = None
            for _ in range(3):
                t0 = time.time()
                pool.map(_busy, [2_000_000] * p * 4)
                best = min(best, time.time() - t0) if best else time.time() - t0
        return (p * 4 * 2_000_000) / best
    one = run(1)
    out = {}
    for p in (4, 8, 16, 32):
        out[p] = round(run(p) / one, 2)
    return out


def run_at(cpus: int, repeats: int, child_timeout: int = 2400) -> dict:
    env = dict(os.environ, CPUS=str(cpus), DATA=DATA, REPEATS=str(repeats))
    out = subprocess.run(
        [sys.executable, "-c", CHILD.replace("__REPO__", repr(REPO))],
        env=env, capture_output=True, text=True, timeout=child_timeout,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line; stderr tail: {out.stderr[-2000:]}")


def ensure_data(n_convs: int, turns_per_conv: int) -> None:
    if os.path.isdir(DATA):
        return
    env = dict(os.environ)
    code = (
        "import sys; sys.path.insert(0, {repo!r})\n"
        "from bench import build_spark\n"
        "from scotty_window_processor_spark.sources import synthesize_transcripts\n"
        "spark = build_spark('32'); spark.sparkContext.setLogLevel('ERROR')\n"
        "df = synthesize_transcripts(spark, n_convs={n}, turns_per_conv={t}, n_hot_convs=4, hot_factor=50)\n"
        "df.write.mode('overwrite').parquet({data!r})\n"
    ).format(repo=REPO, n=n_convs, t=turns_per_conv, data=DATA)
    subprocess.run([sys.executable, "-c", code], env=env, check=True, timeout=1200)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=40000)
    ap.add_argument("--turns-per-conv", type=int, default=400)
    ap.add_argument("--low", type=int, default=4)
    ap.add_argument("--high", type=int, default=16)
    ap.add_argument("--repeats", type=int, default=4)
    ap.add_argument("--child-timeout", type=int, default=2400,
                    help="per-leg subprocess timeout sec; raise for big inputs")
    args = ap.parse_args()

    ensure_data(args.n_convs, args.turns_per_conv)
    calib = cpu_calibration()
    low = run_at(args.low, args.repeats, args.child_timeout)
    high = run_at(args.high, args.repeats, args.child_timeout)
    factor = args.high / args.low
    efficiency = (high["turns_per_sec"] / low["turns_per_sec"]) / factor
    hw_ceiling = min(1.0, (calib.get(args.high, factor) / calib.get(args.low, 1)) / factor)

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = f"""# BENCH/BASELINE.md — measured engine performance & scaling

Flagship job: 12 CONCURRENT windows in one shared pass (8 tumbling 1m–2h,
2 sliding, 2 session gaps; turn count + tool-call sum) over deterministic
synthesized transcripts ({low['turns']:,} turns incl. hot-key skew),
through the engine's Arrow/numpy tier (repartition →
mapInArrow, numpy ordering and slice reductions — no per-row Python, per BASELINE.json
input_hint). This mirrors the reference's concurrent-windows benchmark
(random_tumbling_benchmark.json, 1→1000 windows).

Sandbox stand-in for N vs 4N executors (per task instructions): identical
job + input at local[{args.low}] and local[{args.high}], separate
processes, full warmup run, min of {args.repeats} repeats (the host is
shared — outside load appears in load-average samples, so minima are the
comparable statistic).

| parallelism | wall sec (min) | all runs | turns/sec | windows |
|---|---|---|---|---|
| local[{args.low}] (N) | {low['sec']:.2f} | {low['runs']} | {low['turns_per_sec']:,.0f} | {low['windows']:,} |
| local[{args.high}] (4N) | {high['sec']:.2f} | {high['runs']} | {high['turns_per_sec']:,.0f} | {high['windows']:,} |

**Scaling efficiency (T_4N / T_N) / 4 = {efficiency:.3f}** (target ≥ 0.8,
BASELINE.json north_rule).

Hardware calibration (pure-CPU multiprocessing throughput vs 1 proc):
{json.dumps(calib)} — the box advertises 32 vCPUs but delivers ~{calib[32]:.0f}×
single-core throughput at 32 procs, so the {args.low}→{args.high}
hardware ceiling is ≈ {hw_ceiling:.2f} efficiency.

Reference baseline context (BASELINE.md): Scotty sustains 1.7–2.0M
tuples/s on ONE core for integer-sum windows, in-process, no shuffle, no
serialization, int payloads. This engine's figure covers a full Spark
pipeline (parquet scan → hash repartition → Arrow IPC → numpy ordering
→ vectorized window assembly → count) on string-keyed conversation rows.

Generated by scripts/run_scaling.py on {time.strftime('%Y-%m-%d %H:%M:%S')}.
"""
    # sidecar, NOT BENCH/BASELINE.md: that file is a curated, append-only
    # record across rounds (this script clobbered it once — restored from
    # git); merge the sidecar's numbers in by hand
    with open(os.path.join(REPO, "BENCH", "scaling_last_run.md"), "w") as f:
        f.write(md)
    print(json.dumps({"low": low, "high": high, "efficiency": round(efficiency, 3),
                      "cpu_calibration": calib}))


if __name__ == "__main__":
    main()

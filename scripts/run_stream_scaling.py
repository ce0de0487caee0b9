"""Streaming-tier scaling evidence (companion to run_scaling.py).

north_rule asks for throughput scaling between N and 4N executors; the
batch flagship's evidence lives in BENCH/BASELINE.md. This script measures
the STREAMING operator (applyInPandasWithState, one binary state cell per key,
vectorized in-order path) the same way: identical file-replay stream at
local[N] and local[4N] in separate processes, full warmup run, min of
--repeats, fresh checkpoint per run.

The streaming handler is Python-side work (state codec + numpy segment
appends) distributed across Python workers by the state-shuffle, so it
scales with processes rather than JVM threads — historically better on
this host than shuffle-heavy JVM stages (see BENCH/BASELINE.md
calibration).

Usage: python scripts/run_stream_scaling.py [--low 4 --high 16 --repeats 3]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = "/tmp/bench_stream_transcripts"

CHILD = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, __REPO__)
from bench import build_spark
from pyspark.sql import functions as F

PROVIDER = os.environ.get("STATE_PROVIDER", "")
from scotty_window_processor_spark.sources import transcripts_schema
from scotty_window_processor_spark.streaming.processor import scotty_stream
from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
from scotty_window_processor_spark.operators import SessionWindow, TumblingWindow, WindowMeasure

spark = build_spark(os.environ["CPUS"])
if PROVIDER == "rocksdb":
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
spark.sparkContext.setLogLevel("ERROR")
n_turns = spark.read.parquet(os.environ["DATA"]).count()

def go():
    ckpt = tempfile.mkdtemp(prefix="stream_scale_ckpt_")
    stream = (spark.readStream.schema(transcripts_schema())
              .option("maxFilesPerTrigger", int(os.environ.get("MFPT", "16"))).parquet(os.environ["DATA"]))
    stream = stream.withColumn("v", F.col("tool").isNotNull().cast("double"))
    res = scotty_stream(stream, key="conv_id", ts="ts", value="v",
        windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
                 SessionWindow(WindowMeasure.TIME, 300_000, window_id=3)],
        aggs=[("turns", "long", CountAggregation), ("tool_calls", "double", SumAggregation)],
        watermark_delay="30 seconds", lateness_ms=30_000)
    t0 = time.time()
    q = (res.writeStream.format("noop")
         .option("checkpointLocation", ckpt).outputMode("append").start())
    q.processAllAvailable(); q.stop()
    shutil.rmtree(ckpt, ignore_errors=True)
    return time.time() - t0

go()  # warmup (codegen + python workers + state store)
times = [go() for _ in range(int(os.environ["REPEATS"]))]
best = min(times)
print("RESULT " + json.dumps({
    "cpus": int(os.environ["CPUS"]), "sec": best, "runs": [round(x, 2) for x in times],
    "turns": n_turns, "turns_per_sec": n_turns / best}))
"""


def run_at(cpus: int, repeats: int, mfpt: int = 16, provider: str = "") -> dict:
    env = dict(os.environ, CPUS=str(cpus), DATA=DATA, REPEATS=str(repeats),
               MFPT=str(mfpt), STATE_PROVIDER=provider)
    out = subprocess.run(
        [sys.executable, "-c", CHILD.replace("__REPO__", repr(REPO))],
        env=env, capture_output=True, text=True, timeout=3000,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line; stderr tail: {out.stderr[-2000:]}")


def ensure_data(n_convs: int, turns_per_conv: int, n_files: int) -> None:
    if os.path.isdir(DATA):
        return
    code = (
        "import sys; sys.path.insert(0, {repo!r})\n"
        "from bench import build_spark\n"
        "from scotty_window_processor_spark.sources import synthesize_transcripts\n"
        "spark = build_spark('32'); spark.sparkContext.setLogLevel('ERROR')\n"
        "df = synthesize_transcripts(spark, n_convs={n}, turns_per_conv={t}, n_hot_convs=4, hot_factor=50)\n"
        # event-time ordered files so the watermark advances across triggers
        "df.orderBy('ts').coalesce({f}).write.mode('overwrite').parquet({data!r})\n"
    ).format(repo=REPO, n=n_convs, t=turns_per_conv, f=n_files, data=DATA)
    subprocess.run([sys.executable, "-c", code], env=dict(os.environ), check=True, timeout=1800)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=20000)
    ap.add_argument("--turns-per-conv", type=int, default=200)
    ap.add_argument("--n-files", type=int, default=64)
    ap.add_argument("--low", type=int, default=4)
    ap.add_argument("--high", type=int, default=16)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--mfpt", type=int, default=16, help="maxFilesPerTrigger")
    ap.add_argument("--provider", default="", choices=["", "rocksdb"],
                    help="state store provider override")
    args = ap.parse_args()

    ensure_data(args.n_convs, args.turns_per_conv, args.n_files)
    low = run_at(args.low, args.repeats, args.mfpt, args.provider)
    high = run_at(args.high, args.repeats, args.mfpt, args.provider)
    factor = args.high / args.low
    efficiency = (high["turns_per_sec"] / low["turns_per_sec"]) / factor
    result = {"low": low, "high": high, "scaling_efficiency": round(efficiency, 3),
              "mfpt": args.mfpt, "provider": args.provider or "hdfs(default)"}
    print(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()

"""Extra per-query benchmarks for the optimization round (guide §1).

NOT part of the frozen driver contract — bench.py stays the measured
surface. This harness exists to:

- time individual queries in isolation, min-of-N, with the same session
  configuration as bench.py (build+count methodology identical);
- optionally time through the noop sink (guide §1.4) so the computation
  of EVERY column is measured, not the count-pruned subtree;
- dump .explain("formatted") for selected queries into a directory.

Usage:
  python bench_extra.py --queries session_30m,sliding_1h_15m \
      --repeat 3 [--noop] [--explain /tmp/scotty_plans --suffix _before]
  python bench_extra.py --all --repeat 1
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain", default="")
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()

    from bench import build_spark, warm_up

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if args.all:
        names = [n for n in qs if not n.startswith("stream_")]
    else:
        names = [n for n in args.queries.split(",") if n]

    warm_up(spark, SF_DIR)

    out = {}
    for name in names:
        samples = []
        for i in range(args.repeat):
            spark.sparkContext.setJobDescription(f"{name} [{i}]")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = qs[name](spark, SF_DIR)
            jvm = df.sparkSession._jvm
            mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            plan = df._jdf.queryExecution().explainString(mode)
            with open(f"{args.explain}/{name}{args.suffix}.txt", "w") as f:
                f.write(plan)
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "results": out}))


if __name__ == "__main__":
    main()

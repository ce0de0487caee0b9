"""Run the benchmark once per seed and report each end-to-end metric's
median and quartile spread ((Q3 − Q1) / median) per workload.

    python3 perfbench/spread.py --workloads stream_open_loop --seeds 1-10 \
        --seconds 17 --out spread.json

Runs are sequential, each in its own process, from the checkout root; the
workloads alternate seed by seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def _seeds(text: str):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True, help="comma-separated names")
    ap.add_argument("--seeds", required=True, help="a range such as 1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    runs = {}
    # workloads alternate, so a slow spell of the machine hits each alike
    for seed in _seeds(args.seeds):
        for workload in args.workloads.split(","):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=os.path.dirname(HERE), capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            runs.setdefault(workload, []).append(
                {"seed": seed, "wall_s": time.time() - t0, "result": res}
            )
            status = "ok" if res and res["correct"] else f"FAILED (exit {proc.returncode})"
            print(f"{workload} seed {seed}: {status}, {time.time() - t0:.1f} s", flush=True)

    for workload, rs in runs.items():
        good = [r["result"] for r in rs if r["result"]]
        print(f"\n{workload}: {len(good)}/{len(rs)} runs, wall median "
              f"{statistics.median(r['wall_s'] for r in rs):.1f} s")
        if len(good) < 2:
            continue
        for name in good[0]["metrics"]:
            vals = [g["metrics"][name]["value"] for g in good]
            spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
            print(f"  {name:24s} median {statistics.median(vals):14.3f}  spread {spread:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

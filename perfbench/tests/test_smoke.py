"""End-to-end smoke tests of the benchmark command (Spark, tiny inputs).

Run with: python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ["batch_shared_windows", "batch_kernel_rollup", "stream_open_loop"]
# batch_kernel_rollup stays runnable but is not in BENCHMARK.json (see README)
LISTED = ["batch_shared_windows", "stream_open_loop"]


def _run(args, cwd=ROOT, timeout=170):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _results(stdout):
    lines = stdout.splitlines()
    # stdout carries only metric lines and one JSON result per workload
    assert all(l.startswith("metric ") or l.startswith("{") for l in lines), lines
    for l in lines:
        if l.startswith("metric "):
            name, value, unit, n = l.split()[1:]
            float(value)
            assert n.startswith("n=")
    return [json.loads(l) for l in lines if l.startswith("{")]


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_runs_every_workload(trace):
    proc = _run(["--workload", "all", "--smoke", "--seed", "5", "--seconds", "2",
                 "--trace", str(trace)])
    assert proc.returncode == 0, proc.stderr[-3000:]
    results = _results(proc.stdout)
    assert len(results) == len(WORKLOADS)
    wanted = PER_LAYER if trace else END_TO_END
    for res in results:
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0, res
        assert res["attempted"] >= 1
        assert set(res["metrics"]) == set(wanted)
        for name, m in res["metrics"].items():
            assert m["unit"] == wanted[name]
            assert isinstance(m["value"], float)
    if not trace:
        assert all(r["metrics"]["turns_per_s"]["value"] > 0 for r in results)


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == LISTED
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run(["--workload", "batch_shared_windows", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=str(tmp_path), timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""

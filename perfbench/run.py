"""Benchmark of the windowed-aggregation engine.

    python3 perfbench/run.py --workload batch_shared_windows --seed 7 \
        --seconds 17 --trace 0

Runs from the root of a source checkout on ``local[<cores - 1>]`` in one
driver process. Every input is generated from ``--seed`` by
``sources.synthesize_transcripts``; outputs are checked against an
independent recomputation outside the timed region. Standard output carries
only ``metric <name> <value> <unit> n=<samples>`` lines and, last, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Spark logs and progress go to standard error.

``--smoke`` shrinks every input so all workloads (``--workload all``) run
end to end in well under a minute; the benchmark's own tests use it.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_shared_windows", "batch_kernel_rollup", "stream_open_loop")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    args = ap.parse_args(argv)
    if args.workload == "all" and not args.smoke:
        ap.error("--workload all is only for --smoke")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def _cores() -> int:
    """Task slots: one core fewer than the process may use, so the JVM's
    own threads (driver, collector, compiler) and the benchmark's threads
    (generator, memory sampler) do not preempt a task: a preempted task
    stretches its whole stage. On 4 cores, 3 slots ran the shared-windows
    query faster (0.65 s against 0.95 s) and with less scatter than 4."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def _driver_heap_mb() -> int:
    """A quarter of the machine's memory, capped at 2 GiB: the inputs
    are sized in tens of MB, and the machine is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return max(512, min(2048, total_kb // 1024 // 4))


def start_session(work: str, trace: bool):
    """SparkSession confined to ``work``: temp files, shuffle spill, the
    warehouse and the state store all stay inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # in case the default was read before
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata, which a JVM writes to /tmp whatever java.io.tmpdir
    # says: not from the launcher JVM of spark-submit, nor from the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the engine from the checkout, as the Spark driver does
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    cores = _cores()
    heap_mb = _driver_heap_mb()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        # a fixed-size heap: a heap that grows during the run makes queries
        # speed up for minutes as collections get rarer. Touched up front,
        # so its resident size does not depend on how far the collector
        # got through it
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb}m "
                "-XX:+AlwaysPreTouch")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        # the local status API backs the traced run's stage metrics
        .config("spark.ui.enabled", "true" if trace else "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker ended."""
    from pyspark import SparkContext

    from procmon import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                traceback.print_exc(file=sys.stderr)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 20
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while descendants(os.getpid()) and time.time() < deadline + 10:
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            time.sleep(0.1)


def main(argv=None) -> int:
    args = _parse(argv)
    # Everything a library prints (the JVM inherits this fd too) goes to
    # stderr; only the lines written to ``out`` reach stdout.
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        if not os.path.isdir(os.path.join(ROOT, "scotty_window_processor_spark")):
            raise ImportError("no scotty_window_processor_spark directory")
        import scotty_window_processor_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    trace_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    t_main = time.perf_counter()
    results = []
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        print(f"perfbench: session start {session_s:.1f} s, {t0 - t_main:.1f} s after launch",
              file=sys.stderr)
        for name in names:
            results.append(
                workloads.run(name, spark, args.seed, args.seconds, bool(args.trace),
                              args.smoke, session_s, work, trace_dir)
            )
            session_s = 0.0  # later workloads of a smoke run share the session
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: stop {time.perf_counter() - t_stop:.1f} s, "
              f"total {time.perf_counter() - t_main:.1f} s", file=sys.stderr)

    for res in results:
        for name, m in res.metrics.items():
            out.write(f"metric {res.workload}.{name} {m['value']!r} {m['unit']} n={m['n']}\n")
        out.write(json.dumps(res.summary()) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())

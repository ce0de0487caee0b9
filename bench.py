"""Benchmark harness. Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "throughput": {...}, "parallelism": N}

Headline queries over $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], plus a transcripts windowed-aggregation
throughput probe (turns/sec — the BASELINE.json metric).

Scaling evidence (north_rule: ≥0.8 efficiency between N and 4N executors)
is produced by scripts/run_scaling.py, which re-runs the flagship job at
local[8] and local[32] in separate processes and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def build_spark(cpus: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scotty-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # keep all cores fed after AQE coalescing
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", cpus)
        # big Arrow batches: the Arrow IPC pipe is the pandas-tier floor
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def transcripts_throughput(spark, n_convs: int = 2000, turns_per_conv: int = 200):
    """Flagship engine workload: multi-window shared aggregation over
    synthesized transcripts; returns (seconds, turns, windows)."""
    from pyspark.sql import functions as F

    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import (
        SessionWindow,
        TumblingWindow,
        WindowMeasure,
    )
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
    from scotty_window_processor_spark.sources import synthesize_transcripts

    df = synthesize_transcripts(
        spark, n_convs=n_convs, turns_per_conv=turns_per_conv, n_hot_convs=4, hot_factor=50
    ).withColumn("is_tool_call", F.col("tool").isNotNull().cast("double"))
    df = df.persist()
    n_turns = df.count()

    t0 = time.time()
    out = scotty_window_aggregate(
        df, key="conv_id", ts="ts", value="is_tool_call",
        windows=[
            TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
            TumblingWindow(WindowMeasure.TIME, 3_600_000, window_id=2),
            SessionWindow(WindowMeasure.TIME, 300_000, window_id=3),
        ],
        aggs=[("turns", "long", CountAggregation), ("tool_calls", "double", SumAggregation)],
        lateness_ms=30_000,
    )
    n_windows = out.count()
    dt = time.time() - t0
    df.unpersist()
    return dt, n_turns, n_windows


def time_shared_vs_buckets(spark, df, windows, force_slicing=False, verify=False):
    """Shared methodology for the concurrent-windows comparison (used by
    the bench line below AND scripts/run_window_sweep.py — one
    implementation so the two can't drift): time the same aggregation
    through (a) the engine (optionally forcing the shared-slice tier past
    the cost-based chooser) and (b) one Catalyst groupBy(F.window)
    subplan per window, unioned (bucket-per-window).

    With verify=True the two results are compared per window instance by
    a distributed full-outer join: keys + counts must match exactly,
    double sums within relative 1e-8 (the arms fold doubles in different
    orders) — no driver-side collect.
    Returns (shared_sec, buckets_sec, n_windows_emitted)."""
    from pyspark.sql import functions as F

    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    aggs = [("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)]

    def assert_equivalent(a, b):
        # the two arms fold doubles in different orders, so sum_value can
        # differ in the last ulps — a rounded-hash equality flakes whenever
        # a value straddles a rounding boundary. Compare per instance under
        # a relative tolerance instead (full outer join catches missing /
        # extra instances too).
        keys = ["user_id", "window_id", "w_start", "w_end"]
        j = a.select(
            *keys, F.col("n").alias("n_a"), F.col("sum_value").alias("s_a")
        ).join(
            b.select(*keys, F.col("n").alias("n_b"), F.col("sum_value").alias("s_b")),
            keys,
            "full_outer",
        )
        bad = j.where(
            F.col("n_a").isNull()
            | F.col("n_b").isNull()
            | (F.col("n_a") != F.col("n_b"))
            | (
                F.abs(F.col("s_a") - F.col("s_b"))
                > F.greatest(F.lit(1.0), F.abs(F.col("s_a"))) * 1e-8
            )
        ).count()
        assert bad == 0, f"tier outputs differ on {bad} window instances"

    t0 = time.time()
    shared_df = scotty_window_aggregate(
        df, key="user_id", ts="ts", value="value", windows=windows, aggs=aggs,
        prefer_catalyst=not force_slicing,
    )
    shared_build = time.time() - t0
    t0 = time.time()
    n_shared = shared_df.count()
    shared_sec = time.time() - t0

    # the bucket arm's W-subplan construction + union is driver-side work
    # a bucket-per-window user pays per query — timed separately so the
    # report can show execution and planning costs without conflating them
    t0 = time.time()
    parts = [
        scotty_window_aggregate(df, key="user_id", ts="ts", value="value",
                                windows=[w], aggs=aggs)
        for w in windows
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionAll(p)
    buckets_build = time.time() - t0
    t0 = time.time()
    n_union = union.count()
    buckets_sec = time.time() - t0

    if verify:
        assert_equivalent(shared_df, union)
    else:
        assert n_shared == n_union, (n_shared, n_union)
    return {
        "shared_sec": shared_sec, "buckets_sec": buckets_sec,
        "shared_build_sec": shared_build, "buckets_build_sec": buckets_build,
        "windows_emitted": n_shared,
    }


def concurrent_windows_tiers(spark, n_windows: int = 16):
    """Reference benchmark shape (random_tumbling_benchmark.json: 1-1000
    concurrent windows): N tumbling windows over events, timed through
    (a) the shared-shuffle vectorized tier (the cost-based default past 3
    families) and (b) the Catalyst tier forced per-family (one unioned
    groupBy(F.window) subplan each). Returns (tier2_sec, tier1_sec)."""
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    windows = [
        TumblingWindow(WindowMeasure.TIME, (i + 1) * 900_000, window_id=i)
        for i in range(n_windows)
    ]
    r = time_shared_vs_buckets(spark, ev, windows)
    return r["shared_sec"], r["buckets_sec"]


def streaming_probe(spark, n_convs: int = 300, turns_per_conv: int = 100, n_files: int = 12,
                    shuffle_partitions: str = "8", state_store: str = None,
                    available_now: bool = False, collect_durations: bool = False,
                    queryname: str = "bench_stream_out"):
    """Streaming flagship probe: transcripts replayed as one file per
    micro-batch through the stateful slicing operator. Reports operator
    throughput and EMISSION LATENCY percentiles (BASELINE.json metric):
    for each emitted window, latency = emit wall-clock minus the trigger
    start of the first micro-batch whose event-time watermark passed the
    window end — i.e. how long after a window became emittable the
    operator actually emitted it.

    Floor-decomposition knobs (scripts/run_latency_floor.py):
    ``shuffle_partitions`` sizes the per-batch state-store fan-in;
    ``state_store`` overrides the provider (e.g. RocksDB);
    ``available_now`` uses Trigger.AvailableNow instead of
    processAllAvailable; ``collect_durations`` returns the per-batch
    durationMs breakdown (addBatch / walCommit / commitOffsets / ...)."""
    import shutil
    import tempfile
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import SessionWindow, TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.sources import synthesize_transcripts, transcripts_schema
    from scotty_window_processor_spark.streaming.processor import scotty_stream

    from pyspark.sql import functions as F

    src = tempfile.mkdtemp(prefix="scotty_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="scotty_stream_ckpt_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_store = None
    try:
        pdf = (
            synthesize_transcripts(spark, n_convs=n_convs, turns_per_conv=turns_per_conv,
                                   n_hot_convs=2, hot_factor=10)
            .withColumn("is_tool", F.col("tool").isNotNull().cast("double"))
            .toPandas().sort_values("ts")
        )
        n_rows = len(pdf)
        chunk = (n_rows + n_files - 1) // n_files
        for i in range(n_files):
            part = pdf.iloc[i * chunk : (i + 1) * chunk]
            if len(part):
                tbl = pa.Table.from_pandas(part, preserve_index=False)
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("ts"), "ts",
                    tbl.column("ts").cast(pa.timestamp("us")),
                )
                tmp = f"{src}/.tmp-{i:04d}"
                pq.write_table(tbl, tmp)
                import os as _os
                _os.rename(tmp, f"{src}/{i:04d}.parquet")

        # state tasks = shuffle partitions; at probe scale 64 state-store
        # tasks per micro-batch is pure fixed overhead, so pin a small
        # number for this query only (read at query START) and restore
        # (finally-guarded: a failed probe must not leak 8 partitions into
        # the rest of the bench session)
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
        prev_store = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        if state_store is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", state_store)
        schema = transcripts_schema().add("is_tool", "double")
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        result = scotty_stream(
            stream, key="conv_id", ts="ts", value="is_tool",
            windows=[
                TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
                SessionWindow(WindowMeasure.TIME, 300_000, window_id=3),
            ],
            aggs=[("turns", "long", CountAggregation), ("tool_calls", "double", SumAggregation)],
            watermark_delay="30 seconds", lateness_ms=30_000,
        )
        t0 = time.time()
        writer = (
            result.writeStream.format("memory").queryName(queryname)
            .option("checkpointLocation", ckpt).outputMode("append")
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        else:
            q = writer.start()
            q.processAllAvailable()
        wall = time.time() - t0

        def iso_ms(s):
            return int(datetime.fromisoformat(s.replace("Z", "+00:00"))
                       .astimezone(timezone.utc).timestamp() * 1000)

        batches = []  # (trigger_start_ms, watermark_ms)
        durations = {}
        state_ms = {}
        for p in q.recentProgress:
            wm = (p.get("eventTime") or {}).get("watermark")
            if wm:
                batches.append((iso_ms(p["timestamp"]), iso_ms(wm)))
            if collect_durations:
                for k, v in (p.get("durationMs") or {}).items():
                    durations.setdefault(k, []).append(v)
                for so in p.get("stateOperators") or []:
                    for k in ("commitTimeMs", "allUpdatesTimeMs", "allRemovalsTimeMs"):
                        if k in so:
                            state_ms.setdefault(k, []).append(so[k])
        q.stop()
        batches.sort()
        out = spark.table(queryname).select("w_end", "emit_ts").collect()
        lats = []
        for r in out:
            eligible = next((start for start, wm in batches if wm > r["w_end"]), None)
            if eligible is not None and r["emit_ts"] >= eligible:
                lats.append(r["emit_ts"] - eligible)
        lats.sort()
        pct = lambda p: lats[min(len(lats) - 1, int(p * len(lats)))] if lats else None
        res = {
            "stream_turns": n_rows,
            "windows_emitted": len(out),
            "micro_batches": len(batches),
            "wall_sec": round(wall, 3),
            "turns_per_sec": round(n_rows / wall, 1),
            "emit_latency_p50_ms": pct(0.50),
            "emit_latency_p99_ms": pct(0.99),
        }
        if collect_durations:
            res["duration_ms_mean"] = {
                k: round(sum(v) / len(v), 1) for k, v in durations.items() if v
            }
            res["state_ms_mean"] = {
                k: round(sum(v) / len(v), 1) for k, v in state_ms.items() if v
            }
        return res
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if state_store is not None:
            if prev_store is not None:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev_store
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def warm_up(spark, sf_dir: str = SF_DIR):
    """Start what belongs to the session, not to the first query timed:
    the JVM/codegen and the parquet footers, then the batch slicer (the
    Python worker pool, the package import in the workers and the first
    ``mapInArrow``), run once on a tiny frame. Without that run, the first
    slicer gate in ``queries()`` order carries about 1 s of session
    start."""
    from pyspark.sql import functions as F

    from scotty_window_processor_spark.functions import SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    tiny = spark.range(int(CPUS) * 100).select(
        (F.col("id") % int(CPUS)).alias("k"),
        F.col("id").cast("timestamp").alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    scotty_window_aggregate(
        tiny, key="k", ts="ts", value="v",
        windows=[TumblingWindow(WindowMeasure.COUNT, 10)],
        aggs=[("s", "double", SumAggregation)],
    ).count()


def main():
    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # every queries() entry is timed — a regression anywhere on the gate
    # surface shows up here (streaming-replay entries excluded: the
    # micro-batch scheduling floor is measured by streaming_probe instead)
    headline = [name for name in qs if not name.startswith("stream_")]

    warm_up(spark)

    timings = {}
    for name in headline:
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        n = df.count()  # materialize the full plan
        timings[name] = round(time.time() - t0, 3)

    dt, n_turns, n_windows = transcripts_throughput(spark)
    timings["transcripts_multiwindow"] = round(dt, 3)

    tier2_sec, tier1_sec = concurrent_windows_tiers(spark)
    # production path (shared shuffle) counts toward the total; the forced
    # Catalyst union is the comparison baseline only
    timings["windows16_shared_shuffle"] = round(tier2_sec, 3)

    streaming = streaming_probe(spark)
    timings["streaming_probe"] = streaming["wall_sec"]

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    result = {
        "metric": "headline-query wall time + transcript windowed-agg throughput + streaming p99 emission latency",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "throughput": {
            "transcript_turns": n_turns,
            "windows_emitted": n_windows,
            "turns_per_sec": round(n_turns / dt, 1),
        },
        "streaming": streaming,
        "concurrent_windows_16": {
            "shared_shuffle_sec": round(tier2_sec, 3),
            "catalyst_union_sec": round(tier1_sec, 3),
            "speedup": round(tier1_sec / tier2_sec, 2) if tier2_sec else None,
        },
        "parallelism": int(CPUS),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()

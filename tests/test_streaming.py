"""Structured Streaming end-to-end tests: the stateful slicing operator on
a file stream, the exactly-once sink, and checkpoint resume.
"""

import glob
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
from scotty_window_processor_spark.sources import synthesize_transcripts, transcripts_schema
from scotty_window_processor_spark.streaming.processor import scotty_stream
from scotty_window_processor_spark.streaming.sink import ExactlyOnceParquetSink

from spark_fixtures import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def transcript_files(spark, tmp_path_factory):
    """Transcripts split into 6 parquet files in event-time order, so the
    watermark advances across micro-batches."""
    base = tmp_path_factory.mktemp("stream_src")
    df = synthesize_transcripts(
        spark, n_convs=12, turns_per_conv=40, n_hot_convs=1, hot_factor=5,
        disorder_pct=10, straggler_pct=0,
    )
    pdf = df.toPandas().sort_values("ts")
    n = len(pdf)
    chunk = (n + 5) // 6
    for i in range(6):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        if len(part):
            tbl = pa.Table.from_pandas(part, preserve_index=False)
            # pandas ns-timestamps -> us so Spark's reader accepts the column
            tbl = tbl.set_column(
                tbl.schema.get_field_index("ts"), "ts",
                tbl.column("ts").cast(pa.timestamp("us")),
            )
            pq.write_table(tbl, str(base / f"{i:04d}.parquet"))
    return str(base), pdf


WINDOWS = lambda: [
    TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
    SessionWindow(WindowMeasure.TIME, 300_000, window_id=3),
]
AGGS = [("turns", "long", CountAggregation), ("tool_calls", "double", SumAggregation)]


def _read_stream(spark, src_dir, files_per_trigger=1):
    return (
        spark.readStream.schema(transcripts_schema())
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src_dir)
    )


def test_stream_matches_batch_for_closed_windows(spark, transcript_files, tmp_path):
    src_dir, pdf = transcript_files
    stream = _read_stream(spark, src_dir)
    result = scotty_stream(
        stream, key="conv_id", ts="ts", value="turn_idx",
        windows=WINDOWS(), aggs=[("turns", "long", CountAggregation)],
        watermark_delay="30 seconds", lateness_ms=30_000,
    )
    q = (
        result.writeStream.format("memory").queryName("stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["conv_id"], r["window_id"], r["w_start"], r["w_end"], r["turns"])
        for r in spark.table("stream_out").collect()
    }
    assert got, "stream emitted nothing"

    # batch reference over the same rows
    batch_df = spark.read.parquet(src_dir)
    batch = scotty_window_aggregate(
        batch_df, key="conv_id", ts="ts", value="turn_idx",
        windows=WINDOWS(), aggs=[("turns", "long", CountAggregation)],
        lateness_ms=30_000,
    )
    final_wm = int(pdf["ts"].max().value // 10**6) - 30_000
    expected = {
        (r["conv_id"], r["window_id"], r["w_start"], r["w_end"], r["turns"])
        for r in batch.collect()
        if r["w_end"] < final_wm  # only windows the stream's watermark closed
    }
    missing = expected - got
    assert not missing, f"stream missed {len(missing)} closed windows: {sorted(missing)[:5]}"
    # every streamed window closed before the final watermark must equal batch
    got_closed = {g for g in got if g[3] < final_wm}
    extra = got_closed - expected
    assert not extra, f"stream emitted wrong windows: {sorted(extra)[:5]}"


def test_exactly_once_sink_with_restart(spark, transcript_files, tmp_path):
    """Kill the query mid-stream, restart from the checkpoint, assert no
    duplicate or missing windows and consistent lineage manifests."""
    src_all, pdf = transcript_files
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    files = sorted(glob.glob(os.path.join(src_all, "*.parquet")))

    def deliver(f, seq):
        # atomic rename + strictly increasing mtime: the file source orders
        # by (modTime, path), and non-atomic copies can be picked up
        # partially / out of order — out-of-order file arrival is
        # beyond-lateness data and genuinely loses rows (same semantics as
        # the reference's beyond-maxLateness regime)
        tmp_name = os.path.join(src_dir, "._" + os.path.basename(f))
        dst = os.path.join(src_dir, os.path.basename(f))
        shutil.copy(f, tmp_name)
        os.utime(tmp_name, (1_700_000_000 + seq, 1_700_000_000 + seq))
        os.rename(tmp_name, dst)

    # phase 1: first 3 files
    for i, f in enumerate(files[:3]):
        deliver(f, i)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sink = ExactlyOnceParquetSink(out_dir)

    def start():
        stream = _read_stream(spark, src_dir)
        result = scotty_stream(
            stream, key="conv_id", ts="ts", value="turn_idx",
            windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)],
            aggs=[("turns", "long", CountAggregation)],
            watermark_delay="30 seconds", lateness_ms=30_000,
        )
        return (
            result.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()  # "crash" after phase 1

    rows_phase1 = sink.read_committed(spark).count()

    # phase 2: remaining files arrive; restart from the same checkpoint
    for i, f in enumerate(files[3:]):
        deliver(f, 3 + i)
    q = start()
    q.processAllAvailable()
    q.stop()

    final = sink.read_committed(spark)
    rows = final.select("conv_id", "window_id", "w_start", "w_end", "turns").collect()
    keys = [(r[0], r[1], r[2], r[3]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate windows after restart"
    assert final.count() >= rows_phase1

    # lineage manifests cover every batch directory, counts consistent
    lineage = sink.lineage()
    assert lineage, "no lineage manifests"
    total = sum(m["rows"] for m in lineage)
    assert total == final.count()
    # lineage is per-PARTITION: each manifest lists its committed files,
    # and the per-file rows sum to the batch total
    for m in lineage:
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
        assert all(p["file"] and "/" not in p["file"] for p in m["partitions"])
        if m["rows"]:
            assert m["min_w_start"] == min(p["min_w_start"] for p in m["partitions"])

    # append-mode emission is final-only: each closed window appears once
    # and matches the batch recompute for closed windows
    batch = scotty_window_aggregate(
        spark.read.parquet(src_dir), key="conv_id", ts="ts", value="turn_idx",
        windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)],
        aggs=[("turns", "long", CountAggregation)], lateness_ms=30_000,
    )
    final_wm = int(pdf["ts"].max().value // 10**6) - 30_000
    expected = {
        (r["conv_id"], r["window_id"], r["w_start"], r["w_end"], r["turns"])
        for r in batch.collect() if r["w_end"] < final_wm
    }
    got = {
        (r["conv_id"], r["window_id"], r["w_start"], r["w_end"], r["turns"]) for r in rows
    }
    assert expected <= got, f"missing {len(expected - got)} closed windows after restart"


def test_stream_stream_interval_join(spark, transcript_files, tmp_path):
    """Watermarked stream-stream interval join: tool-call ↔ tool-result."""
    from scotty_window_processor_spark.streaming.join import tool_call_result_join

    src_dir, _ = transcript_files
    stream = _read_stream(spark, src_dir, files_per_trigger=3)
    joined = tool_call_result_join(stream, max_gap_seconds=120)
    q = (
        joined.writeStream.format("memory").queryName("join_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_join"))
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.table("join_out").collect()
    assert got, "stream-stream join produced no pairs"
    # one-to-one pairing: each tool turn appears at most once
    pairs = [(r["conv_id"], r["result_turn"]) for r in got]
    assert len(pairs) == len(set(pairs)), "pairing is not one-to-one"
    assert all(r["result_turn"] == r["call_turn"] + 1 for r in got)
    assert all(r["call_tool"] is not None for r in got)

    # batch equivalent over the same files
    batch = spark.read.parquet(src_dir)
    calls = batch.where(F.col("role") != "tool").select(
        F.col("conv_id"), F.col("turn_idx").alias("call_turn"), F.col("ts").alias("call_ts"))
    results = batch.where(F.col("role") == "tool").select(
        F.col("conv_id").alias("r_conv"), F.col("turn_idx").alias("result_turn"), F.col("ts").alias("result_ts"))
    expected = (
        calls.join(results,
            (F.col("conv_id") == F.col("r_conv"))
            & (F.col("result_turn") == F.col("call_turn") + 1)
            & (F.col("result_ts") >= F.col("call_ts"))
            & (F.col("result_ts") <= F.col("call_ts") + F.expr("INTERVAL 120 SECONDS")))
        .count()
    )
    # streaming inner interval join emits pairs as both sides arrive; with
    # all data within watermark reach it must equal the batch join
    assert len(got) == expected


def test_pickle_fallback_for_custom_aggregate(spark, transcript_files, tmp_path):
    """A custom lift/combine/lower function (exact quantile) is not
    typed-state eligible — it must route through the pickled-kernel state
    cell and still match the batch kernel recompute."""
    from scotty_window_processor_spark.functions import QuantileAggregation
    from scotty_window_processor_spark.streaming.processor import typed_state_eligible

    aggs = [("turns", "long", CountAggregation), ("med", "double", QuantileAggregation)]
    windows = [TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)]
    assert not typed_state_eligible(windows, aggs, "turn_idx")

    src_dir, pdf = transcript_files
    result = scotty_stream(
        _read_stream(spark, src_dir, files_per_trigger=2), key="conv_id", ts="ts",
        value="turn_idx", windows=windows, aggs=aggs,
        watermark_delay="30 seconds", lateness_ms=30_000,
    )
    q = (
        result.writeStream.format("memory").queryName("pickle_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_pickle"))
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["conv_id"], r["w_start"], r["w_end"], r["turns"], r["med"])
        for r in spark.table("pickle_out").collect()
    }
    assert got, "pickle-state stream emitted nothing"

    batch = scotty_window_aggregate(
        spark.read.parquet(src_dir), key="conv_id", ts="ts", value="turn_idx",
        windows=windows, aggs=aggs, lateness_ms=30_000,
    )
    final_wm = int(pdf["ts"].max().value // 10**6) - 30_000
    expected = {
        (r["conv_id"], r["w_start"], r["w_end"], r["turns"], r["med"])
        for r in batch.collect() if r["w_end"] < final_wm
    }
    assert expected - got == set(), f"missing {len(expected - got)}"


def test_dynamic_window_addition_via_checkpoint_restart(spark, transcript_files, tmp_path):
    """Dynamic window addition, streaming layer: restart the query from the
    same checkpoint with an EXTENDED window list. The typed state schema
    depends only on the aggregate functions, so the restored kernel picks
    up its slices/sessions and the new window starts triggering from the
    restored watermark — the same visibility semantics as the reference's
    mid-stream addWindowAssigner (new windows only see data from the add
    point; TumblingWindowOperatorTest.java:96-145 is the kernel-level
    port)."""
    src_all, pdf = transcript_files
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    files = sorted(glob.glob(os.path.join(src_all, "*.parquet")))

    def deliver(f, seq):
        tmp_name = os.path.join(src_dir, "._" + os.path.basename(f))
        dst = os.path.join(src_dir, os.path.basename(f))
        shutil.copy(f, tmp_name)
        os.utime(tmp_name, (1_700_000_000 + seq, 1_700_000_000 + seq))
        os.rename(tmp_name, dst)

    ckpt = str(tmp_path / "ckpt_dyn")
    out_dir = str(tmp_path / "out_dyn")
    sink = ExactlyOnceParquetSink(out_dir)

    def start(windows):
        result = scotty_stream(
            _read_stream(spark, src_dir), key="conv_id", ts="ts", value="turn_idx",
            windows=windows, aggs=[("turns", "long", CountAggregation)],
            watermark_delay="30 seconds", lateness_ms=30_000,
        )
        return (
            result.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt).outputMode("append").start()
        )

    for i, f in enumerate(files[:3]):
        deliver(f, i)
    q = start([TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)])
    q.processAllAvailable()
    q.stop()
    phase1 = sink.read_committed(spark).collect()
    phase1_batches = {m["batch_id"] for m in sink.lineage()}
    wm_restart = max(r["w_end"] for r in phase1)  # watermark is past this

    for i, f in enumerate(files[3:]):
        deliver(f, 3 + i)
    q = start([
        TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
        TumblingWindow(WindowMeasure.TIME, 1_800_000, window_id=2),  # added mid-stream
    ])
    q.processAllAvailable()
    q.stop()
    all_rows = sink.read_committed(spark).collect()
    phase1_keys = {(r["conv_id"], r["window_id"], r["w_start"]) for r in phase1}
    phase2 = [r for r in all_rows
              if (r["conv_id"], r["window_id"], r["w_start"]) not in phase1_keys]

    # the original window keeps emitting with no dupes across the restart
    w1 = [r for r in [*phase1, *phase2] if r["window_id"] == 1]
    keys = [(r["conv_id"], r["w_start"]) for r in w1]
    assert len(keys) == len(set(keys)), "window 1 duplicated across restart"

    # the added window emits, and matches batch for instances fully after
    # the restart watermark (earlier instances legitimately see only
    # retained slices — reference add-mid-stream visibility)
    w2 = [r for r in phase2 if r["window_id"] == 2]
    assert w2, "added window never emitted"
    batch = scotty_window_aggregate(
        spark.read.parquet(src_dir), key="conv_id", ts="ts", value="turn_idx",
        windows=[TumblingWindow(WindowMeasure.TIME, 1_800_000, window_id=2)],
        aggs=[("turns", "long", CountAggregation)], lateness_ms=30_000,
    )
    final_wm = int(pdf["ts"].max().value // 10**6) - 30_000
    expected = {
        (r["conv_id"], r["w_start"], r["w_end"], r["turns"])
        for r in batch.collect() if r["w_start"] >= wm_restart and r["w_end"] < final_wm
    }
    got_full = {
        (r["conv_id"], r["w_start"], r["w_end"], r["turns"])
        for r in w2 if r["w_start"] >= wm_restart and r["w_end"] < final_wm
    }
    assert expected == got_full, (
        f"added window wrong for post-restart instances: missing "
        f"{len(expected - got_full)}, extra {len(got_full - expected)}"
    )


def test_live_window_addition_via_registry(spark, transcript_files, tmp_path):
    """Dynamic window addition on a RUNNING query (no restart): the query
    reads its window list through a registry file (streaming.registry);
    registry_add_window while the query is live makes every key's kernel
    pick the window up on its next invocation — the reference's
    addWindow-on-a-live-operator (WindowManager.java:124-143), expressed
    as a Spark control-plane file instead of a driver method call."""
    from scotty_window_processor_spark.streaming.registry import (
        registry_add_window,
        write_registry,
    )

    src_all, pdf = transcript_files
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    files = sorted(glob.glob(os.path.join(src_all, "*.parquet")))

    def deliver(f, seq):
        tmp_name = os.path.join(src_dir, "._" + os.path.basename(f))
        dst = os.path.join(src_dir, os.path.basename(f))
        shutil.copy(f, tmp_name)
        os.utime(tmp_name, (1_700_000_000 + seq, 1_700_000_000 + seq))
        os.rename(tmp_name, dst)

    registry = str(tmp_path / "windows.json")
    write_registry(registry, [])
    ckpt = str(tmp_path / "ckpt_live")
    out_dir = str(tmp_path / "out_live")
    sink = ExactlyOnceParquetSink(out_dir)

    for i, f in enumerate(files[:3]):
        deliver(f, i)
    result = scotty_stream(
        _read_stream(spark, src_dir), key="conv_id", ts="ts", value="turn_idx",
        windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)],
        aggs=[("turns", "long", CountAggregation)],
        watermark_delay="30 seconds", lateness_ms=30_000,
        window_registry=registry, registry_poll_s=0.0,
    )
    q = (
        result.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        phase1 = sink.read_committed(spark).collect()
        assert all(r["window_id"] == 1 for r in phase1)
        wm_add = max(r["w_end"] for r in phase1)  # watermark is past this

        # the query KEEPS RUNNING across the add
        registry_add_window(
            registry, TumblingWindow(WindowMeasure.TIME, 1_800_000, window_id=2)
        )
        for i, f in enumerate(files[3:]):
            deliver(f, 3 + i)
        q.processAllAvailable()
    finally:
        q.stop()

    all_rows = sink.read_committed(spark).collect()
    phase1_keys = {(r["conv_id"], r["window_id"], r["w_start"]) for r in phase1}
    phase2 = [r for r in all_rows
              if (r["conv_id"], r["window_id"], r["w_start"]) not in phase1_keys]

    # the original window keeps emitting with no dupes across the add
    w1 = [r for r in [*phase1, *phase2] if r["window_id"] == 1]
    keys = [(r["conv_id"], r["w_start"]) for r in w1]
    assert len(keys) == len(set(keys)), "window 1 duplicated across live add"

    # the added window emits, and matches batch for instances fully after
    # the add watermark (earlier instances legitimately see only retained
    # slices — reference add-mid-stream visibility)
    w2 = [r for r in phase2 if r["window_id"] == 2]
    assert w2, "live-added window never emitted"
    batch = scotty_window_aggregate(
        spark.read.parquet(src_dir), key="conv_id", ts="ts", value="turn_idx",
        windows=[TumblingWindow(WindowMeasure.TIME, 1_800_000, window_id=2)],
        aggs=[("turns", "long", CountAggregation)], lateness_ms=30_000,
    )
    final_wm = int(pdf["ts"].max().value // 10**6) - 30_000
    expected = {
        (r["conv_id"], r["w_start"], r["w_end"], r["turns"])
        for r in batch.collect() if r["w_start"] >= wm_add and r["w_end"] < final_wm
    }
    got_full = {
        (r["conv_id"], r["w_start"], r["w_end"], r["turns"])
        for r in w2 if r["w_start"] >= wm_add and r["w_end"] < final_wm
    }
    assert expected == got_full, (
        f"live-added window wrong for post-add instances: missing "
        f"{len(expected - got_full)}, extra {len(got_full - expected)}"
    )


def test_registry_rejects_count_measure_and_duplicate_ids(tmp_path):
    from scotty_window_processor_spark.streaming.registry import (
        read_registry,
        registry_add_window,
        window_from_spec,
        window_to_spec,
        write_registry,
    )

    path = str(tmp_path / "reg.json")
    with pytest.raises(ValueError, match="TIME-measure"):
        write_registry(path, [TumblingWindow(WindowMeasure.COUNT, 10, window_id=1)])
    with pytest.raises(ValueError, match="window_id"):
        write_registry(path, [TumblingWindow(WindowMeasure.TIME, 10)])

    write_registry(path, [TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)])
    registry_add_window(path, SessionWindow(WindowMeasure.TIME, 300_000, window_id=2))
    with pytest.raises(ValueError, match="already registered"):
        registry_add_window(path, TumblingWindow(WindowMeasure.TIME, 5, window_id=2))

    got = read_registry(path, poll_interval_s=0.0)
    assert [w.window_id for w in got] == [1, 2]
    assert isinstance(got[1], SessionWindow) and got[1].gap == 300_000
    # round-trip covers the sliding spec too
    s = SlidingWindow(WindowMeasure.TIME, 100, 25, window_id=7)
    assert window_from_spec(window_to_spec(s)).slide == 25


def test_stream_metrics_recorder(spark, transcript_files, tmp_path):
    """Per-micro-batch metrics land as atomic JSON files: input rows sum
    to the delivered turns, state-operator rows and watermark progress are
    present, and (query id, batch id) keys are unique."""
    import time as _t

    from scotty_window_processor_spark.streaming.metrics import StreamMetricsRecorder

    src_dir, pdf = transcript_files
    rec = StreamMetricsRecorder(str(tmp_path / "metrics"))
    spark.streams.addListener(rec)
    try:
        result = scotty_stream(
            _read_stream(spark, src_dir), key="conv_id", ts="ts", value="turn_idx",
            windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)],
            aggs=[("turns", "long", CountAggregation)],
            watermark_delay="30 seconds", lateness_ms=30_000,
        )
        q = (
            result.writeStream.format("memory").queryName("metrics_probe")
            .option("checkpointLocation", str(tmp_path / "ckpt_metrics"))
            .outputMode("append").start()
        )
        q.processAllAvailable()
        q.stop()
        # listener callbacks are asynchronous: poll until the recorded
        # input rows cover everything the query consumed
        for _ in range(150):
            if sum(r["numInputRows"] for r in rec.records()) >= len(pdf):
                break
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(rec)

    recs = rec.records()
    assert sum(r["numInputRows"] for r in recs) == len(pdf)
    assert any(
        op["numRowsTotal"] > 0 for r in recs for op in r["stateOperators"]
    ), "no state-operator metrics recorded"
    assert any((r["eventTime"] or {}).get("watermark") for r in recs)
    # per state operator: Spark's late-row drops, the update/removal/commit
    # times and the state store's own metrics are kept
    ops = [op for r in recs for op in r["stateOperators"]]
    for op in ops:
        for k in ("numRowsDroppedByWatermark", "allUpdatesTimeMs", "allRemovalsTimeMs",
                  "commitTimeMs"):
            assert isinstance(op[k], int), (k, op)
        assert isinstance(op["customMetrics"], dict)
    assert any(op["customMetrics"] for op in ops)
    keys = [(r["id"], r["batchId"]) for r in recs]
    assert len(keys) == len(set(keys))


def test_multichunk_group_arrival_order(spark, tmp_path):
    """A key whose micro-batch spans MULTIPLE Arrow chunks must behave as
    one sorted batch: chunks arrive in arrival order, so per-chunk
    sorting/seeding would treat a later chunk's earlier timestamps as
    beyond-watermark late data on the key's first batch (rows silently
    dropped). Rows are written in REVERSE event-time order and the Arrow
    batch size is pinned tiny so one group = many chunks."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 400
    pdf = pd.DataFrame({
        "conv_id": ["k"] * n,
        "ts": pd.to_datetime([1_000_000 + 1_000 * i for i in range(n)], unit="ms"),
        "v": [float(i) for i in range(n)],
    }).iloc[::-1]  # arrival order = reverse event time
    sent = pdf.iloc[:1].copy()
    sent["conv_id"] = "zzz_sentinel"
    sent["ts"] = pdf["ts"].max() + pd.Timedelta(days=1)
    src = str(tmp_path / "src"); os.makedirs(src)
    for i, part in enumerate([pdf, sent]):
        tbl = pa.Table.from_pandas(part, preserve_index=False)
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts",
                             tbl.column("ts").cast(pa.timestamp("us")))
        pq.write_table(tbl, f"{src}/{i:04d}.parquet")
        os.utime(f"{src}/{i:04d}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        stream = (
            spark.readStream.schema(spark.createDataFrame(pdf).schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        result = scotty_stream(
            stream, key="conv_id", ts="ts", value="v",
            windows=[TumblingWindow(WindowMeasure.TIME, 60_000, window_id=1)],
            aggs=[("n", "long", CountAggregation), ("s", "double", SumAggregation)],
            watermark_delay="1 second", lateness_ms=1_000,
        )
        ckpt = str(tmp_path / "ckpt")
        q = (result.writeStream.format("memory").queryName("multichunk_out")
             .option("checkpointLocation", ckpt).outputMode("append").start())
        q.processAllAvailable()
        q.stop()
        got = {
            (r["w_start"], r["w_end"]): (r["n"], r["s"])
            for r in spark.table("multichunk_out").where(F.col("conv_id") == "k").collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    # batch truth: 400 rows over 400s -> 60s tumbling windows, all full
    total_n = sum(n_ for n_, _ in got.values())
    total_s = sum(s_ for _, s_ in got.values())
    assert total_n == n, f"rows lost across Arrow chunks: {total_n}/{n}"
    assert total_s == sum(range(n))


def test_registry_concurrent_adds_serialize(tmp_path):
    """Concurrent registry_add_window calls must not lose windows (the
    read-modify-write serializes under the registry lock)."""
    import threading

    from scotty_window_processor_spark.streaming.registry import (
        read_registry,
        registry_add_window,
        write_registry,
    )

    path = str(tmp_path / "registry.json")
    write_registry(path, [])
    errs = []

    def add(i):
        try:
            registry_add_window(
                path, TumblingWindow(WindowMeasure.TIME, (i + 1) * 60_000, window_id=100 + i)
            )
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    threads = [threading.Thread(target=add, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    got = {w.window_id for w in read_registry(path, poll_interval_s=0)}
    assert got == {100 + i for i in range(8)}, got

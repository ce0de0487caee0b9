"""The three workloads. Each one: set up (session already started by the
caller), time for ``seconds``, check outputs, and in the traced run
measure the layers it exercises. See perfbench/README.md for why these
three and which metric each layer should move."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
import traceback
import zlib
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

from pyspark.sql import functions as F

from scotty_window_processor_spark.functions import (
    CountAggregation,
    MeanAggregation,
    RoleTextRollupString,
    SumAggregation,
    ToolTallyString,
)
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
from scotty_window_processor_spark.sources import synthesize_transcripts
from scotty_window_processor_spark.streaming.processor import scotty_stream
from scotty_window_processor_spark.streaming.sink import write_stream_exactly_once

import oracles
from metrics import PER_LAYER, SPAN_LAYERS, Result
from procmon import PeakRssSampler
from stats import (
    OpenLoopGenerator,
    fixed_rate_count,
    median,
    microbatch_latency_samples,
    pushing_file_index,
)
from tracing import Tracer

TIME = WindowMeasure.TIME
MIN = 60_000

# the paper's headline shape: many concurrent time windows of three
# families over one value column, standard aggregates
SHARED_WINDOWS = [
    TumblingWindow(TIME, MIN, window_id=1),
    TumblingWindow(TIME, 5 * MIN, window_id=2),
    TumblingWindow(TIME, 60 * MIN, window_id=3),
    SlidingWindow(TIME, 10 * MIN, MIN, window_id=4),
    SessionWindow(TIME, MIN, window_id=5),
]
STANDARD_AGGS = [
    ("n", "long", CountAggregation),
    ("sum_words", "double", SumAggregation),
    ("mean_words", "double", MeanAggregation),
]
# record mode: count windows need record buffers and the payload
# aggregates have no Catalyst or numpy form, so every key runs through the
# Python slicing kernel. No time-tumbling family: mixed with count windows
# the kernel drops elements from some windows (see perfbench/README.md),
# which the gate would report on most seeds.
ROLLUP_WINDOWS = [
    SessionWindow(TIME, MIN, window_id=1),
    SessionWindow(TIME, 5 * MIN, window_id=2),
    TumblingWindow(WindowMeasure.COUNT, 10, window_id=3),
    TumblingWindow(WindowMeasure.COUNT, 25, window_id=4),
]
ROLLUP_AGGS = [
    ("n", "long", CountAggregation),
    ("tools", "string", ToolTallyString),
    ("rollup", "string", RoleTextRollupString),
]
STREAM_WINDOWS = [
    TumblingWindow(TIME, MIN, window_id=1),
    TumblingWindow(TIME, 5 * MIN, window_id=2),
    SessionWindow(TIME, MIN, window_id=3),
]
BATCH_LATENESS_MS = 1000
STREAM_DELAY_MS = 30_000  # watermark delay = lateness; the input's disorder stays below it
MAX_DISORDER_MS = 25_000
DISORDER_SHARE = 0.08
STREAM_SCHEMA = "conv_id string, ts timestamp, value double"

WARMUP_MIN = {False: 6, True: 0}  # smoke runs skip the warm-up
# warm-up ends when the median of the last three queries is no more than
# WARMUP_STEADY below the median of the three before: times keep falling
# for several queries, and two single queries scatter too much to show it
WARMUP_MAX, WARMUP_STEADY = 10, 0.9
GATE_KEYS = 24


@dataclass
class Size:
    n_convs: int
    turns: int
    hot_factor: int


SIZES = {
    # full: 0.6-0.8 s per query on 3 task slots, so a 17 s run holds over 20
    False: {"batch_shared_windows": Size(700, 100, 40),
            "batch_kernel_rollup": Size(400, 100, 10),
            "stream_open_loop": Size(0, 100, 3)},
    True: {"batch_shared_windows": Size(60, 20, 5),
           "batch_kernel_rollup": Size(40, 20, 5),
           "stream_open_loop": Size(0, 20, 3)},
}
STREAM_ROWS_PER_FILE = {False: 1000, True: 150}
# One fixed offered rate, below what the engine sustains. On 3 task slots
# each file costs two micro-batches of 1.5-2.8 s: the one that reads it and
# the no-data one its watermark advance triggers, which emits its windows.
# A file every 6 s therefore finds the engine idle, and latency is those
# two micro-batches. At one every 5 s the engine would be busy 96 % of
# the time, so a slightly slow micro-batch would make the next file queue.
# No drop is due in the last DRAIN_TAIL_S of the run, so the last file
# commits within the run: a 17 s run drops 3 files, at 0, 6 and 12 s, and
# the last has 5 s to commit.
STREAM_INTERVAL_S = {False: 6.0, True: 1.0}
DRAIN_TAIL_S = 5.0
# Files run through the query and drained before the schedule starts
# (smoke runs skip the warm-up). After only one, micro-batches still got
# faster through the timed phase, by up to a third.
STREAM_WARM_FILES = {False: 2, True: 0}


def _words(text_col):
    """Words per turn (the bracketed turn tag excluded): an integer-valued
    double, so sums are exact in every tier."""
    return (F.size(F.split(text_col, " ")) - 1).cast("double")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _ms(iso: str) -> int:
    return int(datetime.fromisoformat(iso.replace("Z", "+00:00"))
               .astimezone(timezone.utc).timestamp() * 1000)


class Ctx:
    def __init__(self, name, spark, seed, seconds, trace, smoke, session_s, work):
        self.name, self.spark, self.seed, self.seconds = name, spark, seed, seconds
        self.trace, self.smoke, self.session_s = trace, smoke, session_s
        self.work = os.path.join(work, name)
        os.makedirs(self.work, exist_ok=True)
        self.tracer = Tracer(trace)
        self.res = Result(name, trace)
        self.size = SIZES[smoke][name]


def run(name, spark, seed, seconds, trace, smoke, session_s, work, trace_dir) -> Result:
    ctx = Ctx(name, spark, seed, seconds, trace, smoke, session_s, work)
    if name == "stream_open_loop":
        _stream(ctx)
    else:
        _batch(ctx)
    res = ctx.res
    res.put("ops_failed_frac", res.failed / max(1, res.attempted), res.attempted)
    if trace:
        for metric in PER_LAYER:  # layers this workload does not exercise
            res.metrics.setdefault(metric, {"value": 0.0, "unit": PER_LAYER[metric], "n": 0})
        self_s = ctx.tracer.self_times()
        for layer in SPAN_LAYERS:
            res.put(f"self_s.{layer}", sum(v for k, v in self_s.items()
                                           if k.split(".")[0] == layer))
        os.makedirs(trace_dir, exist_ok=True)
        ctx.tracer.dump(os.path.join(trace_dir, f"trace-{name}-seed{seed}.json"))
    return res


# -- batch ------------------------------------------------------------------


def _batch_input(ctx):
    s = ctx.size
    df = synthesize_transcripts(ctx.spark, n_convs=s.n_convs, turns_per_conv=s.turns,
                                n_hot_convs=2, hot_factor=s.hot_factor, seed=ctx.seed)
    if ctx.name == "batch_shared_windows":
        df = df.select("conv_id", "ts", _words(F.col("text")).alias("value"))
    return df.persist()


def _generate(ctx, make):
    """Generate the input once, materialised; returns (make()'s result,
    generation seconds)."""
    t0 = time.perf_counter()
    with ctx.tracer.span("sources.synth"):
        made = make()
    synth_s = time.perf_counter() - t0
    log(f"{ctx.name} input generation {synth_s:.2f} s")
    return made, synth_s


def _batch(ctx):
    spark, tr, res = ctx.spark, ctx.tracer, ctx.res
    shared = ctx.name == "batch_shared_windows"
    windows, aggs = (SHARED_WINDOWS, STANDARD_AGGS) if shared else (ROLLUP_WINDOWS, ROLLUP_AGGS)
    value = "value" if shared else None

    def make():
        df = _batch_input(ctx)
        return df, df.count()

    (df, turns), synth_s = _generate(ctx, make)

    def build():
        return scotty_window_aggregate(df, "conv_id", "ts", value, windows, aggs,
                                       lateness_ms=BATCH_LATENESS_MS)

    def query(group=None):
        """One whole query: plan build + action; (seconds, plan seconds).
        A ``group`` tags its Spark jobs and records its spans."""
        traced = Tracer(False) if group is None else tr
        if group is not None:
            spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        with traced.span("scotty_batch.plan", trace=group):
            out = build()
        t1 = time.perf_counter()
        with traced.span("exchange.action", trace=group):
            out.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        if group is not None:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return t2 - t0, t1 - t0

    t_warm = time.perf_counter()
    warm = []
    while WARMUP_MIN[ctx.smoke] and len(warm) < WARMUP_MAX:
        warm.append(query()[0])
        if (len(warm) >= WARMUP_MIN[ctx.smoke]
                and median(warm[-3:]) >= WARMUP_STEADY * median(warm[-6:-3])):
            break
    warm_s = time.perf_counter() - t_warm
    log(f"{ctx.name} warm-up query s: {[round(t, 2) for t in warm]}")
    res.put("setup_s", ctx.session_s + synth_s + warm_s)
    res.put("sources.synth_s", synth_s)

    # timed phase: whole queries (plan build + action) until `seconds`
    times, plans, traced, untraced, groups = [], [], [], [], []
    with PeakRssSampler(os.getpid()) as rss:
        t_end = time.perf_counter() + ctx.seconds
        while True:
            res.attempted += 1
            group = None
            if ctx.trace and len(times) % 2 == 1:  # traced and untraced reps alternate
                group = f"perfbench-q{len(times)}"
            try:
                q_s, plan_s = query(group)
            except Exception:
                traceback.print_exc()
                res.fail()
                q_s = plan_s = None
            if q_s is not None:
                times.append(q_s)
                plans.append(plan_s)
                if group is not None:
                    traced.append(q_s)
                    groups.append(group)
                else:
                    untraced.append(q_s)
            if time.perf_counter() >= t_end:
                break
    if not times:
        raise RuntimeError(f"{ctx.name}: every query failed")
    res.put("turns_per_s", turns / median(times), len(times))
    res.put("emit_latency_p50_ms", median(times) * 1000.0, len(times))
    res.put("peak_rss_mb", rss.peak / 2**20, rss.samples)
    log(f"peak memory MB: JVM {rss.peak_parts[0] / 2**20:.0f}, Python workers "
        f"{rss.peak_parts[1] / 2**20:.0f}")

    log(f"{ctx.name} timed query s: {[round(t, 2) for t in times]}")
    # correctness gate, outside the timed region
    res.attempted += 1
    t_gate = time.perf_counter()
    with tr.span("gate"):
        # keys are independent in the engine, so its output for sampled
        # keys alone is the output the full input gives them
        if shared:
            sampled = df.where(oracles.key_sample(ctx.seed, share=8))
            rows, bad = oracles.shared_windows_gate(
                sampled, scotty_window_aggregate(sampled, "conv_id", "ts", value, windows, aggs,
                                                 lateness_ms=BATCH_LATENESS_MS),
                windows, value)
        else:
            keys = oracles.sample_unique_ts_keys(df, ctx.seed, GATE_KEYS)
            sampled = df.where(F.col("conv_id").isin(keys))
            rows, bad = oracles.kernel_rollup_gate(
                sampled, scotty_window_aggregate(sampled, "conv_id", "ts", None, windows, aggs,
                                                 lateness_ms=BATCH_LATENESS_MS),
                windows, keys)
    log(f"{ctx.name} gate: {bad} mismatching of {rows} rows, {time.perf_counter() - t_gate:.1f} s")
    if bad or rows == 0:
        res.fail()

    if ctx.trace:
        import probes

        out = build()
        res.put("scotty_batch.plan_ms", median(plans) * 1000.0, len(plans))
        res.put("trace.overhead_frac", median(traced) / median(untraced) - 1.0
                if traced and untraced else 0.0, len(traced))
        _put_probe(res, "plan shape", lambda: probes.plan_shape(out, len(windows)))
        _put_probe(res, "stage metrics", lambda: probes.stage_metrics(spark, groups), len(groups))
        _batch_layer_probes(ctx, probes, df, out, windows, aggs, shared)
    df.unpersist()


def _put_probe(res, what, probe, n=1):
    """Record a traced-run probe's metrics. A probe that fails (say, an
    engine helper it calls was renamed) is logged and its metrics read 0,
    so the traced run still reports every other layer."""
    try:
        stats = probe()
    except Exception:
        log(f"{what} probe failed; its metrics read 0")
        traceback.print_exc()
        return
    for k, v in stats.items():
        res.put(k, v, n)


def _batch_layer_probes(ctx, probes, df, out, windows, aggs, shared):
    res, tr = ctx.res, ctx.tracer
    if shared:
        n_buckets = int(res.metrics.get("plans.n_buckets", {}).get("value", 0)) or 1
        # bucket 0 of the engine's key exchange (Spark's hash partitioning
        # is Murmur3 of the key, i.e. F.hash)
        bucket = (
            df.where(F.pmod(F.hash("conv_id"), F.lit(n_buckets)) == 0)
            .select("conv_id", F.unix_millis("ts").alias("ts_ms"), "value")
            .toPandas()
        )
        with tr.span("vectorized_multi.probe"):
            _put_probe(res, "vectorized_multi", lambda: {
                "vectorized_multi.rows_per_s": probes.vectorized_probe(bucket, windows, aggs)})
        res.put("vectorized_multi.out_rows", out.count())
    else:
        keys = oracles.sample_unique_ts_keys(df, ctx.seed + 1, GATE_KEYS)
        rows = df.where(F.col("conv_id").isin(keys)).toPandas()
        groups = [g.sort_values("ts", kind="mergesort") for _, g in rows.groupby("conv_id")]
        with tr.span("kernel.probe"):
            _put_probe(res, "kernel",
                       lambda: probes.kernel_batch_probe(groups, windows, aggs, BATCH_LATENESS_MS),
                       len(groups))


# -- stream -----------------------------------------------------------------


def _stream_files(ctx, n_files, stage):
    """Synthesize the stream's transcripts (no beyond-lateness stragglers)
    and cut them into ``n_files`` parquet files in arrival order. Arrival
    is event time plus a bounded delay for a share of the turns, so files
    carry out-of-order rows yet no row is ever behind the watermark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    s = ctx.size
    total = n_files * STREAM_ROWS_PER_FILE[ctx.smoke]
    n_convs = max(4, (total - 2 * s.turns * s.hot_factor) // s.turns)
    pdf = (
        synthesize_transcripts(ctx.spark, n_convs=n_convs, turns_per_conv=s.turns, n_hot_convs=2,
                               hot_factor=s.hot_factor, seed=ctx.seed, straggler_pct=0)
        .select("conv_id", "turn_idx", "ts", _words(F.col("text")).alias("value"))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    ts_ms = pdf["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
    rng = np.random.default_rng(ctx.seed)
    late = rng.random(len(pdf)) < DISORDER_SHARE
    arrival = ts_ms + np.where(late, rng.integers(0, MAX_DISORDER_MS, len(pdf)), 0)
    order = np.argsort(arrival, kind="stable")
    pdf = pdf.iloc[order].drop(columns=["turn_idx"]).reset_index(drop=True)
    ts_ms = ts_ms[order]
    bounds = np.linspace(0, len(pdf), n_files + 1).astype(int)
    os.makedirs(stage, exist_ok=True)
    files, wm_after, rows, running_max = [], [], [], None
    for k in range(n_files):
        part = pdf.iloc[bounds[k]:bounds[k + 1]]
        tbl = pa.Table.from_pandas(part, preserve_index=False)
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts",
                             tbl.column("ts").cast(pa.timestamp("us")))
        path = os.path.join(stage, f"part-{k:05d}.parquet")
        pq.write_table(tbl, path)
        files.append(path)
        part_max = int(ts_ms[bounds[k]:bounds[k + 1]].max())
        running_max = part_max if running_max is None else max(running_max, part_max)
        wm_after.append(running_max - STREAM_DELAY_MS)
        rows.append(len(part))
    pdf["ts_ms"] = ts_ms
    pdf["file"] = np.repeat(np.arange(n_files), np.diff(bounds))
    return files, wm_after, rows, pdf


def _start_query(ctx, src, out, ckpt, sink_wrapper=None):
    stream = ctx.spark.readStream.schema(STREAM_SCHEMA).parquet(src)
    result = scotty_stream(stream, "conv_id", "ts", "value", STREAM_WINDOWS, STANDARD_AGGS,
                           watermark_delay=f"{STREAM_DELAY_MS // 1000} seconds",
                           lateness_ms=STREAM_DELAY_MS)
    sink, writer = write_stream_exactly_once(result, out, ckpt)
    if sink_wrapper is not None:
        writer = writer.foreachBatch(sink_wrapper(sink))
    return sink, writer.start()


def _committed_rows(progress, sink, by_ms=None):
    """Input rows of the micro-batches whose sink manifest was committed
    (by ``by_ms``, when given)."""
    commits = {m["batch_id"]: m["committed_at_ms"] for m in sink.lineage()}
    return sum(p["numInputRows"] for p in progress
               if p["batchId"] in commits and (by_ms is None or commits[p["batchId"]] <= by_ms))


def _wait_idle(q, timeout_s):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        st = q.status
        if not st["isTriggerActive"] and not st["isDataAvailable"] and q.lastProgress is not None:
            return True
        time.sleep(0.05)
    return False


def _drain(q, sink, turns, final_wm, timeout_s):
    """Wait until every row is committed and the micro-batch that runs
    with the final watermark (it emits the last file's windows) has
    committed too."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        progress = list(q.recentProgress)
        if progress and _committed_rows(progress, sink) >= turns:
            last = progress[-1]
            wm = (last.get("eventTime") or {}).get("watermark")
            committed = {m["batch_id"] for m in sink.lineage()}
            if wm and _ms(wm) >= final_wm and last["batchId"] in committed and _wait_idle(q, 1):
                return True
        time.sleep(0.05)
    return False


def _stream(ctx):
    spark, tr, res = ctx.spark, ctx.tracer, ctx.res
    interval = STREAM_INTERVAL_S[ctx.smoke]
    n_warm = STREAM_WARM_FILES[ctx.smoke]
    n_timed = fixed_rate_count(ctx.seconds, interval, DRAIN_TAIL_S)
    n_files = n_warm + n_timed
    stage = os.path.join(ctx.work, "stage")

    (files, wm_after, file_rows, pdf), synth_s = _generate(
        ctx, lambda: _stream_files(ctx, n_files, stage))
    turns = len(pdf)

    src = os.path.join(ctx.work, "src")
    out_dir = os.path.join(ctx.work, "out")
    os.makedirs(src)
    sink_calls = []

    def timed(sink):
        def call(batch_df, batch_id):
            t0 = time.perf_counter()
            sink(batch_df, batch_id)
            sink_calls.append((t0, time.perf_counter()))
        return call

    def drop(k):
        os.rename(files[k], os.path.join(src, os.path.basename(files[k])))

    # warm-up: the query starts, and the first files run through it one
    # at a time and are drained (the micro-batch that reads a file and the
    # one that emits its windows) before the schedule starts. Their windows
    # give no latency sample; the gate still checks them.
    t_warm = time.perf_counter()
    sink, q = _start_query(ctx, src, out_dir, os.path.join(ctx.work, "ckpt"),
                           timed if ctx.trace else None)
    _wait_idle(q, 60)
    for k in range(n_warm):
        drop(k)
        if not _drain(q, sink, sum(file_rows[:k + 1]), wm_after[k], timeout_s=90):
            q.stop()
            raise RuntimeError(f"warm-up file {k} did not drain")
    # the batches run so far (a progress event of an idle query already
    # carries the id of the next batch, so ids come from the sink)
    warm_last = max((m["batch_id"] for m in sink.lineage()), default=-1)
    sink_calls.clear()
    warm_s = time.perf_counter() - t_warm
    log(f"{ctx.name} warm-up stream {warm_s:.1f} s")
    res.put("setup_s", ctx.session_s + synth_s + warm_s)
    res.put("sources.synth_s", synth_s)

    gen = OpenLoopGenerator(n_timed, interval, lambda k: drop(n_warm + k))
    gen_thread = threading.Thread(target=gen.run, kwargs={"start": time.time() + 0.2}, name="generator")
    with PeakRssSampler(os.getpid()) as rss:
        t_run = time.perf_counter()
        with tr.span("processor.run"):
            gen_thread.start()
            gen_thread.join(timeout=ctx.seconds + 120)
            run_end_ms = (gen.start + ctx.seconds) * 1000.0
            time.sleep(max(0.0, run_end_ms / 1000.0 - time.time()))
            committed_by_end = _committed_rows(
                [p for p in q.recentProgress if p["batchId"] > warm_last], sink, run_end_ms)
            backlog = n_timed - int(np.searchsorted(np.cumsum(file_rows[n_warm:]), committed_by_end,
                                                    side="right"))
            drained = _drain(q, sink, turns, wm_after[-1], timeout_s=45)
        run_s = time.perf_counter() - t_run
    all_progress = list(q.recentProgress)
    q.stop()
    progress = [p for p in all_progress if p["batchId"] > warm_last]
    if not drained:
        log(f"stream did not drain: {_committed_rows(all_progress, sink)} of {turns} rows")
        res.fail()

    lineage = {m["batch_id"]: m for m in sink.lineage() if m["batch_id"] > warm_last}
    commits = {b: m["committed_at_ms"] for b, m in lineage.items()}
    res.attempted += len(all_progress) + 1  # micro-batches + the completeness check

    # emission latency, one sample per committed micro-batch
    emitted = spark.read.parquet(out_dir).toPandas()
    session_ids = {w.window_id for w in STREAM_WINDOWS if isinstance(w, SessionWindow)}
    origins = {}
    unexplained = 0
    for r in emitted[["batch_id", "window_id", "w_end"]].itertuples(index=False):
        f = pushing_file_index(wm_after, int(r.w_end), strict=r.window_id in session_ids)
        if f is None:
            unexplained += 1
        elif f >= n_warm:  # windows of the warm-up files give no sample
            origins.setdefault(int(r.batch_id), []).append(gen.due_ms[f - n_warm])
    samples = microbatch_latency_samples(commits, origins)
    log(f"stream latency samples ms: {[round(x) for x in samples]}; micro-batch ms: "
        f"{[p['durationMs'].get('triggerExecution') for p in all_progress]}; "
        f"rows: {[p['numInputRows'] for p in all_progress]}")
    if unexplained:
        log(f"{unexplained} emitted windows precede their watermark")
    last_commit = max(commits.values()) if commits else time.time() * 1000.0
    res.put("turns_per_s", _committed_rows(progress, sink) / ((last_commit - gen.due_ms[0]) / 1000.0),
            len(progress))
    res.put("emit_latency_p50_ms", median(samples) if samples else 0.0, len(samples))
    res.put("peak_rss_mb", rss.peak / 2**20, rss.samples)
    log(f"peak memory MB: JVM {rss.peak_parts[0] / 2**20:.0f}, Python workers "
        f"{rss.peak_parts[1] / 2**20:.0f}")
    res.put("stream.latency_samples", len(samples))
    res.put("stream.backlog_end_files", backlog)
    res.put("stream.generator_lag_ms_max", max(gen.lag_ms), len(gen.lag_ms))
    if backlog:
        log(f"{backlog} files dropped but not committed at the end of the run")

    # correctness gate: the sink against the batch path over the same rows
    final_wm = _ms(all_progress[-1]["eventTime"]["watermark"]) if drained else 0
    with tr.span("gate"):
        batch_rows = scotty_window_aggregate(
            spark.read.schema(STREAM_SCHEMA).parquet(src), "conv_id", "ts", "value",
            STREAM_WINDOWS, STANDARD_AGGS, lateness_ms=STREAM_DELAY_MS,
        ).toPandas()
        bad_batches, missing = oracles.stream_gate(emitted, batch_rows, final_wm)
    if bad_batches or missing or not samples:
        log(f"stream gate: {len(bad_batches)} wrong batches, {missing} closed "
            f"windows missing, {len(samples)} latency samples")
        res.fail(len(bad_batches) + (1 if missing else 0) + (0 if samples else 1))

    if ctx.trace:
        for t0, t1 in sink_calls:
            tr.add("sink.call", t0, t1, parent_name="processor.run")
        _stream_layer_metrics(ctx, progress, lineage, sink_calls, pdf, wm_after, n_files, run_s)


def _stream_layer_metrics(ctx, progress, lineage, sink_calls, pdf, wm_after, n_files, run_s):
    res, tr = ctx.res, ctx.tracer
    p50 = lambda v: float(statistics.median(v)) if v else 0.0
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    dur = [p["durationMs"] for p in progress]
    res.put("processor.add_batch_ms_p50", p50([d.get("addBatch", 0) for d in dur]), len(dur))
    res.put("processor.state_update_ms_p50", p50([o.get("allUpdatesTimeMs", 0) for o in ops]), len(ops))
    res.put("processor.state_commit_ms_p50", p50([o.get("commitTimeMs", 0) for o in ops]), len(ops))
    res.put("processor.state_rows", ops[-1].get("numRowsTotal", 0) if ops else 0)
    res.put("processor.state_bytes", ops[-1].get("memoryUsedBytes", 0) if ops else 0)
    res.put("processor.keys_removed", sum(o.get("numRowsRemoved", 0) for o in ops))
    res.put("stream.driver_ms_p50",
            p50([d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur]), len(dur))
    res.put("stream.batches", len(progress))
    res.put("sink.commit_ms_p50", p50([(b - a) * 1000.0 for a, b in sink_calls]), len(sink_calls))
    res.put("sink.files_per_batch", p50([m["files_total"] for m in lineage.values()]), len(lineage))
    # the stream has no untraced twin to compare with: overhead is the
    # tracer's own bookkeeping time over the run time
    res.put("trace.overhead_frac", tr.bookkeeping_s / run_s if run_s > 0 else 0.0)

    keys = sorted(pdf["conv_id"].unique(),
                  key=lambda k: (not k.startswith("hotconv_"), zlib.crc32(f"{ctx.seed}:{k}".encode())))
    keys = keys[:GATE_KEYS]
    groups = [
        [g[g["file"] == f] for f in range(n_files)]
        for _, g in pdf[pdf["conv_id"].isin(keys)].groupby("conv_id")
    ]
    import probes

    with tr.span("kernel.probe"):
        _put_probe(res, "stream handler", lambda: probes.stream_handler_probe(
            groups, wm_after, "conv_id", "ts", "value", STREAM_WINDOWS, STANDARD_AGGS,
            STREAM_DELAY_MS), len(groups))

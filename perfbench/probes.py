"""Per-layer measurements made from outside the engine (traced run only).

- ``stage_metrics``: Spark's stage and task metrics for tagged job groups,
  read from the local status API (the UI is enabled in the traced run);
- ``plan_shape``: bucket count and tier per window family, read from the
  physical plan of a built DataFrame;
- ``vectorized_probe`` / ``kernel_batch_probe`` / ``stream_handler_probe``:
  single-threaded calls of the engine's own per-key (or per-bucket)
  functions on driver-held samples of the workload's own input. Counters
  wrap the kernel's and the state codec's functions for the probe's
  duration, so the engine's code runs unchanged.

The workloads import this module only in the traced run.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from typing import Dict, Iterable, Sequence

import pandas as pd

from scotty_window_processor_spark.operators.kernel import SlicingWindowOperator


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def stage_metrics(spark, groups: Iterable[str]) -> Dict[str, float]:
    """Medians over the given job groups (one group per traced query) of:
    shuffle bytes written, executor time of the Python stage (the stage
    reading the key exchange), and that stage's task skew (max ÷ median
    task executor time)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    per_group = {g: [] for g in groups}
    for j in jobs:
        if j.get("jobGroup") in per_group:
            per_group[j["jobGroup"]].extend(j["stageIds"])
    written, busy, skew = [], [], []
    for stage_ids in per_group.values():
        if not stage_ids:
            continue
        wbytes, py_stage = 0, None
        for sid in sorted(set(stage_ids)):
            for att in _get(f"{base}/stages/{sid}"):
                if att["status"] != "COMPLETE":
                    continue
                wbytes += att["shuffleWriteBytes"]
                if att["shuffleReadBytes"] > 0 and (
                    py_stage is None or att["executorRunTime"] > py_stage["executorRunTime"]
                ):
                    py_stage = att
        written.append(wbytes)
        if py_stage is not None:
            busy.append(py_stage["executorRunTime"] / 1000.0)
            tasks = _get(
                f"{base}/stages/{py_stage['stageId']}/{py_stage['attemptId']}/taskList?length=100000"
            )
            run = [t["taskMetrics"]["executorRunTime"] for t in tasks
                   if t.get("status") == "SUCCESS" and t.get("taskMetrics")]
            med = statistics.median(run) if run else 0
            skew.append(max(run) / med if med > 0 else 1.0)
    med = lambda v: float(statistics.median(v)) if v else 0.0
    return {
        "exchange.shuffle_write_bytes": med(written),
        "exchange.python_stage_busy_s": med(busy),
        "exchange.task_skew": med(skew),
    }


def plan_shape(out_df, n_windows: int) -> Dict[str, float]:
    """Bucket count of the key exchange and families per tier, from the
    physical plan. The planner routes a call's families to one Python tier
    or to per-family Catalyst subplans, so the tier follows from which
    Python operator the plan holds."""
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"hashpartitioning\([^()]*(?:\([^()]*\)[^()]*)*,\s*(\d+)\)", plan)
    vec = n_windows if "MapInArrow" in plan else 0
    ker = n_windows if "FlatMapGroupsInPandas" in plan else 0
    return {
        "plans.n_buckets": float(m.group(1)) if m else 0.0,
        "scotty_batch.families_vectorized": float(vec),
        "scotty_batch.families_kernel": float(ker),
        "scotty_batch.families_catalyst": float(n_windows - vec - ker),
    }


def _repeat_for(fn, min_s: float = 0.5, min_iters: int = 3) -> float:
    """Seconds per call of ``fn``, repeated for at least ``min_s``."""
    iters, t0 = 0, time.perf_counter()
    while iters < min_iters or time.perf_counter() - t0 < min_s:
        fn()
        iters += 1
    return (time.perf_counter() - t0) / iters


def vectorized_probe(bucket: pd.DataFrame, windows, aggs) -> float:
    """Rows per second of ``vectorized_multi.multikey_rows`` on one
    driver-held bucket (columns conv_id, ts_ms, value), single-threaded."""
    from scotty_window_processor_spark.plans.vectorized_multi import multikey_rows

    b = bucket.sort_values(["conv_id", "ts_ms"], kind="mergesort")
    codes = pd.factorize(b["conv_id"])[0].astype("int64")
    ts = b["ts_ms"].to_numpy(dtype="int64")
    vals = b["value"].to_numpy(dtype="float64")
    make = lambda: [factory() for _, _, factory in aggs]
    per_call = _repeat_for(lambda: multikey_rows(codes, ts, vals, windows, make))
    return len(b) / per_call


class _Counters:
    """While active, wraps ``SlicingWindowOperator.process_in_order_bulk``
    and ``process_watermark`` at class level, and the state codec's
    ``encode_op`` / ``decode_op`` at module level, to count the elements
    the bulk path takes, the slices an operator holds at each watermark,
    the windows emitted, and the codec's calls and seconds."""

    def __enter__(self):
        from scotty_window_processor_spark.streaming import state_codec

        cls, counters = SlicingWindowOperator, self
        self._saved = (cls.process_in_order_bulk, cls.process_watermark,
                       state_codec.encode_op, state_codec.decode_op)
        bulk, watermark, encode, decode = self._saved
        self.reset()

        def process_in_order_bulk(op, values, ts_arr, *args, **kwargs):
            counters.bulk += len(ts_arr)
            return bulk(op, values, ts_arr, *args, **kwargs)

        def process_watermark(op, watermark_ts, *args, **kwargs):
            counters.key_slices = max(counters.key_slices, len(op.store))
            out = watermark(op, watermark_ts, *args, **kwargs)
            counters.windows += sum(1 for w in out if w.has_value)
            return out

        def encode_op(op, kinds):
            t0 = time.perf_counter()
            enc = encode(op, kinds)
            counters.encode_s += time.perf_counter() - t0
            counters.encoded_slices.append(len(enc[2]))
            return enc

        def decode_op(op, kinds, *state):
            t0 = time.perf_counter()
            decode(op, kinds, *state)
            counters.decode_s += time.perf_counter() - t0
            counters.decodes += 1

        cls.process_in_order_bulk, cls.process_watermark = process_in_order_bulk, process_watermark
        state_codec.encode_op, state_codec.decode_op = encode_op, decode_op
        return self

    def __exit__(self, *exc):
        from scotty_window_processor_spark.streaming import state_codec

        cls = SlicingWindowOperator
        (cls.process_in_order_bulk, cls.process_watermark,
         state_codec.encode_op, state_codec.decode_op) = self._saved

    def reset(self):
        self.bulk = self.windows = self.decodes = 0
        self.encode_s = self.decode_s = 0.0
        self.encoded_slices = []
        self.key_slices, self.slices = 0, []

    def end_key(self):
        """Record the largest slice count the finished key's operator held."""
        self.slices.append(self.key_slices)
        self.key_slices = 0


def _kernel_stats(replay, elements: int):
    """Repeats ``replay(counters)``; returns the kernel metrics and the
    counters, whose counts are those of the last repetition. Time spent in the state codec
    is not kernel time and is left out of ``kernel.elements_per_s``."""
    with _Counters() as c:
        per_call = _repeat_for(lambda: (c.reset(), replay(c)))
        codec_s = c.encode_s + c.decode_s
    keys = max(1, len(c.slices))
    return {
        "kernel.elements_per_s": elements / max(1e-9, per_call - codec_s),
        "kernel.bulk_share": c.bulk / max(1, elements),
        "kernel.slices_per_key": sum(c.slices) / keys,
        "kernel.windows_per_key": c.windows / keys,
    }, c


def kernel_batch_probe(groups: Sequence[pd.DataFrame], windows, aggs, lateness_ms: int) -> Dict[str, float]:
    """The kernel tier's per-key function (``scotty_batch._kernel_run``),
    single-threaded, on sampled keys. Each group holds one key's rows with
    every input column, sorted by event time, and is handed over as the
    tier's bucket function hands it: a dict of column lists."""
    from scotty_window_processor_spark.plans.scotty_batch import _final_watermark, _kernel_run

    keys = []
    for g in groups:
        ts_ms = g["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
        final_wm = _final_watermark(int(ts_ms[-1]), windows, lateness_ms)
        keys.append(({c: g[c].tolist() for c in g.columns}, ts_ms, final_wm))

    def replay(c):
        for data, ts_ms, final_wm in keys:
            _kernel_run(data, ts_ms, None, windows, aggs, lateness_ms, final_wm)
            c.end_key()

    stats, _ = _kernel_stats(replay, sum(len(k[1]) for k in keys))
    return stats


class _GroupState:
    """The part of pyspark's ``GroupState`` the stream handler uses, for
    one key replayed on the driver."""

    def __init__(self):
        self.value, self.timeout, self.watermark = None, None, 0

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts

    def getCurrentWatermarkMs(self):
        return self.watermark


def stream_handler_probe(groups: Sequence[Sequence[pd.DataFrame]], wm_after: Sequence[int],
                         key: str, ts: str, value: str, windows, aggs,
                         lateness_ms: int) -> Dict[str, float]:
    """The streaming operator's per-key function (``processor.make_handler``),
    single-threaded, on sampled keys. A key's rows come one chunk per input
    file; the chunk of file f runs under the watermark left by file f - 1,
    as when each micro-batch takes one file, and the key's event-time timer
    fires when the watermark reaches it. A last call with the final
    watermark flushes the key. Reports the kernel metrics (codec time left
    out) and the state codec's cost per encoded or decoded key state."""
    from pyspark.sql import types as T

    from scotty_window_processor_spark.streaming.processor import make_handler, output_schema

    fields = [f.name for f in output_schema(key, T.StringType(), aggs).fields]
    marks = [0] + list(wm_after)  # the watermark each file's micro-batch runs under
    keys = []
    for chunks in groups:
        name = next(ch[key].iloc[0] for ch in chunks if len(ch))
        keys.append((name, [ch[[key, ts, value]] for ch in chunks]))
    flush = keys[0][1][0].iloc[:0]  # no rows: the call under the final watermark

    def replay(c):
        # built inside the counters, so the handler binds the wrapped codec
        handler = make_handler(key, ts, value, windows, aggs, lateness_ms, fields)
        for name, chunks in keys:
            state = _GroupState()
            for f, chunk in enumerate(chunks + [flush]):
                state.watermark = marks[f]
                fired = state.exists and state.timeout is not None and state.timeout < marks[f]
                if len(chunk) or fired:
                    for _ in handler((name,), iter([chunk]), state):
                        pass
            c.end_key()

    stats, c = _kernel_stats(replay, sum(len(ch) for _, chunks in keys for ch in chunks))
    encodes = max(1, len(c.encoded_slices))
    stats.update({
        "state_codec.encode_us_per_key": c.encode_s / encodes * 1e6,
        "state_codec.decode_us_per_key": c.decode_s / max(1, c.decodes) * 1e6,
        "state_codec.slices_per_key": sum(c.encoded_slices) / encodes,
    })
    return stats

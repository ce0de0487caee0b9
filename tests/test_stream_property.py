"""Generated parity of the stream operator against brute force, without
Spark: keyed rows with bounded disorder are cut into micro-batches in
arrival order and driven through ``processor.make_handler`` under a model
of Spark's micro-batch rules. The union of emitted rows must equal the
windows that ``tests/test_vectorized_slicing._brute_force`` recomputes one
at a time from each key's rows, with nothing emitted twice and no row
dropped as late. The windows are tumbling and sliding time windows (also
with a size that is not a multiple of the slide), sessions, and count
tumbling and sliding windows.

The model (one map task per micro-batch, one input stream):

- the map-side pass stamps every row with the running max event time of
  the rows its task had read, per Arrow batch of ``arrow_rows`` rows
  (``processor.STAMP_COL``);
- micro-batch ``N`` runs under watermark ``W_N``; each key with rows gets
  one call with all of them, then each key whose event-time timeout is
  below ``W_N`` and that had no rows gets a timer-only call;
- ``W_{N+1} = max(W_N, max_N − d)``; after the last data batch one
  no-data batch runs under the new watermark ``W_end``, and a final flush
  raises the watermark past every window (``scotty_batch._final_watermark``).

The rows emitted by the end of the no-data batch must be exactly the
windows a firing at ``W_end`` closes: a key must not fire ahead of the
watermark Spark sets, nor leave a window that watermark closed for a
later batch.

Rows arrive at most ``d − 1`` ms after a row with a larger event time, so
every row lies above the watermark any earlier micro-batch set.
"""

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import example, given, settings, strategies as st

import numpy as np
import pandas as pd

from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
from scotty_window_processor_spark.plans.scotty_batch import _final_watermark
from scotty_window_processor_spark.streaming.processor import STAMP_COL, make_handler

from test_stream_frontier import AGGS, BASE, DELAY, SEC, Counter, FakeGroupState
from test_vectorized_slicing import _brute_force

FIELDS = ["k", "window_id", "measure", "w_start", "w_end", "emit_ts", "n", "total"]
ROW = ["window_id", "measure", "w_start", "w_end", "n", "total"]


def run_stream(keys, ts, values, batch_sizes, arrow_rows, windows):
    """Drive the handler over rows given in arrival order. Returns the
    rows emitted by the end of the no-data batch and after the final
    flush, each as {(key, window_id, measure, w_start, w_end): (n, total)},
    the windows emitted more than once, the late-row count and ``W_end``."""
    late = Counter()
    handler = make_handler("k", "ts", "value", windows, AGGS, DELAY, FIELDS,
                           watermark_delay_ms=DELAY, late_rows=late)
    states, emitted, dupes = {}, {}, []

    def call(key, pdf, wm):
        st_ = states.setdefault(key, FakeGroupState())
        st_.wm = wm
        for out in handler((key,), iter([pdf] if pdf is not None else []), st_):
            for r in out[["k"] + ROW].itertuples(index=False):
                wkey, agg = tuple(r[:5]), (int(r[5]), float(r[6]))
                if wkey in emitted:
                    dupes.append(wkey)
                emitted[wkey] = agg

    def timers(wm, had_rows=()):
        for key in sorted(states):
            s = states[key]
            if key not in had_rows and s.exists and s.timeout is not None and s.timeout < wm:
                call(key, None, wm)

    wm, lo = 0, 0
    for size in batch_sizes:
        hi = min(len(ts), lo + size)
        if hi == lo:
            break
        b_ts = ts[lo:hi]
        chunk_max = np.maximum.reduceat(b_ts, np.arange(0, len(b_ts), arrow_rows))
        stamp = np.repeat(np.maximum.accumulate(chunk_max), arrow_rows)[: len(b_ts)]
        frame = pd.DataFrame({"k": keys[lo:hi], "ts": pd.to_datetime(b_ts, unit="ms"),
                              "value": values[lo:hi], STAMP_COL: stamp})
        for key, rows in frame.groupby("k", sort=True):
            call(key, rows.reset_index(drop=True), wm)
        timers(wm, set(frame["k"]))
        wm = max(wm, int(b_ts.max()) - DELAY)
        lo = hi
    timers(wm)  # the no-data micro-batch the new watermark triggers
    closed = dict(emitted)
    final = _final_watermark(int(ts.max()), windows, DELAY)
    for _ in range(4):  # a flush wakes every key whose timer it passes
        timers(final)
    return closed, emitted, dupes, late.value, wm


def brute_rows(keys, ts, values, windows, frontier):
    """The windows of each key's rows (``_brute_force``) that a firing at
    ``frontier`` closes: tumbling and sliding time windows ending at or
    below it, sessions whose end (last ts + gap) lies below it, and count
    windows whose rows all lie at or below it."""
    rows = [(k, t, arrival, v) for arrival, (k, t, v) in
            enumerate(zip(keys.tolist(), ts.tolist(), values.tolist()))]
    by_id = {w.window_id: w for w in windows}
    out = {}
    for (wid, measure, key, start, end), (n, total) in _brute_force(
            rows, windows, [CountAggregation, SumAggregation]).items():
        if measure == "count":
            closed = end <= sum(t <= frontier for k, t, _, _ in rows if k == key)
        elif isinstance(by_id[wid], SessionWindow):
            closed = end < frontier
        else:
            closed = end <= frontier
        if closed:
            out[(key, wid, measure, start, end)] = (int(n), float(total))
    return out


window_spec = st.one_of(
    st.tuples(st.just("tumbling"), st.integers(5, 90)),
    st.tuples(st.just("sliding"), st.integers(10, 90), st.integers(2, 9)),
    # any size and slide in seconds: mostly size % slide != 0
    st.tuples(st.just("sliding_any"), st.integers(5, 90), st.integers(2, 40)),
    st.tuples(st.just("session"), st.integers(5, 60)),
    st.tuples(st.just("count"), st.integers(1, 6)),
    st.tuples(st.just("count_sliding"), st.integers(1, 6), st.integers(1, 6)),
)


def make_windows(specs):
    out = []
    for i, spec in enumerate(specs, start=1):
        if spec[0] == "tumbling":
            out.append(TumblingWindow(WindowMeasure.TIME, spec[1] * SEC, window_id=i))
        elif spec[0] == "sliding":
            size = spec[1] * SEC
            out.append(SlidingWindow(WindowMeasure.TIME, size, max(SEC, size // spec[2]), window_id=i))
        elif spec[0] == "sliding_any":
            out.append(SlidingWindow(WindowMeasure.TIME, spec[1] * SEC, spec[2] * SEC, window_id=i))
        elif spec[0] == "session":
            out.append(SessionWindow(WindowMeasure.TIME, spec[1] * SEC, window_id=i))
        elif spec[0] == "count":
            out.append(TumblingWindow(WindowMeasure.COUNT, spec[1], window_id=i))
        else:
            out.append(SlidingWindow(WindowMeasure.COUNT, spec[1], spec[2], window_id=i))
    return out


@st.composite
def streams(draw):
    n_keys = draw(st.integers(2, 6))
    keys, ts = [], []
    for k in range(n_keys):
        start = draw(st.integers(0, 120)) * SEC
        gaps = draw(st.lists(st.integers(0, 40 * SEC), min_size=1, max_size=25))
        ts += (BASE + start + np.cumsum(gaps)).tolist()
        keys += [f"k{k}"] * len(gaps)
    ts = np.asarray(ts, dtype="int64")
    # arrival = event time + a delay below d: bounded disorder
    delay = st.one_of(st.just(0), st.just(DELAY - 1), st.integers(0, DELAY - 1))
    disorder = np.asarray(draw(st.lists(delay, min_size=len(ts), max_size=len(ts))), dtype="int64")
    order = np.argsort(ts + disorder, kind="stable")
    batch_sizes = draw(st.lists(st.integers(1, 40), min_size=1, max_size=12))
    batch_sizes.append(len(ts))  # whatever is left arrives in one last batch
    arrow_rows = draw(st.sampled_from([1, 3, 10_000]))
    values = np.arange(len(ts), dtype="float64")[order] % 7
    return np.asarray(keys)[order], ts[order], values, batch_sizes, arrow_rows


@settings(max_examples=100, deadline=None)
@given(streams(), st.lists(window_spec, min_size=1, max_size=3))
# a session whose next emission equals the flush watermark: the key's
# timer must sit one ms below it, because Spark times a key out only once
# the watermark exceeds the timer
@example((np.array(["k0", "k1"]), np.array([BASE, BASE]), np.array([0.0, 1.0]), [1, 2], 1),
         [("session", 30)])
# late rows below a key's first rows: k0's row at 40 s arrives after its
# rows at 66 s; k0's row at 20.002 s arrives after a 50 s jump; a's row at
# 0 arrives after its first row (5.001 s). Each must land in its own
# window (the old slice-store operator lost them).
@example((np.array(["k1", "k1", "k0", "k0", "k0"]),
          BASE + np.array([0, 0, 66, 66, 40]) * SEC, np.array([3.0, 4.0, 1.0, 2.0, 0.0]),
          [1, 1, 1, 5], 1),
         [("tumbling", 6)])
@example((np.array(["k0", "k0", "k0", "k0", "k1", "k2", "k3", "k4", "k0", "k0", "k0", "k4"]),
          BASE + np.array([0, 0, 0, 0, 0, 0, 0, 42_000, 50_000, 50_000, 20_002, 54_540]),
          np.array([0.0, 1.0, 2.0, 3.0, 0.0, 1.0, 2.0, 3.0, 5.0, 6.0, 4.0, 4.0]),
          [1, 1, 1, 6, 1, 12], 1),
         [("tumbling", 5)])
@example((np.array(["a", "a"]), BASE + np.array([5_001, 0]), np.array([0.0, 1.0]), [1, 1], 1),
         [("session", 5)])
# a late row exactly one gap before its key's session joins the session
@example((np.array(["a", "a"]), BASE + np.array([5_000, 0]), np.array([0.0, 1.0]), [1, 1], 1),
         [("session", 5)])
# a late row that merges two 37 s sessions of a key removes the one-row
# session at 66 s, where a 5 s session starts too: both 5 s sessions emit
@example((np.array(["a", "a", "a", "a"]), BASE + np.array([0, 7, 66, 44]) * SEC,
          np.array([0.0, 1.0, 2.0, 3.0]), [3, 1], 1),
         [("session", 5), ("session", 37)])
# two session windows' sessions start at one ts: a late row moves both
# starts there, and a later row moves only one of them away. The two
# failures of hypothesis seed 131 on the old slice-store operator,
# reduced to their failing key.
@example((np.array(["a"] * 4), BASE + np.array([6_002, 6_001, 1, 36_997]),
          np.array([0.0, 1.0, 2.0, 3.0]), [1, 1, 1, 1], 1),
         [("session", 5), ("session", 6)])
@example((np.array(["a"] * 5), BASE + np.array([0, 9_108, 7_001, 30_348, 2_000]),
          np.array([0.0, 1.0, 2.0, 3.0, 4.0]), [1, 1, 1, 2], 1),
         [("session", 5), ("session", 7)])
# a count window's row past the frontier keeps its place: the row at 2 ms
# arrives after the key fired at 0 and goes before the row at 30 s
@example((np.array(["a", "a", "a"]), BASE + np.array([0, 30_000, 2]), np.array([6.0, 1.0, 0.0]),
          [1, 1, 1], 1),
         [("count_sliding", 1, 2)])
def test_stream_emits_kernel_rows_once(stream, specs):
    keys, ts, values, batch_sizes, arrow_rows = stream
    windows = make_windows(specs)
    closed, emitted, dupes, late, w_end = run_stream(keys, ts, values, batch_sizes, arrow_rows,
                                                     windows)
    assert late == 0
    assert not dupes, f"emitted twice: {dupes[:3]}"
    assert closed == brute_rows(keys, ts, values, windows, w_end)
    final = _final_watermark(int(ts.max()), windows, DELAY)
    assert emitted == brute_rows(keys, ts, values, windows, final)


def test_key_starting_at_epoch_zero_emits_its_windows():
    """A key seeded at watermark 0 − 1 = -1 still counts as seeded, so it
    emits the same windows as the same rows shifted to BASE."""
    windows = make_windows([("tumbling", 60), ("session", 30)])
    offsets = np.arange(0, 200 * SEC, 10 * SEC, dtype="int64")
    keys = np.asarray(["a"] * len(offsets))
    values = np.ones(len(offsets))

    def shifted(base):
        # one micro-batch: the key first fires at frontier 190 s − d
        _, emitted, _, _, _ = run_stream(keys, base + offsets, values, [len(offsets)], 10_000,
                                         windows)
        return {(k, w, m, s - base, e - base): agg for (k, w, m, s, e), agg in emitted.items()}

    assert shifted(BASE)
    assert shifted(0) == shifted(BASE)

"""Generated parity of the vectorized tier's partition path, without Spark:
a ``key_exchange`` partition arrives in no order, ``plans.partition_order``
orders it, and ``vectorized_multi.multikey_rows`` must then emit exactly
the windows a brute-force recompute (below, one window at a time) finds.

The generated mixes cover what the slicing math must get right: fixed
time families on coprime grids (so the shared slice width drops to 1 ms),
sessions and count windows in the same call, 1-5 keys, timestamps near 0
(windows that would start before 0 are not emitted, as in the kernel),
tied timestamps broken by an arrival column, and any of count, sum, mean,
min and max.
"""

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st

import numpy as np

from scotty_window_processor_spark.functions import (
    CountAggregation,
    MaxAggregation,
    MeanAggregation,
    MinAggregation,
    SumAggregation,
)
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.plans import partition_order
from scotty_window_processor_spark.plans.scotty_batch import _fast_path_eligible
from scotty_window_processor_spark.plans.vectorized_multi import multikey_rows

AGGS = {
    CountAggregation: len,
    SumAggregation: sum,
    MeanAggregation: lambda v: sum(v) / len(v),
    MinAggregation: min,
    MaxAggregation: max,
}
COPRIME_STEPS = [2, 3, 5, 7, 11, 13]

window_spec = st.one_of(
    st.tuples(st.just("tumbling"), st.sampled_from(COPRIME_STEPS), st.integers(1, 4)),
    st.tuples(st.just("sliding"), st.sampled_from(COPRIME_STEPS), st.integers(2, 6)),
    st.tuples(st.just("session"), st.integers(1, 30)),
    st.tuples(st.just("count"), st.integers(1, 6)),
)


def rows_spec(ts_max):
    """(key, ts, value) in arrival order. Small ts ranges make ties and
    windows that reach below 0 common."""
    row = st.tuples(st.integers(0, 4), st.integers(0, ts_max), st.integers(-50, 50))
    return st.lists(row, min_size=1, max_size=80)


def _window(spec, wid):
    if spec[0] == "tumbling":
        return TumblingWindow(WindowMeasure.TIME, spec[1] * spec[2], window_id=wid)
    if spec[0] == "sliding":
        return SlidingWindow(WindowMeasure.TIME, spec[1] * spec[2], spec[1], window_id=wid)
    if spec[0] == "session":
        return SessionWindow(WindowMeasure.TIME, spec[1], window_id=wid)
    return TumblingWindow(WindowMeasure.COUNT, spec[1], window_id=wid)


def _brute_force(rows, windows, fns):
    """{(window_id, measure, key, w_start, w_end): aggregates} computed one
    window at a time from each key's rows in (ts, arrival) order."""
    out = {}
    for key in {k for k, _, _, _ in rows}:
        run = sorted((ts, arr, v) for k, ts, arr, v in rows if k == key)
        ts_all = [r[0] for r in run]
        windows_of_key = []
        for w in windows:
            if isinstance(w, SessionWindow):
                start = 0
                for i in range(1, len(run) + 1):
                    if i == len(run) or ts_all[i] - ts_all[i - 1] > w.gap:
                        windows_of_key.append(
                            (w, "time", ts_all[start], ts_all[i - 1] + w.gap, run[start:i]))
                        start = i
            elif w.measure == WindowMeasure.COUNT:
                for j in range(len(run) // w.size):
                    windows_of_key.append(
                        (w, "count", j * w.size, (j + 1) * w.size,
                         run[j * w.size:(j + 1) * w.size]))
            else:
                step = w.slide if isinstance(w, SlidingWindow) else w.size
                for ws in range(0, max(ts_all) + 1, step):
                    members = [r for r in run if ws <= r[0] < ws + w.size]
                    if members:
                        windows_of_key.append((w, "time", ws, ws + w.size, members))
        for w, measure, ws, we, members in windows_of_key:
            vals = [float(r[2]) for r in members]
            out[(w.window_id, measure, key, ws, we)] = tuple(AGGS[f](vals) for f in fns)
    return out


def _vectorized(rows, windows, fns, order_fn):
    key_codes = np.array([r[0] for r in rows], dtype="int64")
    ts_ms = np.array([r[1] for r in rows], dtype="int64")
    arrival = np.array([r[2] for r in rows], dtype="int64")
    vals = np.array([r[3] for r in rows], dtype="float64")
    order = order_fn(key_codes, ts_ms, arrival)
    out = {}
    for fam in multikey_rows(key_codes[order], ts_ms[order], vals[order], windows,
                             lambda: [f() for f in fns]):
        for i in range(len(fam["key_code"])):
            window = (int(fam["window_id"][i]), fam["measure"], int(fam["key_code"][i]),
                      int(fam["w_start"][i]), int(fam["w_end"][i]))
            assert window not in out, f"window emitted twice: {window}"
            out[window] = tuple(float(col[i]) for col in fam["aggs"])
    return out


def _check(data, order_fn):
    specs = data.draw(st.lists(window_spec, min_size=1, max_size=5), label="windows")
    windows = [_window(s, wid) for wid, s in enumerate(specs, start=1)]
    fns = data.draw(st.lists(st.sampled_from(sorted(AGGS, key=lambda f: f.__name__)),
                             min_size=1, max_size=5, unique=True), label="aggs")
    drawn = data.draw(st.sampled_from([8, 40, 120]).flatmap(rows_spec), label="rows")
    # arrival = position in the generated stream; the exchange delivers
    # the rows in any order
    rows = [(k, ts, arrival, v) for arrival, (k, ts, v) in enumerate(drawn)]
    rows = data.draw(st.permutations(rows), label="delivered")
    assert _fast_path_eligible(windows, [(f.__name__, "double", f) for f in fns])

    got = _vectorized(rows, windows, fns, order_fn)
    want = _brute_force(rows, windows, fns)
    assert got.keys() == want.keys()
    for window, aggs in want.items():
        assert got[window] == pytest.approx(aggs, rel=1e-9, abs=1e-9), window


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_partition_order_then_multikey_rows_equals_brute_force(data):
    _check(data, partition_order)


def test_property_needs_the_partition_order():
    """The property sees the ordering: with the partition left as the
    exchange delivered it, a counterexample is found."""
    unordered = lambda key_codes, ts_ms, arrival: np.arange(len(key_codes))
    run = settings(max_examples=300, deadline=None, database=None, report_multiple_bugs=False)(
        given(st.data())(lambda data: _check(data, unordered)))
    with pytest.raises(AssertionError):
        run()

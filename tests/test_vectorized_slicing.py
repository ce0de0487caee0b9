"""Generated parity of the vectorized tier's partition path, without Spark:
a ``key_exchange`` partition arrives in no order, ``plans.partition_order``
orders it, and ``vectorized_multi.multikey_rows`` must then emit exactly
the windows a brute-force recompute (below, one window at a time) finds.

The generated mixes cover what the slicing math must get right: fixed
time families on coprime grids (so the shared slice width drops to 1 ms),
sliding windows whose size is not a multiple of the slide, sessions and
count tumbling/sliding windows in the same call, 1-5 keys, timestamps
near 0 (windows that would start before 0 are not emitted) and tied
timestamps broken by an arrival column. Aggregates are drawn in value
mode (the numpy reductions count, sum, mean, min and max,
``QuantileAggregation``'s bulk value lift, and a ``PyReduce`` with no
bulk lift whose combine depends on order) or in record mode
(``CountAggregation``, ``ToolTallyString``, ``RoleTextRollupString``).
When every drawn aggregate is a numpy reduction, values may be null: as
in SQL, count counts rows, and sum, mean, min and max skip nulls and are
null for a window without a non-null value.
"""

import math
from collections import Counter

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st

import numpy as np

from scotty_window_processor_spark.functions import (
    CountAggregation,
    MaxAggregation,
    MeanAggregation,
    MinAggregation,
    PyReduce,
    QuantileAggregation,
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
from scotty_window_processor_spark.plans import partition_order
from scotty_window_processor_spark.plans.vectorized_multi import (
    NAMED_LIFTS,
    lift_kind,
    multikey_rows,
    range_partials,
    slice_width,
)


def last_value():
    """The last value in row order: no bulk lift, so the slicer folds lift
    and combine, and any reordering shows."""
    return PyReduce(lambda a, b: b)


def _median(vals):
    ranked = sorted(vals)
    return ranked[max(1, math.ceil(0.5 * len(ranked))) - 1]


# record-mode payload of the row with arrival position `arr` and value `v`
TOOLS = [None, "", "grep", "ls", "cat"]
ROLES = ["user", "assistant", "tool"]


def _record(arr, v):
    return {"tool": TOOLS[v % 5], "role": ROLES[v % 3], "text": f"t{arr}", "turn_idx": arr}


def _tally(recs):
    return ",".join(f"{k}={c}" for k, c in sorted(Counter(r["tool"] for r in recs if r["tool"]).items()))


def _rollup(recs):
    by_role = {}
    for r in sorted(recs, key=lambda r: r["turn_idx"]):
        by_role.setdefault(r["role"], []).append(r["text"])
    return "|".join(f"{role}:{';'.join(texts)}" for role, texts in sorted(by_role.items()))


def _skip_nulls(agg):
    """``agg`` over the non-null values, None without one."""
    return lambda vals: agg([v for v in vals if v is not None]) if any(
        v is not None for v in vals) else None


# brute-force aggregate of one window's values (value mode) or records
VALUE_AGGS = {
    CountAggregation: len,
    SumAggregation: _skip_nulls(sum),
    MeanAggregation: _skip_nulls(lambda v: sum(v) / len(v)),
    MinAggregation: _skip_nulls(min),
    MaxAggregation: _skip_nulls(max),
    QuantileAggregation: _median,
    last_value: lambda v: v[-1],
}
RECORD_AGGS = {
    CountAggregation: len,
    ToolTallyString: _tally,
    RoleTextRollupString: _rollup,
}
COPRIME_STEPS = [2, 3, 5, 7, 11, 13]

fixed_spec = st.one_of(
    st.tuples(st.just("tumbling"), st.sampled_from(COPRIME_STEPS), st.integers(1, 4)),
    st.tuples(st.just("sliding"), st.sampled_from(COPRIME_STEPS), st.integers(2, 6)),
    # any size and slide: mostly size % slide != 0, sometimes slide > size
    st.tuples(st.just("sliding_any"), st.integers(2, 40), st.integers(1, 16)),
)
window_spec = st.one_of(
    fixed_spec,
    st.tuples(st.just("session"), st.integers(1, 30)),
    st.tuples(st.just("count"), st.integers(1, 6)),
    st.tuples(st.just("count_sliding"), st.integers(1, 6), st.integers(1, 6)),
)


def rows_spec(ts_max, nulls=False):
    """(key, ts, value) in arrival order, values null (None) too if
    ``nulls``. Small ts ranges make ties and windows that reach below 0
    common."""
    value = st.one_of(st.none(), st.integers(-50, 50)) if nulls else st.integers(-50, 50)
    row = st.tuples(st.integers(0, 4), st.integers(0, ts_max), value)
    return st.lists(row, min_size=1, max_size=80)


def _nulls_allowed(fns, record=False):
    """Nulls are drawn for the numpy reductions only: they skip nulls as
    SQL does, the other aggregates have no null rule."""
    return not record and all(f in NAMED_LIFTS for f in fns)


def _window(spec, wid):
    if spec[0] == "tumbling":
        return TumblingWindow(WindowMeasure.TIME, spec[1] * spec[2], window_id=wid)
    if spec[0] == "sliding":
        return SlidingWindow(WindowMeasure.TIME, spec[1] * spec[2], spec[1], window_id=wid)
    if spec[0] == "sliding_any":
        return SlidingWindow(WindowMeasure.TIME, spec[1], spec[2], window_id=wid)
    if spec[0] == "session":
        return SessionWindow(WindowMeasure.TIME, spec[1], window_id=wid)
    if spec[0] == "count_sliding":
        return SlidingWindow(WindowMeasure.COUNT, spec[1], spec[2], window_id=wid)
    return TumblingWindow(WindowMeasure.COUNT, spec[1], window_id=wid)


def _brute_force(rows, windows, fns, record=False):
    """{(window_id, measure, key, w_start, w_end): aggregates} computed one
    window at a time from each key's rows in (ts, arrival) order."""
    out = {}
    brute = RECORD_AGGS if record else VALUE_AGGS
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
                # positional; only full windows fire
                slide = w.slide if isinstance(w, SlidingWindow) else w.size
                for j in range(0, len(run) - w.size + 1, slide):
                    windows_of_key.append((w, "count", j, j + w.size, run[j:j + w.size]))
            else:
                step = w.slide if isinstance(w, SlidingWindow) else w.size
                # from the last start at or below the key's first ts − size
                first = max(0, (min(ts_all) - w.size) // step * step)
                for ws in range(first, max(ts_all) + 1, step):
                    members = [r for r in run if ws <= r[0] < ws + w.size]
                    if members:
                        windows_of_key.append((w, "time", ws, ws + w.size, members))
        for w, measure, ws, we, members in windows_of_key:
            if record:
                vals = [_record(arr, v) for _, arr, v in members]
            else:
                vals = [None if r[2] is None else float(r[2]) for r in members]
            out[(w.window_id, measure, key, ws, we)] = tuple(brute[f](vals) for f in fns)
    return out


def _vectorized(rows, windows, fns, order_fn, record=False):
    key_codes = np.array([r[0] for r in rows], dtype="int64")
    ts_ms = np.array([r[1] for r in rows], dtype="int64")
    arrival = np.array([r[2] for r in rows], dtype="int64")
    order = order_fn(key_codes, ts_ms, arrival)
    if record:
        recs = [_record(rows[i][2], rows[i][3]) for i in order]
        vals = {c: [r[c] for r in recs] for c in recs[0]}
    else:
        vals = np.array([r[3] for r in rows], dtype="float64")[order]
    return _windows_of(multikey_rows(key_codes[order], ts_ms[order], vals, windows,
                                     lambda: [f() for f in fns]), record)


def _windows_of(fams, record=False):
    """{(window_id, measure, key, w_start, w_end): aggregates} of
    ``multikey_rows``' families, each window emitted once."""
    out = {}
    for fam in fams:
        for i in range(len(fam["key_code"])):
            window = (int(fam["window_id"][i]), fam["measure"], int(fam["key_code"][i]),
                      int(fam["w_start"][i]), int(fam["w_end"][i]))
            assert window not in out, f"window emitted twice: {window}"
            vals = (col[i] if record else float(col[i]) for col in fam["aggs"])
            # NaN: a numpy reduction over no non-null value, null in SQL
            out[window] = tuple(None if v != v else v for v in vals)
    return out


def _assert_windows(got, want, record=False):
    assert got.keys() == want.keys()
    for window, aggs in want.items():
        if record:
            assert got[window] == aggs, window
        else:
            assert [a is None for a in got[window]] == [a is None for a in aggs], window
            assert [a for a in got[window] if a is not None] == pytest.approx(
                [a for a in aggs if a is not None], rel=1e-9, abs=1e-9), window


def _check(data, order_fn):
    specs = data.draw(st.lists(window_spec, min_size=1, max_size=5), label="windows")
    windows = [_window(s, wid) for wid, s in enumerate(specs, start=1)]
    record = data.draw(st.booleans(), label="record mode")
    brute = RECORD_AGGS if record else VALUE_AGGS
    fns = data.draw(st.lists(st.sampled_from(sorted(brute, key=lambda f: f.__name__)),
                             min_size=1, max_size=5, unique=True), label="aggs")
    nulls = _nulls_allowed(fns, record)
    drawn = data.draw(st.sampled_from([8, 40, 120]).flatmap(lambda m: rows_spec(m, nulls)),
                      label="rows")
    # arrival = position in the generated stream; the exchange delivers
    # the rows in any order
    rows = [(k, ts, arrival, v) for arrival, (k, ts, v) in enumerate(drawn)]
    rows = data.draw(st.permutations(rows), label="delivered")

    _assert_windows(_vectorized(rows, windows, fns, order_fn, record),
                    _brute_force(rows, windows, fns, record), record)


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_partition_order_then_multikey_rows_equals_brute_force(data):
    _check(data, partition_order)


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_slice_partials_equal_brute_force(data):
    """Given one partial per (key, slice) of every aggregate instead of the
    rows, as the stream's operator and the global operator's Catalyst
    sums hand them over, the slicer combines them into the windows of the
    rows."""
    windows = [_window(s, wid) for wid, s in
               enumerate(data.draw(st.lists(fixed_spec, min_size=1, max_size=4)), start=1)]
    fns = data.draw(st.lists(st.sampled_from(sorted(VALUE_AGGS, key=lambda f: f.__name__)),
                             min_size=1, max_size=5, unique=True))
    nulls = _nulls_allowed(fns)
    rows = [(k, ts, arrival, v) for arrival, (k, ts, v) in enumerate(data.draw(
        st.sampled_from([8, 40, 120]).flatmap(lambda m: rows_spec(m, nulls))))]
    key_codes, ts_ms, arrival = (np.array([r[i] for r in rows], dtype="int64") for i in range(3))
    order = partition_order(key_codes, ts_ms, arrival)
    key_codes, ts_ms = key_codes[order], ts_ms[order]
    vals = np.array([r[3] for r in rows], dtype="float64")[order]
    g = slice_width(windows)
    new_slice = np.ones(len(rows), dtype=bool)
    new_slice[1:] = (key_codes[1:] != key_codes[:-1]) | (ts_ms[1:] // g != ts_ms[:-1] // g)
    lo = np.flatnonzero(new_slice)
    hi = np.append(lo[1:], len(rows))
    parts = [range_partials(fn, lift_kind(fn), vals, lo, hi, vals.__getitem__)
             for fn in (f() for f in fns)]
    got = _windows_of(multikey_rows(key_codes[lo], ts_ms[lo] // g * g, None, windows,
                                    lambda: [f() for f in fns], parts))
    _assert_windows(got, _brute_force(rows, windows, fns))


def test_property_needs_the_partition_order():
    """The property sees the ordering: with the partition left as the
    exchange delivered it, a counterexample is found."""
    unordered = lambda key_codes, ts_ms, arrival: np.arange(len(key_codes))
    run = settings(max_examples=300, deadline=None, database=None, report_multiple_bugs=False)(
        given(st.data())(lambda data: _check(data, unordered)))
    with pytest.raises(AssertionError):
        run()


"""Property-based check of the aggregate-sharing invariant: one operator
running N concurrent windows over shared slices must emit exactly what N
independent single-window operators emit.

Two regimes:
- full window mixes (tumbling/sliding/session time windows and count
  tumbling windows) over IN-ORDER streams;
- fixed windows (tumbling/sliding) with bounded out-of-order arrivals.

Out-of-order session mixes are covered against brute force by
tests/test_stream_property.py instead. This suite exposed two reference
bugs in the old slice-store operator (a power-of-two window size hung its
first-edge walk; a session break before the next fixed edge was lost).
"""

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import example, given, settings, strategies as st

from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlicingWindowOperator,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)

windows_strategy = st.lists(
    st.one_of(
        st.integers(2, 40).map(lambda s: ("tumbling", s)),
        st.tuples(st.integers(1, 6), st.integers(2, 12)).map(
            lambda t: ("sliding", t[0] * t[1], t[1])
        ),
        st.integers(3, 25).map(lambda g: ("session", g)),
        st.integers(1, 6).map(lambda s: ("count", s)),
    ),
    min_size=1,
    max_size=4,
)

stream_strategy = st.lists(
    st.tuples(st.integers(1, 9), st.integers(1, 15), st.booleans()),
    min_size=5,
    max_size=120,
)


def _mk(spec, wid):
    if spec[0] == "tumbling":
        return TumblingWindow(WindowMeasure.TIME, spec[1], window_id=wid)
    if spec[0] == "sliding":
        return SlidingWindow(WindowMeasure.TIME, spec[1], spec[2], window_id=wid)
    if spec[0] == "count":
        return TumblingWindow(WindowMeasure.COUNT, spec[1], window_id=wid)
    return SessionWindow(WindowMeasure.TIME, spec[1], window_id=wid)


def _emit(results):
    return sorted(
        (w.window_id, w.start, w.end, tuple(w.agg_values()))
        for w in results
        if w.has_value
    )


fixed_windows_strategy = st.lists(
    st.one_of(
        st.integers(2, 40).map(lambda s: ("tumbling", s)),
        st.tuples(st.integers(1, 6), st.integers(2, 12)).map(
            lambda t: ("sliding", t[0] * t[1], t[1])
        ),
    ),
    min_size=1,
    max_size=4,
)


def _run_property(specs, raw, disorder: bool):
    # a duplicated window definition legitimately emits twice (two
    # registered windows) — dedupe so shared vs independent compare 1:1
    specs = list(dict.fromkeys(specs))
    # Build the stream: increasing ts with bounded pull-backs (disorder
    # within the lateness bound), clamped to the FIRST element's ts: an
    # element below the oldest slice is dumped into slice 0 (reference
    # SliceManager.java:75-79), and slice 0's bounds depend on the
    # registered window set — so sharing-equivalence genuinely does not
    # extend to pre-stream late data (a documented reference semantic,
    # not a kernel bug).
    lateness = 50
    ts, stream = 0, []
    first_ts = None
    for v, gap, back in raw:
        ts += gap
        if first_ts is None:
            first_ts = ts
        stream.append((v, max(first_ts, ts - (7 if (back and disorder) else 0))))
    wm_final = ts + 10_000

    def run(window_specs):
        op = SlicingWindowOperator(max_lateness=lateness)
        op.add_aggregation(SumAggregation())
        op.add_aggregation(CountAggregation())
        for i, spec in enumerate(window_specs):
            op.add_window(_mk(spec, wid=specs.index(spec)))
        op.seed_watermark(stream[0][1] - 1)
        out = []
        for j, (v, t) in enumerate(stream):
            op.process_element(v, t)
            if j % 37 == 36:  # mid-stream watermarks too
                out += op.process_watermark(max(0, t - lateness))
        out += op.process_watermark(wm_final)
        return _emit(out)

    shared = run(specs)
    independent = []
    seen = set()
    for spec in specs:
        if specs.index(spec) in seen:  # duplicate specs share a window_id
            continue
        seen.add(specs.index(spec))
        independent += run([spec])
    assert shared == sorted(independent)


@settings(max_examples=100, deadline=None)
@given(specs=windows_strategy, raw=stream_strategy)
def test_sharing_invariant_full_mixes_in_order(specs, raw):
    _run_property(specs, raw, disorder=False)


@settings(max_examples=100, deadline=None)
@given(specs=fixed_windows_strategy, raw=stream_strategy)
def test_sharing_invariant_fixed_windows_with_disorder(specs, raw):
    _run_property(specs, raw, disorder=True)


# Early firing (streaming.processor's frontier): a kernel fired
# at a frontier b and later at W >= b, with only rows above b fed in
# between (the stream handler drops the rest as late), must emit exactly
# the windows one firing at W emits over the same rows — each once.
@settings(max_examples=150, deadline=None)
@given(
    specs=windows_strategy,
    raw=stream_strategy,
    disorder=st.booleans(),
    split=st.floats(0.0, 1.0),
    delay=st.integers(0, 60),
)
# a late row pulling a session start back past a fixed edge (edges 54 and
# 55, row 52) once left an inverted slice [54, 52) in the store
@example(
    specs=[("tumbling", 2), ("session", 4)],
    raw=[(1, 1, False)] * 13 + [(1, 12, False), (1, 15, False), (1, 15, False), (1, 4, True)],
    disorder=True,
    split=1.0,
    delay=0,
)
def test_split_watermark_emits_each_window_once(specs, raw, disorder, split, delay):
    specs = list(dict.fromkeys(specs))
    lateness = 50
    ts, stream, first_ts = 0, [], None
    for v, gap, back in raw:
        ts += gap
        if first_ts is None:
            first_ts = ts
        stream.append((v, max(first_ts, ts - (7 if (back and disorder) else 0))))
    # like the handler: the early firing follows at least one row and
    # happens only at a positive frontier
    k = max(1, int(split * len(stream)))
    b = max(1, max(t for _, t in stream[:k]) - delay)
    kept = stream[:k] + [(v, t) for v, t in stream[k:] if t > b]
    wm_final = ts + 10_000

    def kernel():
        op = SlicingWindowOperator(max_lateness=lateness)
        op.add_aggregation(SumAggregation())
        op.add_aggregation(CountAggregation())
        for i, spec in enumerate(specs):
            op.add_window(_mk(spec, wid=i))
        op.seed_watermark(stream[0][1] - 1)
        return op

    split_op, out = kernel(), []
    for v, t in kept[:k]:
        split_op.process_element(v, t)
    out += split_op.process_watermark(b)
    for v, t in kept[k:]:
        split_op.process_element(v, t)
    out += split_op.process_watermark(wm_final)

    once_op = kernel()
    for v, t in kept:
        once_op.process_element(v, t)
    once = _emit(once_op.process_watermark(wm_final))

    split_emit = _emit(out)
    assert split_emit == once
    assert len({r[:3] for r in split_emit}) == len(split_emit)

"""Generated parity of the stream's per-key operator (``operators.kernel``)
against brute force, without Spark.

One key's rows, sorted by event time, are fed in micro-batches. After each
batch the operator fires at the frontier ``max ts − lateness``, as the
stream handler does, and a last watermark past every window flushes it.
The union of the emitted rows must be exactly the windows that
``tests/test_vectorized_slicing._brute_force`` recomputes one at a time,
each emitted once, for every window mix its ``window_spec`` draws:
tumbling/sliding (also with a size that is not a multiple of the slide),
sessions and count tumbling/sliding windows.
"""

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import example, given, settings, strategies as st

from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
from scotty_window_processor_spark.operators.kernel import lower_windows, new_operator
from scotty_window_processor_spark.plans.scotty_batch import _final_watermark

from test_vectorized_slicing import _brute_force, _window, window_spec

AGGS = [("n", "long", CountAggregation), ("total", "double", SumAggregation)]


@st.composite
def sorted_rows(draw):
    """(ts, values, cuts): sorted event times, their values, and the ends
    of the micro-batches they arrive in."""
    ts = sorted(draw(st.lists(st.integers(0, 120), min_size=1, max_size=60)))
    values = draw(st.lists(st.integers(-50, 50), min_size=len(ts), max_size=len(ts)))
    cuts = sorted(set(draw(st.lists(st.integers(1, len(ts)), max_size=6))) | {len(ts)})
    return ts, values, cuts


def _kernel(windows, ts, values, cuts, lateness):
    """{(window_id, measure, key, w_start, w_end): (n, total)} of the
    operator, asserting that no window is emitted twice."""
    op = new_operator(windows, AGGS, lateness)
    op.seed_watermark(ts[0] - 1)
    fired, lo = [], 0
    for hi in cuts:
        for v, t in zip(values[lo:hi], ts[lo:hi]):
            op.process_element(v, t)
        frontier = ts[hi - 1] - lateness
        if frontier > op.last_watermark:
            fired += lower_windows(op.process_watermark(frontier))
        lo = hi
    fired += lower_windows(op.process_watermark(_final_watermark(ts[-1], windows, lateness)))
    out = {}
    for wid, measure, start, end, n, total in fired:
        window = (wid, measure, 0, start, end)
        assert window not in out, f"window emitted twice: {window}"
        out[window] = (n, total)
    return out


@settings(max_examples=300, deadline=None)
@given(st.lists(window_spec, min_size=1, max_size=4), sorted_rows(), st.sampled_from([0, 1000]))
# a session next to a fixed time window and a count window: the session
# [22, 32) was never emitted by the old slice-store operator
@example([("tumbling", 5, 4), ("session", 10), ("count", 4)], ([22, 43], [1, 2], [2]), 0)
# a sliding window whose size is not a multiple of its slide: the old
# operator cut slices on the slide grid only, and dropped the rows of a
# slice that a window end split
@example([("sliding_any", 10, 4)],
         ([1, 2, 5, 9, 10, 11, 30, 31, 33, 47], list(range(10)), [4, 10]), 0)
def test_kernel_emits_brute_force_rows_once(specs, rows, lateness):
    windows = [_window(s, wid) for wid, s in enumerate(specs, start=1)]
    ts, values, cuts = rows
    want = _brute_force([(0, t, i, v) for i, (t, v) in enumerate(zip(ts, values))],
                        windows, [CountAggregation, SumAggregation])
    assert _kernel(windows, ts, values, cuts, lateness) == want

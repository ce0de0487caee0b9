"""Port of the reference session-window suite (1:1, incl. out-of-order slice
split / merge): slicing/src/test/.../windowTest/SessionWindowOperatorTest.java:23-212.
"""

import pytest

from scotty_window_processor_spark.functions import PyReduce
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlicingWindowOperator,
    TumblingWindow,
    WindowMeasure,
)


@pytest.fixture
def op():
    o = SlicingWindowOperator()
    o.add_aggregation(PyReduce(lambda a, b: a + b))
    return o


def assert_window(w, start, end, value):
    assert (w.start, w.end, w.agg_values()[0]) == (start, end, value)


def assert_contains(results, start, end, value):
    assert any(
        w.start == start and w.end == end and w.has_value and w.agg_values()[0] == value
        for w in results
    ), f"({start},{end},{value}) not in {results}"


def test_in_order(op):
    op.add_window(SessionWindow(WindowMeasure.TIME, 10))
    for v, ts in [(1, 1), (2, 19), (3, 23), (4, 31), (5, 49)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert r[0].agg_values()[0] == 1

    r = op.process_watermark(55)
    assert r[0].agg_values()[0] == 9

    r = op.process_watermark(80)
    assert r[0].agg_values()[0] == 5


def test_in_order_2(op):
    op.add_window(SessionWindow(WindowMeasure.TIME, 10))
    for v, ts in [(1, 0), (2, 0), (3, 20), (4, 31), (5, 42)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert r[0].agg_values()[0] == 3

    r = op.process_watermark(55)
    assert [w.agg_values()[0] for w in r] == [3, 4, 5]


def test_out_of_order_simple_insert(op):
    op.add_window(SessionWindow(WindowMeasure.TIME, 10))
    for v, ts in [(1, 1), (1, 9), (1, 15), (1, 30), (1, 12)]:
        op.process_element(v, ts)

    r = op.process_watermark(50)
    assert_window(r[0], 1, 25, 4)
    assert_window(r[1], 30, 40, 1)


def test_out_of_order_right_insert(op):
    op.add_window(SessionWindow(WindowMeasure.TIME, 10))
    for v, ts in [(1, 1), (1, 9), (1, 10), (1, 30), (1, 12)]:
        op.process_element(v, ts)

    r = op.process_watermark(50)
    assert_window(r[0], 1, 22, 4)
    assert_window(r[1], 30, 40, 1)


def test_out_of_order_left_insert(op):
    op.add_window(SessionWindow(WindowMeasure.TIME, 10))
    for v, ts in [(1, 1), (1, 9), (1, 10), (1, 30), (1, 27)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert_window(r[0], 1, 20, 3)

    r = op.process_watermark(50)
    assert_window(r[0], 27, 40, 2)


def test_out_of_order_split_slice(op):
    op.add_window(SessionWindow(WindowMeasure.TIME, 10))
    for v, ts in [(1, 1), (1, 30), (1, 12)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert_window(r[0], 1, 11, 1)

    r = op.process_watermark(50)
    assert_window(r[0], 12, 22, 1)
    assert_window(r[1], 30, 40, 1)


def test_out_of_order_merge_slice(op):
    op.add_window(SessionWindow(WindowMeasure.TIME, 10))
    for v, ts in [(1, 7), (1, 30), (1, 51), (1, 15), (1, 21)]:
        op.process_element(v, ts)

    r = op.process_watermark(70)
    assert_window(r[0], 7, 40, 4)
    assert_window(r[1], 51, 61, 1)


def test_out_of_order_combined_session_tumbling_merge_session(op):
    op.add_window(SessionWindow(WindowMeasure.TIME, 10))
    op.add_window(TumblingWindow(WindowMeasure.TIME, 40))
    for v, ts in [(1, 7), (1, 22), (1, 51), (1, 15), (1, 37)]:
        op.process_element(v, ts)

    r = op.process_watermark(70)
    assert_window(r[0], 0, 40, 4)
    assert_window(r[1], 7, 32, 3)
    assert_window(r[2], 37, 47, 1)
    assert_window(r[3], 51, 61, 1)


def test_out_of_order_multi_session(op):
    op.add_window(SessionWindow(WindowMeasure.TIME, 10))
    op.add_window(SessionWindow(WindowMeasure.TIME, 5))
    for v, ts in [(1, 20), (1, 40), (1, 50), (1, 57), (1, 33), (1, 31)]:
        op.process_element(v, ts)

    r = op.process_watermark(70)
    assert_contains(r, 20, 25, 1)
    assert_contains(r, 31, 38, 2)
    assert_contains(r, 40, 45, 1)
    assert_contains(r, 50, 55, 1)
    assert_contains(r, 57, 62, 1)
    assert_contains(r, 20, 30, 1)
    assert_contains(r, 31, 67, 5)


def test_mixed_fixed_and_session_break_between_fixed_edges():
    """Divergence fix #5: an in-order session break landing before the
    next fixed edge + gap must still open a session slice. The reference
    suppresses the flex edge (t_c inflated by the FUTURE fixed edge,
    StreamSlicer.java:121-133) and the whole second session silently
    drops out of window assembly."""
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure

    op = SlicingWindowOperator(max_lateness=50)
    op.add_aggregation(SumAggregation())
    op.add_window(TumblingWindow(WindowMeasure.TIME, 3, window_id=0))
    op.add_window(SessionWindow(WindowMeasure.TIME, 3, window_id=1))
    op.seed_watermark(0)  # batch adapters seed; see seed_watermark docstring
    for v, ts in [(1, 1), (1, 2), (1, 3), (1, 4), (5, 8)]:
        op.process_element(v, ts)
    r = [w for w in op.process_watermark(10_000) if w.has_value]
    sessions = {(w.start, w.end): w.agg_values()[0] for w in r if w.window_id == 1}
    assert sessions == {(1, 7): 4, (8, 11): 5}, sessions
    tumbling = {(w.start, w.end): w.agg_values()[0] for w in r if w.window_id == 0}
    assert tumbling == {(0, 3): 2, (3, 6): 2, (6, 9): 5}, tumbling


def test_eviction_never_crosses_active_session_start():
    """Divergence fix #6: a mid-stream watermark must not evict slices an
    ACTIVE session still covers. The reference's clearAfterWatermark
    computes max(maxFixedWindowSize, session.getStart()) — a duration
    mixed with an absolute timestamp — so with small timestamps the
    eviction bound passes the open session's start and its early elements
    silently drop from the emitted window (found by hypothesis via the
    sharing-invariant property test)."""
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure

    def run(windows):
        op = SlicingWindowOperator(max_lateness=50)
        op.add_aggregation(SumAggregation())
        op.add_aggregation(CountAggregation())
        for w in windows:
            op.add_window(w)
        stream = [(1, t) for t in range(1, 33)] + [
            (1, 45), (1, 60), (1, 75), (1, 90), (8, 105)]
        op.seed_watermark(stream[0][1] - 1)
        out = []
        for j, (v, t) in enumerate(stream):
            op.process_element(v, t)
            if j == 36:  # mid-stream watermark while the session is open
                out += op.process_watermark(t - 50)
        out += op.process_watermark(10_000_000)
        return sorted(
            (w.window_id, w.start, w.end, tuple(w.agg_values()))
            for w in out if w.has_value
        )

    shared = run([TumblingWindow(WindowMeasure.TIME, 2, window_id=0),
                  SessionWindow(WindowMeasure.TIME, 15, window_id=1)])
    sessions = [r for r in shared if r[0] == 1]
    assert sessions == [(1, 1, 120, (44.0, 37))], sessions
    independent = run([SessionWindow(WindowMeasure.TIME, 15, window_id=1)])
    assert sessions == independent, (sessions, independent)


def test_two_session_windows_share_a_start_edge():
    """Divergence fix #13: the late row at 6001 moves both windows'
    session start to 6001, and the row at 1 then moves only the 6000 ms
    window's start away. The edge at 6001 keeps one reference for the
    5000 ms window's session, which must still start there."""
    from scotty_window_processor_spark.functions import CountAggregation

    op = SlicingWindowOperator()
    op.add_aggregation(CountAggregation())
    op.add_window(SessionWindow(WindowMeasure.TIME, 5000, window_id=1))
    op.add_window(SessionWindow(WindowMeasure.TIME, 6000, window_id=2))
    for ts in (6002, 6001, 1):
        op.process_element(1.0, ts)
    r = [w for w in op.process_watermark(100_000) if w.has_value]
    got = sorted((w.window_id, w.start, w.end, w.agg_values()[0]) for w in r)
    assert got == [(1, 1, 5001, 1), (1, 6001, 11002, 2), (2, 1, 12002, 3)]


def test_count_measure_session_rejected():
    """Conformance pin: the reference's SessionWindow nominally accepts
    WindowMeasure.Count but its SliceManager always feeds the session
    context event TIME, so Count sessions silently run as time sessions.
    This engine rejects the construction outright."""
    import pytest as _pytest

    from scotty_window_processor_spark.operators import WindowMeasure

    with _pytest.raises(ValueError, match="TIME only"):
        SessionWindow(WindowMeasure.COUNT, 10)

"""Port of the reference tumbling-window suite (1:1 element sequences and
expected values): slicing/src/test/.../windowTest/TumblingWindowOperatorTest.java:25-254.
"""

import pytest

from scotty_window_processor_spark.functions import PyReduce
from scotty_window_processor_spark.operators import (
    SlicingWindowOperator,
    TumblingWindow,
    WindowMeasure,
)

SUM = lambda: PyReduce(lambda a, b: a + b)


@pytest.fixture
def op():
    o = SlicingWindowOperator()
    o.add_aggregation(SUM())
    return o


def values(results):
    return [w.agg_values()[0] if w.has_value else None for w in results]


def test_in_order(op):
    op.add_window(TumblingWindow(WindowMeasure.TIME, 10))
    for v, ts in [(1, 1), (2, 19), (3, 29), (4, 39), (5, 49)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert values(r) == [1, 2]

    r = op.process_watermark(55)
    assert values(r) == [3, 4, 5]


def test_in_order_2_empty_window(op):
    op.add_window(TumblingWindow(WindowMeasure.TIME, 10))
    for v, ts in [(1, 0), (2, 0), (3, 20), (4, 30), (5, 40)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert r[0].agg_values()[0] == 3
    assert not r[1].has_value

    r = op.process_watermark(55)
    assert values(r) == [3, 4, 5]


def test_in_order_two_windows(op):
    op.add_window(TumblingWindow(WindowMeasure.TIME, 10))
    op.add_window(TumblingWindow(WindowMeasure.TIME, 20))
    for v, ts in [(1, 1), (2, 19), (3, 29), (4, 39), (5, 49)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert values(r) == [1, 2, 3]

    r = op.process_watermark(55)
    assert values(r) == [3, 4, 5, 7]


def test_in_order_two_windows_dynamic(op):
    op.add_window(TumblingWindow(WindowMeasure.TIME, 10))
    op.process_element(1, 1)
    op.process_element(2, 19)
    op.add_window(TumblingWindow(WindowMeasure.TIME, 20))
    op.process_element(3, 29)
    op.process_element(4, 39)
    op.process_element(5, 49)

    r = op.process_watermark(22)
    assert values(r) == [1, 2, 3]

    r = op.process_watermark(55)
    assert values(r) == [3, 4, 5, 7]


def test_in_order_two_windows_dynamic_2(op):
    op.add_window(TumblingWindow(WindowMeasure.TIME, 20))
    op.process_element(1, 1)
    op.process_element(2, 19)

    r = op.process_watermark(22)
    assert r[0].agg_values()[0] == 3

    op.add_window(TumblingWindow(WindowMeasure.TIME, 10))
    op.process_element(3, 29)
    op.process_element(4, 39)
    op.process_element(5, 49)

    r = op.process_watermark(55)
    assert r[0].agg_values()[0] == 7
    assert r[1].agg_values()[0] == 3
    assert r[2].agg_values()[0] == 4
    assert r[3].agg_values()[0] == 5


def test_out_of_order(op):
    op.add_window(TumblingWindow(WindowMeasure.TIME, 10))
    for v, ts in [(1, 1), (1, 30), (1, 20), (1, 23), (1, 25), (1, 45)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert r[0].agg_values()[0] == 1
    assert not r[1].has_value

    r = op.process_watermark(55)
    assert values(r) == [3, 1, 1]


def test_in_order_count(op):
    op.add_window(TumblingWindow(WindowMeasure.COUNT, 3))
    for v, ts in [(1, 1), (1, 19), (1, 29), (2, 39), (2, 49), (2, 50), (1, 51)]:
        op.process_element(v, ts)

    r = op.process_watermark(55)
    assert values(r) == [3, 6]


def test_out_of_order_count(op):
    op.add_window(TumblingWindow(WindowMeasure.COUNT, 3))
    for v, ts in [(1, 1), (1, 19), (1, 29), (2, 39), (2, 10), (2, 50), (1, 51)]:
        op.process_element(v, ts)

    r = op.process_watermark(55)
    assert values(r) == [4, 5]


def test_out_of_order_count_2_multi_window_multi_fn(op):
    op.add_aggregation(PyReduce(lambda a, b: a - b))
    op.add_window(TumblingWindow(WindowMeasure.COUNT, 3))
    op.add_window(TumblingWindow(WindowMeasure.COUNT, 5))
    for v, ts in [(1, 1), (1, 19), (1, 29), (2, 39), (1, 41), (2, 10), (2, 50), (1, 51), (3, 52)]:
        op.process_element(v, ts)

    r = op.process_watermark(55)
    assert r[0].agg_values()[0] == 4
    assert r[1].agg_values()[0] == 4
    assert r[2].agg_values()[0] == 6
    assert r[3].agg_values()[0] == 7


def test_out_of_order_count_3_mid_stream_watermark(op):
    op.add_window(TumblingWindow(WindowMeasure.COUNT, 3))
    op.add_window(TumblingWindow(WindowMeasure.COUNT, 5))
    for v, ts in [(1, 1), (1, 19), (1, 29), (2, 39), (1, 41), (2, 10)]:
        op.process_element(v, ts)

    r = op.process_watermark(30)
    assert r[0].agg_values()[0] == 4

    op.process_element(2, 50)
    op.process_element(1, 51)
    op.process_element(3, 52)
    op.process_watermark(55)  # reference asserts nothing here; must not raise


def test_power_of_two_window_size_first_edge(op):
    """Divergence fix #4: a power-of-two size makes the wrapped first edge
    exactly Long.MIN_VALUE, which the reference re-reads as its own
    uninitialised sentinel and spins forever (StreamSlicer.java:106-117).
    The kernel must terminate and window correctly."""
    op.add_window(TumblingWindow(WindowMeasure.TIME, 8))
    for v, ts in [(1, 13), (2, 17), (3, 25)]:
        op.process_element(v, ts)
    r = [w for w in op.process_watermark(100) if w.has_value]
    got = {(w.start, w.end): w.agg_values()[0] for w in r}
    assert got == {(8, 16): 1, (16, 24): 2, (24, 32): 3}


def test_count_phantom_window_not_emitted():
    """Divergence fix #7: with total ≡ size−1 (mod size) the reference's
    cend+1 count horizon (WindowManager.java:117-118) emits a window
    missing its final element (49 elements, count-25 → phantom [25,50)
    holding 24). A count window must trigger only when its end count has
    arrived; the element completing it triggers it on the NEXT watermark."""
    op = SlicingWindowOperator(max_lateness=30_000)
    op.add_aggregation(PyReduce(lambda a, b: a + b))
    op.add_window(TumblingWindow(WindowMeasure.COUNT, 25))
    op.seed_watermark(999)
    for i in range(49):
        op.process_element(1, 1000 + i * 10)
    got = {(w.start, w.end) for w in op.process_watermark(10**9) if w.has_value}
    assert got == {(0, 25)}
    # the 50th element completes [25,50)
    op.process_element(1, 1000 + 49 * 10)
    got |= {(w.start, w.end) for w in op.process_watermark(2 * 10**9) if w.has_value}
    assert got == {(0, 25), (25, 50)}


def test_dynamic_add_finer_grid_cuts_edges():
    """A window added MID-STREAM with a finer grid than the running
    windows must start cutting its own slice edges immediately: the
    cached next-edge horizon is invalidated on add_window (it pointed at
    the old grid's next edge, so every finer edge before that would be
    skipped and the new window's instances would cover no slice)."""
    base = 36_000_000  # hour 10
    op = SlicingWindowOperator(max_lateness=1_000)
    op.add_aggregation(PyReduce(lambda a, b: a + b))
    op.add_window(TumblingWindow(WindowMeasure.TIME, 3_600_000, window_id=1))
    op.seed_watermark(base - 1)
    for i in range(10):
        op.process_element(1, base + i * 60_000)  # first 10 min of the hour
    # live add: 1-minute tumbling, next hour edge still 50 min away
    op.add_window(TumblingWindow(WindowMeasure.TIME, 60_000, window_id=2))
    for i in range(10, 20):
        op.process_element(1, base + i * 60_000)
    res = [w for w in op.process_watermark(base + 30 * 60_000) if w.has_value and w.window_id == 2]
    got = {(w.start, w.end): w.agg_values()[0] for w in res}
    # minute windows entirely AFTER the add point must emit exactly
    for m in range(11, 19):
        w = (base + m * 60_000, base + (m + 1) * 60_000)
        assert got.get(w) == 1, (m, got)

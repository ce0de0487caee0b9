"""Port of the reference sliding-window suite (1:1, incl. descending
emission order): slicing/src/test/.../windowTest/SlidingWindowOperatorTest.java:23-197.
"""

import pytest

from scotty_window_processor_spark.functions import PyReduce
from scotty_window_processor_spark.operators import (
    SlicingWindowOperator,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)


@pytest.fixture
def op():
    o = SlicingWindowOperator()
    o.add_aggregation(PyReduce(lambda a, b: a + b))
    return o


def test_in_order(op):
    op.add_window(SlidingWindow(WindowMeasure.TIME, 10, 5))
    for v, ts in [(1, 1), (2, 19), (3, 29), (4, 39), (5, 49)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert r[2].agg_values()[0] == 1
    assert not r[1].has_value
    assert r[0].agg_values()[0] == 2

    r = op.process_watermark(55)
    assert r[0].agg_values()[0] == 5  # 45 - 55
    assert r[1].agg_values()[0] == 5  # 40 - 50
    assert r[2].agg_values()[0] == 4  # 35 - 45
    assert r[3].agg_values()[0] == 4  # 30 - 40
    assert r[4].agg_values()[0] == 3  # 25 - 35
    assert r[5].agg_values()[0] == 3  # 20 - 30
    assert r[6].agg_values()[0] == 2  # 15 - 25


def test_in_order_2(op):
    op.add_window(SlidingWindow(WindowMeasure.TIME, 10, 5))
    for v, ts in [(1, 0), (2, 0), (3, 20), (4, 30), (5, 40)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert not r[0].has_value  # 10 - 20
    assert not r[1].has_value  # 5 - 15
    assert r[2].agg_values()[0] == 3  # 0 - 10

    r = op.process_watermark(55)
    assert not r[0].has_value  # 45 - 55
    assert r[1].agg_values()[0] == 5  # 40 - 50
    assert r[2].agg_values()[0] == 5  # 35 - 45
    assert r[3].agg_values()[0] == 4  # 30 - 40
    assert r[4].agg_values()[0] == 4  # 25 - 35
    assert r[5].agg_values()[0] == 3  # 20 - 30
    assert r[6].agg_values()[0] == 3  # 15 - 25


def test_in_order_two_windows(op):
    op.add_window(SlidingWindow(WindowMeasure.TIME, 10, 5))
    op.add_window(TumblingWindow(WindowMeasure.TIME, 20))
    for v, ts in [(1, 1), (2, 19), (3, 29), (4, 39), (5, 49)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert r[0].agg_values()[0] == 2  # 10 - 20
    assert not r[1].has_value  # 5 - 15
    assert r[2].agg_values()[0] == 1  # 0 - 10
    assert r[3].agg_values()[0] == 3  # 0 - 20

    r = op.process_watermark(55)
    assert [w.agg_values()[0] for w in r[:8]] == [5, 5, 4, 4, 3, 3, 2, 7]


def test_in_order_two_windows_dynamic(op):
    op.add_window(SlidingWindow(WindowMeasure.TIME, 10, 5))
    op.process_element(1, 1)
    op.process_element(2, 19)
    op.add_window(TumblingWindow(WindowMeasure.TIME, 20))
    op.process_element(3, 29)
    op.process_element(4, 39)
    op.process_element(5, 49)

    r = op.process_watermark(22)
    assert r[0].agg_values()[0] == 2
    assert not r[1].has_value
    assert r[2].agg_values()[0] == 1
    assert r[3].agg_values()[0] == 3

    r = op.process_watermark(55)
    assert [w.agg_values()[0] for w in r[:8]] == [5, 5, 4, 4, 3, 3, 2, 7]


def test_in_order_two_windows_dynamic_2(op):
    op.add_window(TumblingWindow(WindowMeasure.TIME, 20))
    op.process_element(1, 1)
    op.process_element(2, 19)

    r = op.process_watermark(22)
    assert r[0].agg_values()[0] == 3

    op.add_window(SlidingWindow(WindowMeasure.TIME, 10, 5))
    op.process_element(3, 29)
    op.process_element(4, 39)
    op.process_element(5, 49)

    r = op.process_watermark(55)
    assert [w.agg_values()[0] for w in r[:7]] == [7, 5, 5, 4, 4, 3, 3]


def test_out_of_order(op):
    op.add_window(SlidingWindow(WindowMeasure.TIME, 10, 5))
    for v, ts in [(1, 1), (1, 30), (1, 20), (1, 23), (1, 25), (1, 45)]:
        op.process_element(v, ts)

    r = op.process_watermark(22)
    assert not r[0].has_value  # 10 - 20
    assert not r[1].has_value  # 5 - 15
    assert r[2].agg_values()[0] == 1  # 0 - 10

    r = op.process_watermark(55)
    assert r[0].agg_values()[0] == 1  # 45 - 55
    assert r[1].agg_values()[0] == 1  # 40 - 50
    assert not r[2].has_value  # 35 - 45
    assert r[3].agg_values()[0] == 1  # 30 - 40
    assert r[4].agg_values()[0] == 2  # 25 - 35
    assert r[5].agg_values()[0] == 3  # 20 - 30
    assert r[6].agg_values()[0] == 2  # 15 - 25


def test_count_sliding_in_order(op):
    """Count-measure sliding windows (size 4, slide 2): positional windows
    over arrival order. A count window triggers only once its END count
    has actually arrived (divergence fix #7: the reference's cend+1 count
    horizon — doubled by the sliding trigger's further +1 — emitted the
    partial tail [8,12) here with only 2 of 4 elements)."""
    op.add_window(SlidingWindow(WindowMeasure.COUNT, 4, 2))
    for i in range(10):
        op.process_element(i + 1, i * 10)
    r = op.process_watermark(1000)
    got = {(w.start, w.end): w.agg_values()[0] for w in r if w.has_value}
    assert got == {
        (0, 4): 10,   # 1+2+3+4
        (2, 6): 18,   # 3+4+5+6
        (4, 8): 26,
        (6, 10): 34,
    }


def test_count_sliding_equals_count_tumbling_when_slide_is_size():
    a = SlicingWindowOperator()
    a.add_aggregation(PyReduce(lambda x, y: x + y))
    a.add_window(SlidingWindow(WindowMeasure.COUNT, 4, 4))
    b = SlicingWindowOperator()
    b.add_aggregation(PyReduce(lambda x, y: x + y))
    b.add_window(TumblingWindow(WindowMeasure.COUNT, 4))
    for i in range(9):
        a.process_element(i + 1, i * 10)
        b.process_element(i + 1, i * 10)
    ra = {(w.start, w.end, w.agg_values()[0]) for w in a.process_watermark(500) if w.has_value}
    rb = {(w.start, w.end, w.agg_values()[0]) for w in b.process_watermark(500) if w.has_value}
    assert ra == rb


@pytest.mark.parametrize("window, ts, expected", [
    # the row at 9 shares the slide-grid slice [8, 12) with rows at or past
    # the end of [0, 10); the operator slices on the gcd grid (2 ms)
    pytest.param(SlidingWindow(WindowMeasure.TIME, 10, 4), [1, 2, 5, 9, 10, 11, 30, 31, 33, 47],
                 {(0, 10): 4, (4, 14): 4, (8, 18): 3, (24, 34): 3, (28, 38): 3,
                  (32, 42): 1, (40, 50): 1, (44, 54): 1},
                 id="time_10_4"),
    pytest.param(SlidingWindow(WindowMeasure.COUNT, 4, 3), list(range(10)),
                 {(0, 4): 4, (3, 7): 4, (6, 10): 4},
                 id="count_4_3"),
])
def test_non_tiling_sliding_window_holds_every_row(window, ts, expected):
    """A sliding window whose size is not a multiple of its slide, alone
    in the operator, over in-order rows at lateness 0: each window counts
    every row it holds."""
    from scotty_window_processor_spark.functions import CountAggregation

    op = SlicingWindowOperator(max_lateness=0)
    op.add_aggregation(CountAggregation())
    op.add_window(window)
    op.seed_watermark(ts[0] - 1)
    for t in ts:
        op.process_element(t, t)
    got = {(w.start, w.end): w.agg_values()[0] for w in op.process_watermark(1000) if w.has_value}
    assert got == expected

"""Eviction of the window operator's state: slices and sessions that no
unfired window covers go, those that one still covers stay."""

from scotty_window_processor_spark.functions import SumAggregation
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlicingWindowOperator,
    TumblingWindow,
    WindowMeasure,
)


def test_eviction_keeps_active_session_reach():
    """Slices older than wm - max(maxFixedWindowSize, oldest active session
    start) are dropped (WindowManager.java:81-91)."""
    op = SlicingWindowOperator()
    op.add_aggregation(SumAggregation())
    op.add_window(TumblingWindow(WindowMeasure.TIME, 10))
    for ts in range(0, 5000, 10):
        op.process_element(1, ts)
    op.process_watermark(4000)
    # everything older than 4000 - 1000(maxLateness) - 10(size) is evictable
    assert op.store[0].t_start >= 2980
    assert len(op.store) < 500


def test_session_eviction_respects_open_session():
    op = SlicingWindowOperator()
    op.add_aggregation(SumAggregation())
    op.add_window(SessionWindow(WindowMeasure.TIME, 100))
    op.process_element(1, 0)
    op.process_element(1, 50)  # same session, still open at wm
    r = op.process_watermark(100)  # session end 50+100=150 >= 100: not emitted
    assert r == []
    r = op.process_watermark(1000)
    assert [(w.start, w.end, w.agg_values()[0]) for w in r] == [(0, 150, 2)]

"""Transcript payload aggregates (ToolTally, RoleTextRollup, Quantile) and
the sparse-key divergence fix, at the kernel level (no Spark)."""

from scotty_window_processor_spark.functions import (
    CountAggregation,
    QuantileAggregation,
    RoleTextRollup,
    SumAggregation,
    ToolTallyAggregation,
)
from scotty_window_processor_spark.operators import (
    SlicingWindowOperator,
    TumblingWindow,
    WindowMeasure,
)


def turn(idx, role, text, tool=None):
    return {"turn_idx": idx, "role": role, "text": text, "tool": tool}


def test_tool_tally_and_role_rollup():
    op = SlicingWindowOperator()
    op.add_aggregation(ToolTallyAggregation())
    op.add_aggregation(RoleTextRollup())
    op.add_window(TumblingWindow(WindowMeasure.TIME, 100))
    turns = [
        (turn(0, "user", "hi"), 10),
        (turn(1, "assistant", "hello"), 20),
        (turn(2, "tool", "result-a", tool="search"), 30),
        (turn(3, "assistant", "done"), 40),
        (turn(4, "tool", "result-b", tool="search"), 150),
        (turn(5, "tool", "result-c", tool="exec"), 160),
    ]
    for element, ts in turns:
        op.process_element(element, ts)
    r = op.process_watermark(1000)
    w0, w1 = r[0], r[1]
    assert (w0.start, w0.end) == (0, 100)
    tally0, rollup0 = w0.agg_values()
    assert tally0 == {"search": 1}
    # per-turn text equality under stable turn_idx ordering
    assert rollup0 == {
        "user": ["hi"],
        "assistant": ["hello", "done"],
        "tool": ["result-a"],
    }
    tally1, rollup1 = w1.agg_values()
    assert tally1 == {"exec": 1, "search": 1}
    assert rollup1 == {"tool": ["result-b", "result-c"]}


def test_quantile_exact_median():
    op = SlicingWindowOperator()
    op.add_aggregation(QuantileAggregation(0.5))
    op.add_window(TumblingWindow(WindowMeasure.TIME, 100))
    for v, ts in [(5, 1), (1, 2), (9, 3), (7, 4), (3, 5)]:
        op.process_element(v, ts)
    r = op.process_watermark(200)
    assert r[0].agg_values()[0] == 5  # exact median of {1,3,5,7,9}


def test_sparse_key_gap_exceeding_lateness_keeps_records():
    """Divergence fix #3: inter-arrival gaps > max_lateness must not drop
    records (the reference's edge jump leaves a multi-window-spanning
    slice that no window contains)."""
    op = SlicingWindowOperator(max_lateness=1000)
    op.add_aggregation(SumAggregation())
    op.add_aggregation(CountAggregation())
    op.add_window(TumblingWindow(WindowMeasure.TIME, 10))
    op.seed_watermark(0)
    # gaps of ~50k ms >> lateness 1000
    events = [(1, 3), (2, 50_007), (3, 100_013), (4, 100_014), (5, 150_021)]
    for v, ts in events:
        op.process_element(v, ts)
    results = op.process_watermark(200_000)
    emitted = {(w.start, w.end): tuple(w.agg_values()) for w in results if w.has_value}
    assert emitted == {
        (0, 10): (1, 1),
        (50_000, 50_010): (2, 1),
        (100_010, 100_020): (7, 2),
        (150_020, 150_030): (5, 1),
    }


def test_string_canonical_payload_aggregates():
    """ToolTallyString / RoleTextRollupString: same partials, canonical
    hash-stable string lower() (the oracle-gated forms)."""
    from scotty_window_processor_spark.functions import (
        RoleTextRollupString,
        ToolTallyString,
    )

    op = SlicingWindowOperator()
    op.add_aggregation(ToolTallyString())
    op.add_aggregation(RoleTextRollupString())
    op.add_window(TumblingWindow(WindowMeasure.TIME, 100))
    turns = [
        (turn(0, "user", "hi"), 10),
        (turn(2, "tool", "result-a", tool="search"), 30),
        (turn(1, "assistant", "hello"), 20),  # out-of-order by ts
        (turn(3, "tool", "result-b", tool="exec"), 40),
    ]
    for element, ts in turns:
        op.process_element(element, ts)
    (w,) = [w for w in op.process_watermark(1000) if w.has_value]
    tally, rollup = w.agg_values()
    assert tally == "exec=1,search=1"
    # roles sorted; texts in turn_idx order regardless of arrival order
    assert rollup == "assistant:hello|tool:result-a;result-b|user:hi"


def test_histogram_quantile_bounded_state():
    """HistogramQuantileAggregation: bin-width binning bounds the partial
    size by range/width (not distinct values); the lowered answer is the
    lower edge of the quantile bin, within width of the exact median, and
    invert/bulk paths agree with per-element lifts."""
    import numpy as np

    from scotty_window_processor_spark.functions import HistogramQuantileAggregation

    f = HistogramQuantileAggregation(q=0.5, width=0.25)
    vals = [0.1, 0.2, 0.3, 1.7, 1.8, 2.9, 3.05]  # median 1.7
    p = {}
    for v in vals:
        p = f.combine(p, f.lift(v))
    # 7 distinct values but only 6 occupied bins (0.1/0.2 share bin 0)
    assert len(p) == 6 and sum(p.values()) == 7
    ans = f.lower(p)
    assert ans == 1.5  # lower edge of bin containing 1.7
    assert 0 <= 1.7 - ans < 0.25
    # bulk path builds the identical partial
    assert f.bulk_lift_values(np.array(vals), 0, len(vals)) == p
    # invertibility: remove a prefix, equals rebuilding from the suffix
    removed = f.invert(f.clone(p), f.bulk_lift_values(np.array(vals), 0, 3))
    rebuilt = f.bulk_lift_values(np.array(vals), 3, len(vals))
    assert removed == rebuilt
    # empty window
    assert f.lower({}) is None


def test_linear_counting_bounded_state():
    """LinearCountingAggregation: union-mergeable occupied-position set,
    bounded by m; estimate within the linear-counting error of the true
    cardinality; saturation floors at m; positions are
    int(md5(str(v)).hexdigest()[:15], 16) % m, the SQL oracle's
    ('0x' || left(md5(v), 15))::BIGINT % m."""
    import hashlib
    import math as _math

    from scotty_window_processor_spark.functions import LinearCountingAggregation

    f = LinearCountingAggregation(col="v", m=1024)
    vals = [f"k{i}" for i in range(80)] * 3  # duplicates must not inflate
    p = set()
    for v in vals:
        p = f.combine(p, f.lift({"v": v}))
    assert len(p) <= 80
    est = f.lower(p)
    assert abs(est - 80) < 6  # linear counting error at 80/1024 occupancy
    # merge-order insensitivity: two halves merged equals one pass
    h1, h2 = set(), set()
    for v in vals[:120]:
        h1 = f.combine(h1, f.lift({"v": v}))
    for v in vals[120:]:
        h2 = f.combine(h2, f.lift({"v": v}))
    assert f.combine(f.clone(h1), h2) == p
    # positions are the first 15 hex digits (60 bits) of the md5, mod m
    pos = int(hashlib.md5(b"k0").hexdigest()[:15], 16) % 1024
    assert pos in p
    assert f.lower(set()) is None
    assert f.lower(set(range(1024))) == 1024.0

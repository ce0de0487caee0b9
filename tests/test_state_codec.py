"""Round trip of the stream's state cell (streaming.state_codec), without
Spark. One operator is never encoded; the other is pickled through
``encode_op`` and rebuilt with ``new_operator`` + ``decode_op`` at every
micro-batch boundary, as the stream handler does. Fed the same
disordered micro-batches and fired at the same frontiers, both must emit
the same rows, for tumbling/sliding/session × time/count windows and for
named reductions, a custom partial, a reduce with no bulk lift and
record mode. The property compares the kernel with itself, so it checks
the encoding, not the kernel's windows."""

import operator
import pickle

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import example, given, settings, strategies as st

import numpy as np

from scotty_window_processor_spark.functions import (
    CountAggregation,
    MaxAggregation,
    MeanAggregation,
    MinAggregation,
    PyReduce,
    QuantileAggregation,
    SumAggregation,
    ToolTallyString,
)
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.operators.kernel import lower_windows, new_operator
from scotty_window_processor_spark.operators.windows import JLONG_MIN
from scotty_window_processor_spark.streaming.state_codec import decode_op, encode_op

SEC = 1_000
BASE = 472_223 * 3_600_000  # an hour-aligned epoch ms
DELAY = 30 * SEC
TOOLS = [None, "", "search", "exec"]

AGG_MIXES = {
    "named": [("n", "long", CountAggregation), ("total", "double", SumAggregation),
              ("lo", "double", MinAggregation), ("hi", "double", MaxAggregation),
              ("avg", "double", MeanAggregation)],
    "quantile": [("n", "long", CountAggregation), ("med", "double", QuantileAggregation)],
    "reduce": [("total", "double", lambda: PyReduce(operator.add))],
    "records": [("n", "long", CountAggregation), ("tools", "string", ToolTallyString)],
}

measure = st.sampled_from([WindowMeasure.TIME, WindowMeasure.COUNT])
window_spec = st.one_of(
    st.tuples(st.just("tumbling"), measure, st.integers(2, 60)),
    st.tuples(st.just("sliding"), measure, st.integers(2, 60), st.integers(1, 60)),
    st.tuples(st.just("session"), st.just(WindowMeasure.TIME), st.integers(2, 60)),
)


def make_windows(specs):
    out = []
    for i, (kind, m, size, *slide) in enumerate(specs, start=1):
        unit = SEC if m == WindowMeasure.TIME else 1
        if kind == "tumbling":
            out.append(TumblingWindow(m, size * unit, window_id=i))
        elif kind == "sliding":
            out.append(SlidingWindow(m, size * unit, min(size, slide[0]) * unit, window_id=i))
        else:
            out.append(SessionWindow(m, size * unit, window_id=i))
    return out


@st.composite
def streams(draw):
    gaps = draw(st.lists(st.integers(0, 20 * SEC), min_size=1, max_size=60))
    ts = BASE + np.cumsum(np.asarray(gaps, dtype="int64"))
    delay = st.one_of(st.just(0), st.integers(0, DELAY - 1))
    disorder = np.asarray(draw(st.lists(delay, min_size=len(ts), max_size=len(ts))), dtype="int64")
    order = np.argsort(ts + disorder, kind="stable")
    cuts = sorted(set(draw(st.lists(st.integers(1, len(ts)), max_size=8))) | {len(ts)})
    # a key fires in some micro-batches only, so it may first fire
    # (and be seeded) after its state went through the cell
    fires = draw(st.lists(st.booleans(), min_size=len(cuts), max_size=len(cuts)))
    values = (np.arange(len(ts)) % 7).astype("float64")
    return ts[order], values[order], [TOOLS[i % 4] for i in order.tolist()], cuts, fires


def fire(op, watermark):
    """Fire ``op`` at ``watermark`` as the stream handler does: a key is
    seeded at its earliest row when it first fires."""
    if op.last_watermark == JLONG_MIN and not op.store.is_empty:
        op.seed_watermark(min(s.t_first for s in op.store.slices) - 1)
    return lower_windows(op.process_watermark(watermark))


def run(windows, aggs, stream, roundtrip):
    ts, values, tools, cuts, fires = stream
    record = aggs is AGG_MIXES["records"]
    op = new_operator(windows, aggs, DELAY)
    emitted, frontier, lo = [], JLONG_MIN, 0
    for hi, fires_now in zip(cuts, fires):
        if roundtrip:
            cell = pickle.dumps(encode_op(op, None), protocol=pickle.HIGHEST_PROTOCOL)
            op = new_operator(windows, aggs, DELAY)
            decode_op(op, None, *pickle.loads(cell))
        order = lo + np.argsort(ts[lo:hi], kind="stable")
        if record:
            data = {"value": values[order].tolist(), "tool": [tools[i] for i in order.tolist()]}
        else:
            data = values[order]
        op.process_in_order_bulk(data, ts[order], None)
        frontier = max(frontier, int(ts[lo:hi].max()) - DELAY)
        if fires_now:
            emitted.append(fire(op, frontier))
        lo = hi
    emitted.append(fire(op, int(ts.max()) + 3_600_000))
    return emitted


@settings(max_examples=200, deadline=None)
@given(streams(), st.lists(window_spec, min_size=1, max_size=3),
       st.sampled_from(sorted(AGG_MIXES)))
# the late row at 6.001 s moves the start of both windows' sessions, and
# the row at 1 ms joins one of them only
@example((BASE + np.array([6_002, 6_001, 1]), np.zeros(3), [None] * 3, [1, 2, 3],
          [False] * 3), [("session", WindowMeasure.TIME, 5), ("session", WindowMeasure.TIME, 6)],
         "named")
def test_decoded_operator_emits_what_the_live_one_does(stream, specs, mix):
    windows, aggs = make_windows(specs), AGG_MIXES[mix]
    live = run(windows, aggs, stream, roundtrip=False)
    assert run(windows, aggs, stream, roundtrip=True) == live


def test_decode_refuses_another_aggregate_count():
    windows = [TumblingWindow(WindowMeasure.TIME, 10 * SEC, window_id=1)]
    aggs = AGG_MIXES["quantile"]
    op = new_operator(windows, aggs, DELAY)
    op.process_in_order_bulk(np.ones(3), BASE + np.arange(3, dtype="int64") * SEC, None)
    cell = pickle.dumps(encode_op(op, None))
    with pytest.raises(ValueError, match="2 aggregates per slice, the query has 1"):
        decode_op(new_operator(windows, aggs[:1], DELAY), None, *pickle.loads(cell))


def test_decode_refuses_a_first_count_window():
    """Slices cut without a count window hold no record buffers, so a
    count window cannot be added at a restart."""
    windows = [TumblingWindow(WindowMeasure.TIME, 10 * SEC, window_id=1)]
    aggs = AGG_MIXES["named"]
    op = new_operator(windows, aggs, DELAY)
    op.process_in_order_bulk(np.ones(3), BASE + np.arange(3, dtype="int64") * SEC, None)
    cell = pickle.dumps(encode_op(op, None))
    grown = new_operator(windows + [TumblingWindow(WindowMeasure.COUNT, 5, window_id=2)], aggs, DELAY)
    with pytest.raises(ValueError, match="no record buffers, the query has a count window"):
        decode_op(grown, None, *pickle.loads(cell))

"""Exact-parity check for the vectorized in-order path
(SlicingWindowOperator.process_in_order_bulk, driven by kernel.feed_sorted
as the batch kernel tier and the stream drive it) against the per-element
reference path, across randomized window mixes, disorder, sparse gaps and
multi-batch feeding.
"""

import random

import numpy as np
import pytest

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
from scotty_window_processor_spark.operators.kernel import feed_sorted, new_operator

KINDS = ["sum", "count", "min", "max", "mean"]
FACTORIES = [SumAggregation, CountAggregation, MinAggregation, MaxAggregation, MeanAggregation]

WINDOW_MIXES = [
    [TumblingWindow(WindowMeasure.TIME, 100, window_id=1)],
    [TumblingWindow(WindowMeasure.TIME, 100, window_id=1),
     SlidingWindow(WindowMeasure.TIME, 300, 50, window_id=2)],
    [SessionWindow(WindowMeasure.TIME, 70, window_id=3)],
    [TumblingWindow(WindowMeasure.TIME, 100, window_id=1),
     SessionWindow(WindowMeasure.TIME, 70, window_id=3),
     SlidingWindow(WindowMeasure.TIME, 200, 100, window_id=2)],
]


def _new_op(windows, lateness=50):
    return new_operator(windows, [(f.__name__, "double", f) for f in FACTORIES], lateness)


def _emit(results):
    out = []
    for w in results:
        if not w.has_value:
            continue
        vals = tuple(
            round(v, 9) if isinstance(v, float) else v
            for v in (
                w.agg_state.functions[i].lower(w.agg_state.partials[i])
                if w.agg_state.present[i] else None
                for i in range(len(w.agg_state.functions))
            )
        )
        out.append((w.window_id, w.start, w.end, w.measure.value, vals))
    return sorted(out)


def _random_batches(seed, n_batches=4, batch=60, sparse=False):
    rng = random.Random(seed)
    t = 0
    batches = []
    for _ in range(n_batches):
        ts = []
        for _ in range(batch):
            step = rng.choice([1, 3, 7, 25]) if not sparse else rng.choice([1, 9, 400])
            t += step
            # bounded disorder: occasionally pull an event back in time
            ts.append(max(0, t - (rng.randrange(40) if rng.random() < 0.25 else 0)))
        vals = [round(rng.uniform(-5, 5), 3) for _ in ts]
        order = sorted(range(len(ts)), key=lambda i: ts[i])  # handler pre-sorts
        batches.append((np.array([vals[i] for i in order]),
                        np.array([ts[i] for i in order], dtype="int64")))
    return batches


@pytest.mark.parametrize("mix", range(len(WINDOW_MIXES)))
@pytest.mark.parametrize("seed", [7, 21, 99])
@pytest.mark.parametrize("sparse", [False, True])
def test_bulk_matches_per_element(mix, seed, sparse):
    windows = WINDOW_MIXES[mix]
    a = _new_op(windows)
    b = _new_op(windows)
    emitted_a, emitted_b = [], []
    wm = -1
    for vals, ts in _random_batches(seed, sparse=sparse):
        a.seed_watermark(int(ts[0]) - 1)
        b.seed_watermark(int(ts[0]) - 1)
        for v, t in zip(vals.tolist(), ts.tolist()):
            a.process_element(v, t)
        feed_sorted(b, vals, ts, KINDS)
        wm = int(ts.max()) - 30  # watermark trails the batch max
        emitted_a += _emit(a.process_watermark(wm))
        emitted_b += _emit(b.process_watermark(wm))
    final = wm + 10_000
    emitted_a += _emit(a.process_watermark(final))
    emitted_b += _emit(b.process_watermark(final))
    assert emitted_a == emitted_b
    assert emitted_a, "degenerate test: nothing emitted"


# -- custom-function segment lifts (bulk_lift_values / bulk_lift_records) --

from scotty_window_processor_spark.functions import (  # noqa: E402
    QuantileAggregation,
    RoleTextRollupString,
    ToolTallyString,
)
from scotty_window_processor_spark.operators.kernel import bulk_lift_kinds  # noqa: E402


def _emit_payload(results):
    out = []
    for w in results:
        if not w.has_value:
            continue
        vals = tuple(
            round(v, 9) if isinstance(v, float) else v
            for v in (
                w.agg_state.functions[i].lower(w.agg_state.partials[i])
                if w.agg_state.present[i] else None
                for i in range(len(w.agg_state.functions))
            )
        )
        out.append((w.window_id, w.start, w.end, w.measure.value, vals))
    return sorted(out)


@pytest.mark.parametrize("mix", range(len(WINDOW_MIXES)))
@pytest.mark.parametrize("seed", [11, 42])
def test_bulk_quantile_matches_per_element(mix, seed):
    """Value-mode custom bulk lift: exact quantile histogram partials."""
    windows = WINDOW_MIXES[mix]

    def new_op():
        op = new_operator(windows, [("n", "long", CountAggregation),
                                    ("q", "double", QuantileAggregation),
                                    ("s", "double", SumAggregation)], 50)
        return op, op.functions

    rng = random.Random(seed)
    t = 0
    ts, vals = [], []
    for _ in range(400):
        t += rng.choice([1, 3, 7, 25])
        ts.append(t)
        # coarse values so histogram buckets collide (exercises combine)
        vals.append(float(rng.randrange(8)))
    ts = np.array(ts, dtype="int64")
    vals = np.array(vals)

    a, fns_a = new_op()
    b, fns_b = new_op()
    kinds = bulk_lift_kinds(fns_b, value_mode=True)
    assert kinds is not None and callable(kinds[1])

    a.seed_watermark(int(ts[0]) - 1)
    b.seed_watermark(int(ts[0]) - 1)
    for v, tt in zip(vals.tolist(), ts.tolist()):
        a.process_element(v, tt)
    feed_sorted(b, vals, ts, kinds)
    final = int(ts[-1]) + 10_000
    assert _emit_payload(a.process_watermark(final)) == _emit_payload(b.process_watermark(final))


@pytest.mark.parametrize("mix", range(len(WINDOW_MIXES)))
@pytest.mark.parametrize("seed", [5, 77])
def test_bulk_records_matches_per_element(mix, seed):
    """Record-mode custom bulk lifts: tool tally + role/text rollup +
    count over columnar records, vs per-element dict processing."""
    windows = WINDOW_MIXES[mix]

    def new_op():
        op = new_operator(windows, [("n", "long", CountAggregation),
                                    ("tools", "string", ToolTallyString),
                                    ("roles", "string", RoleTextRollupString)], 50)
        return op, op.functions

    rng = random.Random(seed)
    t = 0
    rows = []
    for i in range(400):
        t += rng.choice([1, 3, 7, 25])
        rows.append(
            dict(
                ts=t,
                turn_idx=i,
                role=rng.choice(["user", "assistant", "system"]),
                tool=rng.choice([None, "", "search", "exec", "read"]),
                text=f"m{i}",
            )
        )
    ts = np.array([r["ts"] for r in rows], dtype="int64")
    cols = {k: [r[k] for r in rows] for k in rows[0]}

    a, fns_a = new_op()
    b, fns_b = new_op()
    kinds = bulk_lift_kinds(fns_b, value_mode=False)
    assert kinds is not None and all(callable(k) for k in kinds)

    a.seed_watermark(int(ts[0]) - 1)
    b.seed_watermark(int(ts[0]) - 1)
    for r, tt in zip(rows, ts.tolist()):
        a.process_element(r, tt)
    feed_sorted(b, cols, ts, kinds)
    final = int(ts[-1]) + 10_000
    assert _emit_payload(a.process_watermark(final)) == _emit_payload(b.process_watermark(final))

"""Batch windowed aggregation: the batch entry point into the engine.

Each query takes one of two tiers, chosen once for all its windows. A lone
time window with a value column and built-in aggregates runs as one
Catalyst subplan (`windowed.window_aggregate`): its slices are its
windows, so there is nothing to share, and Catalyst aggregates map-side
before the shuffle. Every other query runs the batch slicer
(`plans.vectorized_multi`): one exchange by key, then one `mapInArrow`
pass that computes every window of every key in closed form from one cut
into slices shared by all concurrent windows — any mix of tumbling /
sliding / session, time- or count-measured, with any aggregate. That is
the reference's headline aggregate-sharing property
(slicing/.../LazyAggregateStore.java:81-99), which Spark's built-in
`F.window` cannot express (it duplicates rows per overlapping window
instead).

The stream's per-key operator (`operators.kernel`) is not a batch tier.
`_kernel_run` and `_final_watermark` below run one key through it as a
flushed batch would, for tests and the benchmark's probes.

A hot key lands in one partition of the key exchange. For one fixed time
window and associative/commutative functions, the separate Catalyst plan
`plans.skew.salted_window_aggregate` splits it over salts; sessions always
run unsalted.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import AggSpec, QuantileAggregation
from ..operators.kernel import lower_windows, new_operator
from ..operators.windows import SessionWindow, Window, WindowMeasure, check_window_ids
from .vectorized_multi import NAMED_LIFTS, multikey_window_aggregate
from .windowed import window_aggregate


def _final_watermark(max_ts: int, windows: Sequence[Window], lateness: int) -> int:
    horizon = lateness + 1
    for w in windows:
        if isinstance(w, SessionWindow):
            horizon = max(horizon, w.gap + 1)
        elif w.measure == WindowMeasure.TIME:
            horizon = max(horizon, w.clear_delay() + 1)
    return max_ts + horizon


def scotty_window_aggregate(
    df: DataFrame,
    key: str,
    ts: str,
    value: Optional[str],
    windows: Sequence[Window],
    aggs: Sequence[AggSpec],
    lateness_ms: int = 1000,
    arrival_order: Optional[str] = None,
) -> DataFrame:
    """Batch windowed aggregation over one of two tiers, chosen per query:

    1. **Catalyst built-ins** for a query whose only window is
       time-measured, with a value column and aggregates that all have a
       built-in: tumbling/sliding → F.window, session → F.session_window.
       Pure JVM, whole-stage codegen, partial aggregation before the
       shuffle.
    2. **the batch slicer** (plans.vectorized_multi) for every other
       query, in one pass over all its windows: two or more windows,
       count-measure windows, custom lift/combine/lower functions and
       record mode (``value=None``: each function sees the row's columns).

    Both tiers emit the same schema and the same rows (see
    tests/test_scotty_batch_spark.py). Each window needs its own
    ``window_id``. ``arrival_order`` names a column that breaks ties on
    ts. ``lateness_ms`` is the stream's allowed lateness; it cannot change
    the rows of sorted input flushed by one watermark, and is accepted so
    that batch and stream calls read alike.

    Output: (key, window_id, measure, w_start, w_end, <one column per agg>).
    Time windows report epoch-ms bounds; count windows report ordinal bounds.
    The result's ``tiers`` attribute maps each window_id to the tier that
    computes it: "catalyst" or "vectorized".
    """
    return _aggregate(df, key, ts, value, windows, aggs, arrival_order, one_key=False)


def _aggregate(df, key, ts, value, windows, aggs, arrival_order, one_key):
    check_window_ids(windows)
    # The measured break-even is one window: from two windows on, one
    # slicer pass beat a Catalyst subplan per window on every mix
    # measured, keyed and global (the global operator's one key needs the
    # slicer's map-side slice partials for that), while a lone window is
    # its own slice and Catalyst's map-side partials can win there. The
    # Column expressions are built only once this tier is chosen.
    if (len(windows) == 1 and windows[0].measure == WindowMeasure.TIME
            and value is not None
            and all(_catalyst_builtin(factory()) for _, _, factory in aggs)):
        (w,) = windows
        catalyst_exprs = _catalyst_aggs(aggs, value)
        out = window_aggregate(df, key, ts, w, catalyst_exprs).select(
            key,
            F.lit(w.window_id).cast("long").alias("window_id"),
            F.lit("time").alias("measure"),
            "w_start", "w_end", *catalyst_exprs,
        )
        out.tiers = {w.window_id: "catalyst"}
        return out

    out = multikey_window_aggregate(df, key, ts, value, windows, aggs, arrival_order, one_key)
    out.tiers = {w.window_id: "vectorized" for w in windows}
    return out


def scotty_global_aggregate(
    df: DataFrame,
    ts: str,
    value: Optional[str],
    windows: Sequence[Window],
    aggs: Sequence[AggSpec],
    lateness_ms: int = 1000,
    arrival_order: Optional[str] = None,
) -> DataFrame:
    """Non-keyed (global) windowed aggregation — the batch analogue of the
    reference's GlobalScottyWindowOperator (flink-connector/.../
    GlobalScottyWindowOperator.java:15-71), which funnels the whole stream
    through ONE slicing operator.

    The keyed operator over one constant key, so the tier rule is the
    same. A lone time window with standard aggregates takes the Catalyst
    tier, where partial aggregation happens map-side per partition, so no
    single task ever sees the whole input. Every other query runs the
    batch slicer over the constant key: single-group by construction, like
    the reference's own global operator, which is a single ProcessFunction
    instance. With only tumbling/sliding time windows and count, sum and
    mean, Catalyst first sums each shared slice map-side, and the one
    slicer task reads one row per slice; otherwise it reads the whole
    input. Associative/commutative functions over one fixed time window
    can instead go through the salted two-level plan (plans.skew), which
    spreads the single group over salts. ``lateness_ms`` is accepted as
    in ``scotty_window_aggregate``.

    Output: (window_id, measure, w_start, w_end, <one column per agg>).
    """
    tagged = df.withColumn("_g", F.lit(1))
    out = _aggregate(tagged, "_g", ts, value, windows, aggs, arrival_order, one_key=True)
    result = out.drop("_g")
    result.tiers = out.tiers
    return result


# Catalyst built-in per NAMED_LIFTS reduction name.
_CATALYST_REDUCTIONS = {
    "count": lambda value: F.count(F.lit(1)),
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "mean": F.avg,
}


def _catalyst_builtin(fn) -> bool:
    """Whether an aggregate function has a Catalyst built-in. Matched by
    exact type, as ``NAMED_LIFTS`` is: a subclass with its own lift (or
    the sketch partial of ``HistogramQuantileAggregation``) is not the
    built-in."""
    return type(fn) in NAMED_LIFTS or type(fn) is QuantileAggregation


def _catalyst_aggs(aggs: Sequence[AggSpec], value: str):
    """Catalyst expressions by output name for aggregates that all pass
    ``_catalyst_builtin``."""
    out = {}
    for name, ddl, factory in aggs:
        fn = factory()
        kind = NAMED_LIFTS.get(type(fn))
        if kind is not None:
            expr = _CATALYST_REDUCTIONS[kind](value)
        else:
            # exact discrete quantile, pure JVM (guide §4: built-ins over
            # Python): QuantileAggregation.lower() returns the smallest v
            # whose cumulative count reaches max(1, ceil(q·total)) over the
            # value→count histogram — which is exactly the 1-indexed
            # element at that rank of the sorted value multiset. ceil is
            # the same float64 op both sides; collect_list + array_sort
            # shuffle the same rows the slicer would, minus the Python
            # boundary.
            expr = F.try_element_at(
                F.array_sort(F.collect_list(value)),
                F.greatest(
                    F.lit(1).cast("long"),
                    F.ceil(F.count(value) * F.lit(float(fn.q))),
                ).cast("int"),
            )
        out[name] = expr.cast(ddl)
    return out


def _kernel_run(data, ts_ms, value, windows, aggs, lateness_ms, final_wm):
    """One key's sorted run through the stream's per-key operator, fired by
    one final watermark (``_final_watermark``): the operator's rows for a
    flushed batch. ``data`` is the key's payload — a numpy value slice in
    value mode, a dict of column-list slices in record mode; ``value`` is
    unused."""
    op = new_operator(windows, aggs, lateness_ms)
    op.seed_watermark(int(ts_ms[0]) - 1)
    op.process_in_order_bulk(data, ts_ms, None)
    return lower_windows(op.process_watermark(final_wm))

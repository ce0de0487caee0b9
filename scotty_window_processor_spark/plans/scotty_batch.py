"""Batch windowed aggregation: the batch entry point into the engine.

Each window family takes one of two tiers: a Catalyst subplan
(`windowed.window_aggregate`), or the batch slicer (`plans.vectorized_multi`):
one exchange by key, then one `mapInArrow` pass that computes every window
of every key in closed form from one cut into slices shared by all
concurrent windows — any mix of tumbling / sliding / session, time- or
count-measured, with any aggregate. That is the reference's headline
aggregate-sharing property (slicing/.../LazyAggregateStore.java:81-99),
which Spark's built-in `F.window` cannot express (it duplicates rows per
overlapping window instead).

The slicing kernel (`operators.kernel`) is the stream's operator, not a
batch tier. `_kernel_run` and `_final_watermark` below run one key through
it as a flushed batch would: the reference that tests and the benchmark's
probes compare with.

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
from ..operators.kernel import (
    NAMED_LIFTS,
    bulk_lift_kinds,
    feed_sorted,
    lower_windows,
    new_operator,
)
from ..operators.windows import SessionWindow, Window, WindowMeasure
from .vectorized_multi import multikey_window_aggregate
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
    prefer_catalyst: bool = True,
) -> DataFrame:
    """Batch windowed aggregation with a two-tier physical planner:

    1. **Catalyst built-ins** (prefer_catalyst, standard aggregates, time
       windows, fewer than three time families): tumbling/sliding →
       F.window, session → F.session_window. Pure JVM, whole-stage
       codegen, partial aggregation before the shuffle.
    2. **the batch slicer** (plans.vectorized_multi) for everything else:
       count-measure windows, custom lift/combine/lower functions, record
       mode (``value=None``: each function sees the row's columns), and
       time families when tier 1 is off or from three of them on.

    Both tiers emit the same schema and the same rows (see
    tests/test_scotty_batch_spark.py). The tier split is per window
    family, results are unioned. ``arrival_order`` names a column that
    breaks ties on ts. ``lateness_ms`` is the stream's allowed lateness;
    it cannot change the rows of sorted input flushed by one watermark,
    and is accepted so that batch and stream calls read alike.

    Output: (key, window_id, measure, w_start, w_end, <one column per agg>).
    Time windows report epoch-ms bounds; count windows report ordinal bounds.
    The result's ``tiers`` attribute maps each window_id to the tier that
    computes it: "catalyst" or "vectorized".
    """
    # Catalyst needs a value column and built-in aggregates; the Column
    # expressions themselves are built only once that tier is chosen.
    # Cost-based tier choice: the Catalyst tier fans out one
    # scan+shuffle+groupBy(F.window) subplan PER window family — the
    # bucket-per-window pattern slicing exists to beat. Fine for 1-2
    # concurrent windows (each subplan is whole-stage codegen), but from
    # 3 families on the shared-shuffle vectorized tier (ONE exchange,
    # every family reduced from the same Arrow batches) wins and
    # keeps winning as the window count grows (reference benchmark shape:
    # 1-1000 concurrent windows, random_tumbling_benchmark.json).
    # Break-even re-measured in r6 on the 440k-turn transcripts shape:
    # 3 families = 1.9/1.2 s (cold/warm) shared vs 3.6/1.9 s for the
    # 3-subplan Catalyst union, so the cutover moved from >3 to >=3.
    time_windows = [w for w in windows if w.measure == WindowMeasure.TIME]
    if (prefer_catalyst and value is not None and len(time_windows) < 3
            and all(_catalyst_builtin(factory()) for _, _, factory in aggs)):
        catalyst_exprs = _catalyst_aggs(aggs, value)
        rest = [w for w in windows if w.measure != WindowMeasure.TIME]
        parts = [
            window_aggregate(df, key, ts, w, catalyst_exprs).select(
                key,
                F.lit(w.window_id).cast("long").alias("window_id"),
                F.lit("time").alias("measure"),
                "w_start", "w_end", *catalyst_exprs,
            )
            for w in time_windows
        ]
        tiers = {w.window_id: "catalyst" for w in time_windows}
        if rest:
            parts.append(
                scotty_window_aggregate(
                    df, key, ts, value, rest, aggs, lateness_ms, arrival_order,
                    prefer_catalyst=False,
                )
            )
            tiers.update(parts[-1].tiers)
        if parts:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
            out.tiers = tiers
            return out

    out = multikey_window_aggregate(df, key, ts, value, windows, aggs, arrival_order)
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
    prefer_catalyst: bool = True,
) -> DataFrame:
    """Non-keyed (global) windowed aggregation — the batch analogue of the
    reference's GlobalScottyWindowOperator (flink-connector/.../
    GlobalScottyWindowOperator.java:15-71), which funnels the whole stream
    through ONE slicing operator.

    Spark-first tiers: with standard aggregates the Catalyst tier groups by
    the window alone — partial aggregation happens map-side per partition,
    so no single task ever sees the whole input. The batch slicer (custom
    lift/combine/lower functions, count windows) routes through a
    constant key: single-group by construction, like the reference's own
    global operator, which is a single ProcessFunction instance.
    Associative/commutative functions over one fixed time window can
    instead go through the salted two-level plan (plans.skew), which
    spreads the single group over salts. ``lateness_ms`` is accepted as
    in ``scotty_window_aggregate``.

    Output: (window_id, measure, w_start, w_end, <one column per agg>).
    """
    tagged = df.withColumn("_g", F.lit(1))
    out = scotty_window_aggregate(
        tagged, "_g", ts, value, windows, aggs, lateness_ms, arrival_order,
        prefer_catalyst=prefer_catalyst,
    )
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
    """One key's sorted run through the slicing kernel, fired by one final
    watermark (``_final_watermark``): the kernel's rows for a flushed
    batch, which tests compare with the stream and the batch slicer.
    ``data`` is the key's payload — a numpy value slice in value mode, a
    dict of column-list slices in record mode."""
    op = new_operator(windows, aggs, lateness_ms)
    op.seed_watermark(int(ts_ms[0]) - 1)
    feed_sorted(op, data, ts_ms, bulk_lift_kinds(op.functions, value is not None))
    return lower_windows(op.process_watermark(final_wm))

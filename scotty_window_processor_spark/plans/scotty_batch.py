"""Kernel-backed multi-window shared aggregation over a batch DataFrame.

This is the batch entry point into the slicing engine: one exchange by key
(`plans.key_sorted_exchange`: `repartition(key)` + a Tungsten sort by key
and ts, the same exchange the vectorized tier reads), then a
`mapInPandas` over each partition runs every key's sorted run through the
general stream-slicing kernel. All concurrent window definitions — any
mix of tumbling / sliding / session, time- or count-measured — share a
single slice store per key, the reference's headline aggregate-sharing
property (LazyAggregateStore.aggregate,
/root/reference/slicing/.../LazyAggregateStore.java:81-99), which Spark's
built-in `F.window` cannot express (it duplicates rows per overlapping
window instead).

Scale notes:
- the only shuffle is the key exchange; slice partials keep per-key state
  O(slices × functions), not O(rows);
- the vectorized tier (thousands of keys per Arrow batch, numpy segment
  reductions, zero per-key Python) lives in `plans.vectorized_multi`;
- hot-key skew is handled upstream by `plans.skew.salted_window_aggregate`
  (salting is legal for associative/commutative functions; sessions route
  unsalted).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import AggSpec, QuantileAggregation
from . import key_sorted_exchange, window_output_schema
from ..operators.kernel import (
    NAMED_LIFTS,
    bulk_lift_kinds,
    feed_sorted,
    lower_windows,
    new_operator,
)
from ..operators.windows import SessionWindow, SlidingWindow, TumblingWindow, Window, WindowMeasure
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
    force_kernel: bool = False,
) -> DataFrame:
    """Batch windowed aggregation with a three-tier physical planner:

    1. **Catalyst built-ins** (prefer_catalyst, standard aggregates, time
       windows): tumbling/sliding → F.window, session → F.session_window.
       Pure JVM, whole-stage codegen, partial aggregation before the
       shuffle — the fastest plan Spark can produce, used whenever the
       built-ins can express the semantics.
    2. **multi-key vectorized tier** (plans.vectorized_multi): bucketed
       Arrow batches, numpy segment reductions, zero per-key Python
       (count-measure windows, and time windows when tier 1 is off).
    3. **pure-Python kernel**: exact Scotty slice semantics for anything
       else (custom lift/combine/lower functions, out-of-order replays).

    All tiers emit the same schema and provably identical rows (see
    tests/test_scotty_batch_spark.py); the tier split is per window
    family, results are unioned. ``force_kernel=True`` pins tier 3 —
    used by parity tests and oracle-gated queries that must exercise the
    slicing kernel itself rather than a faster equivalent plan.

    Output: (key, window_id, measure, w_start, w_end, <one column per agg>).
    Time windows report epoch-ms bounds; count windows report ordinal bounds.
    The result's ``tiers`` attribute maps each window_id to the tier that
    computes it: "catalyst", "vectorized" or "kernel".
    """
    catalyst_exprs = _catalyst_aggs(aggs, value) if value is not None else None
    if force_kernel:
        prefer_catalyst = False
    # cost-based tier choice: the Catalyst tier fans out one
    # scan+shuffle+groupBy(F.window) subplan PER window family — the
    # bucket-per-window pattern slicing exists to beat. Fine for 1-2
    # concurrent windows (each subplan is whole-stage codegen), but from
    # 3 families on the shared-shuffle vectorized tier (ONE exchange,
    # every family reduced from the same sorted Arrow batches) wins and
    # keeps winning as the window count grows (reference benchmark shape:
    # 1-1000 concurrent windows, random_tumbling_benchmark.json).
    # Break-even re-measured in r6 on the 440k-turn transcripts shape:
    # 3 families = 1.9/1.2 s (cold/warm) shared vs 3.6/1.9 s for the
    # 3-subplan Catalyst union, so the cutover moved from >3 to >=3.
    if (
        prefer_catalyst
        and catalyst_exprs is not None
        and value is not None
        and sum(1 for w in windows if w.measure == WindowMeasure.TIME) >= 3
        and _fast_path_eligible(list(windows), list(aggs))
    ):
        prefer_catalyst = False
    if prefer_catalyst and catalyst_exprs is not None:
        time_windows = [w for w in windows if w.measure == WindowMeasure.TIME
                        and isinstance(w, (TumblingWindow, SlidingWindow, SessionWindow))]
        rest = [w for w in windows if w not in time_windows]
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

    window_defs = list(windows)
    agg_specs = list(aggs)
    if not force_kernel and value is not None and _fast_path_eligible(window_defs, agg_specs):
        # tier 2: multi-key vectorization — thousands of keys per Arrow
        # batch, zero per-key Python (see plans.vectorized_multi)
        from .vectorized_multi import multikey_window_aggregate

        out = multikey_window_aggregate(df, key, ts, value, window_defs, agg_specs, arrival_order)
        out.tiers = {w.window_id: "vectorized" for w in window_defs}
        return out

    out_schema = window_output_schema(key, df.schema[key].dataType, agg_specs)
    out_cols = [f.name for f in out_schema.fields[1:]]

    def run(pdfs):
        # one partition of the key-sorted exchange (thousands of keys, not
        # one: per-group Arrow + pandas dispatch dominates when keys are
        # small). Columns are extracted ONCE per partition and sliced per
        # key — a zero-copy numpy view in value mode, list slices of
        # already-boxed values in record mode.
        parts = [p for p in pdfs if not p.empty]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        keys = pdf[key].to_numpy()
        ts_all = pdf[ts].to_numpy().astype("datetime64[ms]").astype("int64")
        if value is not None:
            vals_all = pdf[value].to_numpy()
        else:
            cols_all = {c: pdf[c].tolist() for c in pdf.columns}

        changes = np.nonzero(keys[1:] != keys[:-1])[0] + 1
        bounds = np.concatenate([[0], changes, [len(keys)]])
        outs = []
        for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
            ts_ms = ts_all[s:e]
            final_wm = _final_watermark(int(ts_ms[-1]), window_defs, lateness_ms)
            if value is not None:
                data = vals_all[s:e]
            else:
                data = {c: v[s:e] for c, v in cols_all.items()}
            rows = _kernel_run(data, ts_ms, value, window_defs, agg_specs, lateness_ms, final_wm)
            if rows:
                part = pd.DataFrame(rows, columns=out_cols)
                part.insert(0, key, keys[s])
                outs.append(part)
        if outs:
            yield pd.concat(outs, ignore_index=True)

    out = key_sorted_exchange(df, key, ts, value, arrival_order).mapInPandas(run, out_schema)
    out.tiers = {w.window_id: "kernel" for w in window_defs}
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
    force_kernel: bool = False,
) -> DataFrame:
    """Non-keyed (global) windowed aggregation — the batch analogue of the
    reference's GlobalScottyWindowOperator (flink-connector/.../
    GlobalScottyWindowOperator.java:15-71), which funnels the whole stream
    through ONE slicing operator.

    Spark-first tiers: with standard aggregates the Catalyst tier groups by
    the window alone — partial aggregation happens map-side per partition,
    so no single task ever sees the whole input. The kernel tier (custom
    lift/combine/lower functions) routes through a constant key: exact
    reference semantics, single-group by construction — like the
    reference's own global operator, which is a single ProcessFunction
    instance. At scale, invertible functions should instead go through the
    salted two-level plan (plans.skew).

    Output: (window_id, measure, w_start, w_end, <one column per agg>).
    """
    tagged = df.withColumn("_g", F.lit(1))
    out = scotty_window_aggregate(
        tagged, "_g", ts, value, windows, aggs, lateness_ms, arrival_order,
        prefer_catalyst=prefer_catalyst, force_kernel=force_kernel,
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


def _catalyst_aggs(aggs: Sequence[AggSpec], value: str):
    """Map standard aggregate functions to Catalyst expressions by output
    name, or None if any function has no built-in equivalent. Matched by
    exact type, as ``NAMED_LIFTS`` is: a subclass with its own lift (or
    the sketch partial of ``HistogramQuantileAggregation``) is not the
    built-in."""
    out = {}
    for name, ddl, factory in aggs:
        fn = factory()
        kind = NAMED_LIFTS.get(type(fn))
        if kind is not None:
            expr = _CATALYST_REDUCTIONS[kind](value)
        elif type(fn) is QuantileAggregation:
            # exact discrete quantile, pure JVM (guide §4: built-ins over
            # Python): the kernel's lower() returns the smallest v whose
            # cumulative count reaches max(1, ceil(q·total)) over the
            # value→count histogram — which is exactly the 1-indexed
            # element at that rank of the sorted value multiset. ceil is
            # the same float64 op both sides; collect_list + array_sort
            # shuffle the same rows the kernel tier would, minus the
            # Python boundary.
            expr = F.try_element_at(
                F.array_sort(F.collect_list(value)),
                F.greatest(
                    F.lit(1).cast("long"),
                    F.ceil(F.count(value) * F.lit(float(fn.q))),
                ).cast("int"),
            )
        else:
            return None
        out[name] = expr.cast(ddl)
    return out


def _fast_path_eligible(windows: Sequence[Window], aggs: Sequence[AggSpec]) -> bool:
    """Vectorizable iff every window type has a closed-form in-order batch
    semantics and every aggregate is a numpy segment reduction.

    In one-shot batch mode (sorted input + single flushing watermark) the
    window definitions decouple: fixed time windows are interval sums over
    the shared edge grid, sessions are gaps-and-islands, count windows are
    positional — slice *sharing* only matters for incremental streaming
    state, so each family reduces independently over one sorted array."""
    for w in windows:
        if isinstance(w, SessionWindow):
            if w.measure != WindowMeasure.TIME:
                return False
        elif isinstance(w, TumblingWindow):
            continue  # time or count both vectorizable
        elif isinstance(w, SlidingWindow):
            # slice-aligned window ends are needed for interval arithmetic
            # to equal the kernel's slice containment (size tiles the slide)
            if w.measure != WindowMeasure.TIME or w.size % w.slide != 0:
                return False
        else:
            return False
    kinds = bulk_lift_kinds([factory() for _, _, factory in aggs])
    return kinds is not None and all(isinstance(k, str) for k in kinds)


def _kernel_run(data, ts_ms, value, windows, aggs, lateness_ms, final_wm):
    """One key's sorted run through the slicing kernel, fired by one final
    watermark. ``data`` is the key's payload — a numpy value slice in value
    mode, a dict of column-list slices in record mode."""
    op = new_operator(windows, aggs, lateness_ms)
    op.seed_watermark(int(ts_ms[0]) - 1)
    feed_sorted(op, data, ts_ms, bulk_lift_kinds(op.functions, value is not None))
    return lower_windows(op.process_watermark(final_wm))

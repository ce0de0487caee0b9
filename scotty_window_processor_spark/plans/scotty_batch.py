"""Kernel-backed multi-window shared aggregation over a batch DataFrame.

This is the batch entry point into the slicing engine: one shuffle by key
(`groupBy(key).applyInPandas`), then each key group flows through the
general stream-slicing kernel as one Arrow batch. All concurrent window
definitions — any mix of tumbling / sliding / session, time- or
count-measured — share a single slice store per key, the reference's
headline aggregate-sharing property (LazyAggregateStore.aggregate,
/root/reference/slicing/.../LazyAggregateStore.java:81-99), which Spark's
built-in `F.window` cannot express (it duplicates rows per overlapping
window instead).

Scale notes:
- the only shuffle is the groupBy(key); slice partials keep per-key state
  O(slices × functions), not O(rows);
- the vectorized tier (thousands of keys per Arrow batch, numpy segment
  reductions, zero per-key Python) lives in `plans.vectorized_multi`;
- hot-key skew is handled upstream by `plans.skew.salted_window_aggregate`
  (salting is legal for associative/commutative functions; sessions route
  unsalted).
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import (
    AggSpec,
    CountAggregation,
    HistogramQuantileAggregation,
    MaxAggregation,
    MeanAggregation,
    MinAggregation,
    QuantileAggregation,
    SumAggregation,
)
from . import adaptive_buckets
from ..operators.kernel import SlicingWindowOperator, bulk_lift_kinds, lower_windows
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
        if rest:
            parts.append(
                scotty_window_aggregate(
                    df, key, ts, value, rest, aggs, lateness_ms, arrival_order,
                    prefer_catalyst=False,
                )
            )
        if parts:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
            return out

    key_field = df.schema[key]
    out_schema = T.StructType(
        [
            T.StructField(key, key_field.dataType, True),
            T.StructField("window_id", T.LongType(), False),
            T.StructField("measure", T.StringType(), False),
            T.StructField("w_start", T.LongType(), False),
            T.StructField("w_end", T.LongType(), False),
        ]
        + [T.StructField(name, T._parse_datatype_string(ddl), True) for name, ddl, _ in aggs]
    )

    window_defs = list(windows)
    agg_specs = list(aggs)
    sort_cols = [ts] + ([arrival_order] if arrival_order else [])
    use_fast = (
        not force_kernel and value is not None and _fast_path_eligible(window_defs, agg_specs)
    )

    if use_fast:
        # tier 2: bucketed multi-key vectorization — thousands of keys per
        # Arrow batch, zero per-key Python (see plans.vectorized_multi)
        from .vectorized_multi import multikey_window_aggregate

        return multikey_window_aggregate(
            df, key, ts, value, window_defs, agg_specs, arrival_order
        )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        # one hash BUCKET of keys per call (not one key): per-group Arrow +
        # pandas dispatch dominates when keys are small (2000 single-key
        # groups ≈ 4s of pure overhead at sf0.1), so the shuffle key is a
        # bucket and the per-key kernel loop runs inside one batch — same
        # economics as the vectorized tier (plans.vectorized_multi).
        if pdf.empty:
            return pd.DataFrame({f.name: pd.Series(dtype="object") for f in out_schema.fields})
        pdf = pdf.drop(columns=["_b"]).sort_values([key] + sort_cols, kind="mergesort")
        keys = pdf[key].to_numpy()
        ts_all = pdf[ts].to_numpy().astype("datetime64[ms]").astype("int64")
        import numpy as np

        # extract columns ONCE per bucket, slice per key group: per-group
        # pandas .iloc + .tolist() paid one pandas dispatch + per-element
        # boxing PER GROUP (15k key groups per sf1.0 pass) — bucket-level
        # extraction boxes each value once and per-group list/array slices
        # are plain pointer copies (r6; the value-mode slice is a
        # zero-copy numpy view)
        if value is not None:
            vals_all = pdf[value].to_numpy()
            cols_all = None
        else:
            vals_all = None
            cols_all = {c: pdf[c].tolist() for c in pdf.columns}

        changes = np.nonzero(keys[1:] != keys[:-1])[0] + 1
        bounds = np.concatenate([[0], changes, [len(keys)]])
        outs = []
        for s, e in zip(bounds[:-1], bounds[1:]):
            ts_ms = ts_all[s:e]
            final_wm = _final_watermark(int(ts_ms[-1]), window_defs, lateness_ms)
            if value is not None:
                data = vals_all[s:e]
            else:
                data = {c: v[s:e] for c, v in cols_all.items()}
            rows = _kernel_run(data, ts_ms, value, window_defs, agg_specs, lateness_ms, final_wm)
            if rows:
                out = pd.DataFrame(rows, columns=[f.name for f in out_schema.fields[1:]])
                out.insert(0, key, keys[s])
                outs.append(out)
        if not outs:
            return pd.DataFrame({f.name: pd.Series(dtype="object") for f in out_schema.fields})
        return pd.concat(outs, ignore_index=True)

    if value is not None:
        # column-prune before the shuffle: payload columns never cross Arrow
        df = df.select(*dict.fromkeys([key, ts, value] + ([arrival_order] if arrival_order else [])))
    # task size ≈ one Arrow batch (plans.adaptive_buckets) — the kernel
    # stage is CPU-bound Python, so shuffle.partitions-sized buckets
    # serialize it on big inputs (measured 2.4× on the flagship)
    n_buckets = adaptive_buckets(df)
    # explicit repartition(num, col) pins the bucket shuffle: its
    # REPARTITION_BY_NUM origin is exempt from AQE partition coalescing,
    # which would otherwise size the CPU-bound Python kernel stage by
    # shuffle BYTES (tiny for pruned columns) and serialize it onto one
    # worker; hash(_b) already satisfies the groupBy's clustered
    # distribution, so no second exchange is added
    bucketed = df.withColumn(
        "_b", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
    ).repartition(n_buckets, F.col("_b"))
    return bucketed.groupBy("_b").applyInPandas(run, out_schema)


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
    return out.drop("_g")


def _catalyst_aggs(aggs: Sequence[AggSpec], value: str):
    """Map standard aggregate functions to Catalyst expressions by output
    name, or None if any function has no built-in equivalent."""
    out = {}
    for name, ddl, factory in aggs:
        fn = factory()
        if isinstance(fn, CountAggregation):
            expr = F.count(F.lit(1))
        elif isinstance(fn, SumAggregation):
            expr = F.sum(value)
        elif isinstance(fn, MinAggregation):
            expr = F.min(value)
        elif isinstance(fn, MaxAggregation):
            expr = F.max(value)
        elif isinstance(fn, MeanAggregation):
            expr = F.avg(value)
        elif isinstance(fn, QuantileAggregation) and not isinstance(
            fn, HistogramQuantileAggregation
        ):
            # exact discrete quantile, pure JVM (guide §4: built-ins over
            # Python): the kernel's lower() returns the smallest v whose
            # cumulative count reaches max(1, ceil(q·total)) over the
            # value→count histogram — which is exactly the 1-indexed
            # element at that rank of the sorted value multiset. ceil is
            # the same float64 op both sides; collect_list + array_sort
            # shuffle the same rows the kernel tier would, minus the
            # Python boundary. (HistogramQuantile stays kernel-only: its
            # partial is the bounded-state sketch, the point of that gate.)
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
    """One key group through the slicing kernel. ``data`` is the group's
    pre-extracted payload — a numpy value slice in value mode, a dict of
    column-list slices in record mode (extracted once per bucket by the
    caller; see ``run``)."""
    op = SlicingWindowOperator(max_lateness=lateness_ms)
    fns = [factory() for _, _, factory in aggs]
    for fn in fns:
        op.add_aggregation(fn)
    for w in windows:
        op.add_window(w)

    op.seed_watermark(int(ts_ms[0]) - 1)
    kinds = bulk_lift_kinds(fns, value is not None) if op.bulk_eligible() else None
    if kinds is not None:
        # one key group is in-order by construction (sorted by ts), so the
        # whole run takes the vectorized segment path: the exact kernel
        # only touches slice-edge/session-break elements, every other
        # element is folded in by one segment lift per slice
        if value is not None:
            op.process_in_order_bulk(data, ts_ms, kinds)
        else:
            names = list(data)

            def element_at(i):
                return {c: data[c][i] for c in names}

            op.process_in_order_bulk(data, ts_ms, kinds, element_at=element_at)
    elif value is not None:
        for element, t in zip(data, ts_ms.tolist()):
            op.process_element(element, t)
    else:
        # dict records via zip of column lists — same rows as
        # pdf.to_dict("records") at ~3x less per-row overhead (no Series
        # boxing), and this IS the payload-aggregate hot loop's input
        names = list(data)
        elements = [dict(zip(names, row)) for row in zip(*(data[c] for c in names))]
        for element, t in zip(elements, ts_ms.tolist()):
            op.process_element(element, t)
    return lower_windows(op.process_watermark(final_wm))

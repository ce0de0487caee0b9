"""Catalyst-native windowed aggregation (tumbling / sliding / session / count).

These are the idiomatic-Spark expressions of the reference's window
semantics (core/.../windowType/{Tumbling,Sliding,Session}Window.java) for
the batch path: `F.window` / `F.session_window` compile to built-in
Expand + HashAggregate plans (whole-stage codegen, partial aggregation
before the shuffle, AQE-coalesced partitions) and scale linearly.

The slicing kernel (plans.scotty_batch / streaming.processor) exists for
what these CANNOT do: share one slice store across many concurrent
windows, count-measure windows, and multi-gap session sets. For a single
window definition the built-ins are the fastest plan Spark can produce,
so the engine routes single-window queries here.

All window bounds are emitted as epoch milliseconds (BIGINT) so results
hash-compare exactly against ANSI-SQL oracles.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.windows import SessionWindow, SlidingWindow, Window, WindowMeasure


def _epoch_ms(col: Column) -> Column:
    # cast handles timestamp_ntz inputs; callers pin session tz to UTC so
    # the ntz wall clock is the UTC instant (matching DuckDB's epoch_ms)
    return F.unix_millis(col.cast("timestamp"))


def window_aggregate(df: DataFrame, key: str, ts: str, w: Window, aggs: Dict[str, Column]) -> DataFrame:
    """Per-key windows of one time-measure definition as one Catalyst plan.

    - tumbling: ``F.window(size)``, epoch-aligned;
    - sliding: ``F.window(size, slide)``, which expands each row into its
      size/slide windows (Catalyst `Expand`) before one hash aggregate —
      the bucket-per-window strategy the slicing kernel replaces when many
      concurrent windows share slices;
    - session: ``F.session_window(gap)`` (merging aggregate); session end =
      last event ts + gap, matching the reference's SessionWindow trigger
      (SessionWindow.java:118-133).

    Emits ``key, w_start, w_end, *aggs`` with epoch-ms bounds."""
    if w.measure != WindowMeasure.TIME:
        raise ValueError("Catalyst window plans cover time-measure windows only")
    if isinstance(w, SessionWindow):
        win = F.session_window(F.col(ts), f"{w.gap} milliseconds")
    elif isinstance(w, SlidingWindow):
        win = F.window(F.col(ts), f"{w.size} milliseconds", f"{w.slide} milliseconds")
    else:
        win = F.window(F.col(ts), f"{w.size} milliseconds")
    return (
        df.groupBy(F.col(key), win.alias("w"))
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(
            F.col(key),
            _epoch_ms(F.col("w.start")).alias("w_start"),
            _epoch_ms(F.col("w.end")).alias("w_end"),
            *[F.col(n) for n in aggs],
        )
    )


def sliding_aggregate_twolevel(
    df: DataFrame,
    key: str,
    ts: str,
    size_ms: int,
    slide_ms: int,
    partials: Dict[str, Column],
    finals: Dict[str, Column],
) -> DataFrame:
    """Two-level sliding aggregation for ``size % slide == 0`` (the slice
    property): rows are first reduced per (key, slide-grain tumbling
    bucket) — ONE pass over the raw rows, map-side partial aggregation,
    no row duplication — and only the ~rows/bucket-factor smaller bucket
    partials are expanded into the size/slide overlapping windows and
    combined (guide §2.3 "aggregate before you shuffle").

    The one-level ``window_aggregate`` expands every RAW row size/slide
    times before the first aggregate (Catalyst Expand), so both the
    expand work and the per-map-partition partial-aggregate hash table
    scale with rows × overlap. Here they scale with rows (stage 1) +
    buckets × overlap (stage 2) — the slicing argument from the
    reference, expressed as two Catalyst aggregates.

    Window membership is derived from the bucket exactly as F.window
    does: a slide-grain bucket starting at b belongs to the windows
    starting at b − i·slide for i in 0..size/slide−1 (size tiles the
    slide, so every containing window is a whole-bucket union).
    ``partials``/``finals`` follow the salted_window_aggregate contract
    (count → partial count + final sum)."""
    if size_ms % slide_ms != 0:
        raise ValueError(
            f"two-level sliding needs size % slide == 0 (got {size_ms} % {slide_ms})"
        )
    k = size_ms // slide_ms
    b = F.window(F.col(ts), f"{slide_ms} milliseconds")
    stage1 = df.groupBy(F.col(key), b.alias("b")).agg(
        *[c.alias(n) for n, c in partials.items()]
    )
    # outer ≡ inner (non-empty literal-bounded sequence); avoids the
    # InferFiltersFromGenerate duplicate-evaluation trap (plans.dedup)
    expanded = stage1.select(
        F.col(key),
        (_epoch_ms(F.col("b.start"))).alias("_b_start"),
        *[F.col(n) for n in partials],
    ).withColumn("_i", F.explode_outer(F.sequence(F.lit(0), F.lit(int(k - 1)))))
    w_start = F.col("_b_start") - F.col("_i") * F.lit(int(slide_ms))
    return (
        expanded.withColumn("w_start", w_start)
        .groupBy(key, "w_start")
        .agg(*[c.alias(n) for n, c in finals.items()])
        .select(
            F.col(key),
            F.col("w_start"),
            (F.col("w_start") + F.lit(int(size_ms))).alias("w_end"),
            *[F.col(n) for n in finals],
        )
    )


def count_tumbling_aggregate(df: DataFrame, key: str, ts: str, n: int, aggs: Dict[str, Column],
                             tiebreak: str, complete_only: bool = True) -> DataFrame:
    """Count-measure tumbling windows: every `n` records per key in event-time
    order. No Spark built-in exists; expressed as row_number bucketing —
    a single shuffle by key, no Python. Scotty emits only windows whose
    end count the watermark passed, i.e. complete groups
    (WindowManager.java:105-119) — `complete_only` mirrors that.

    `tiebreak` must be a deterministic unique column (same-ts ordering
    must match the SQL oracle exactly)."""
    rn = F.row_number().over(W.partitionBy(key).orderBy(ts, tiebreak)) - 1
    with_bucket = (
        df.withColumn("rn", rn)
        .withColumn("c_start", (F.col("rn") - F.col("rn") % n).cast("long"))
    )
    out = (
        with_bucket.groupBy(key, "c_start")
        .agg(F.count(F.lit(1)).alias("_n"), *[c.alias(nm) for nm, c in aggs.items()])
        .select(
            F.col(key),
            F.col("c_start"),
            (F.col("c_start") + n).alias("c_end"),
            F.col("_n"),
            *[F.col(nm) for nm in aggs],
        )
    )
    if complete_only:
        out = out.where(F.col("_n") == n)
    return out.drop("_n")

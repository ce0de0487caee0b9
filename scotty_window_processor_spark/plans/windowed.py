"""Catalyst-native windowed aggregation (tumbling / sliding / session).

These are the idiomatic-Spark expressions of the reference's window
semantics (core/.../windowType/{Tumbling,Sliding,Session}Window.java) for
the batch path: `F.window` / `F.session_window` compile to built-in
Expand + HashAggregate plans (whole-stage codegen, partial aggregation
before the shuffle, AQE-coalesced partitions) and scale linearly.

The batch slicer (plans.vectorized_multi) and the stream's per-key
operator (streaming.processor) exist for what these CANNOT do: share one
set of slices across many concurrent windows, count-measure windows, and
multi-gap session sets. The batch planner
(``scotty_batch.scotty_window_aggregate``) sends a query here only when
its one window is time-measured, it has a value column and every
aggregate has a Catalyst equivalent; every other query runs one slicer
pass over all its windows.
``window_aggregate`` is the package's one Catalyst window plan: the
salted two-level plan (``plans.skew``) runs its first stage through it.

All window bounds are emitted as epoch milliseconds (BIGINT) so results
hash-compare exactly against ANSI-SQL oracles.
"""

from __future__ import annotations

from typing import Dict, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.windows import SessionWindow, SlidingWindow, Window, WindowMeasure


def _epoch_ms(col: Column) -> Column:
    # cast handles timestamp_ntz inputs; callers pin session tz to UTC so
    # the ntz wall clock is the UTC instant (matching DuckDB's epoch_ms)
    return F.unix_millis(col.cast("timestamp"))


def window_aggregate(
    df: DataFrame, key: Union[str, Sequence[str]], ts: str, w: Window, aggs: Dict[str, Column]
) -> DataFrame:
    """Per-key windows of one time-measure definition as one Catalyst plan.

    - tumbling: ``F.window(size)``, epoch-aligned;
    - sliding: ``F.window(size, slide)``, which expands each row into its
      size/slide windows (Catalyst `Expand`) before one hash aggregate —
      the bucket-per-window strategy the slicing kernel replaces when many
      concurrent windows share slices;
    - session: ``F.session_window(gap)`` (merging aggregate); session end =
      last event ts + gap, matching the reference's SessionWindow trigger
      (SessionWindow.java:118-133).

    ``key`` is one column name or a list of them. Emits ``key, w_start,
    w_end, *aggs`` with epoch-ms bounds."""
    if w.measure != WindowMeasure.TIME:
        raise ValueError("Catalyst window plans cover time-measure windows only")
    if isinstance(w, SessionWindow):
        win = F.session_window(F.col(ts), f"{w.gap} milliseconds")
    elif isinstance(w, SlidingWindow):
        win = F.window(F.col(ts), f"{w.size} milliseconds", f"{w.slide} milliseconds")
    else:
        win = F.window(F.col(ts), f"{w.size} milliseconds")
    keys = [key] if isinstance(key, str) else list(key)
    return (
        df.groupBy(*keys, win.alias("w"))
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(
            *keys,
            _epoch_ms(F.col("w.start")).alias("w_start"),
            _epoch_ms(F.col("w.end")).alias("w_end"),
            *[F.col(n) for n in aggs],
        )
    )

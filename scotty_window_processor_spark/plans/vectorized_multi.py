"""Multi-key vectorized window aggregation (the Arrow/numpy tier).

Per-key `applyInPandas` pays per-group overhead (pandas dispatch, Arrow
framing) that dominates when keys are small — the common transcripts
shape (10^9 conversations × 10^2 turns). This tier instead takes the
key-sorted exchange (`plans.key_sorted_exchange`: `repartition(key)` +
a Tungsten sort by key and ts) and a `mapInArrow` over each partition, so
each Arrow batch carries thousands of keys, and every window family
reduces across ALL keys in the batch with numpy segment operations —
zero per-key Python.

Segment math (rows pre-sorted by key, ts):
- tumbling/sliding: expand each row into its size/slide window starts,
  lexsort by (key, w_start), reduceat over group boundaries;
- sessions: boundaries where the key changes or the ts gap exceeds `gap`
  (gaps-and-islands), reduceat over island boundaries;
- count tumbling: positional index within key // n; as in the kernel, a
  window fires only once its end count has arrived (end <= the key's
  total, divergence #7), so only full windows are emitted.

Scale: the partition count is `plans.adaptive_buckets` (~one Arrow batch
of rows per task); each partition is independent, so the stage
parallelizes across executors/Python workers with no skew sensitivity
beyond the hash (a single hot key still lands in one partition — route
truly hot keys through plans.skew salting first).

Emission parity with the slicing kernel is pinned by
tests/test_scotty_batch_spark.py (same rows as the kernel tier).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql.pandas.types import to_arrow_schema

from pyspark.sql import DataFrame

from . import key_sorted_exchange, window_output_schema
from ..operators.kernel import bulk_lift_kinds
from ..operators.windows import SessionWindow, SlidingWindow, WindowMeasure


def _segment_reduce(vals, seg_starts, seg_ends, kinds):
    """Per-segment aggregate columns, one per ``NAMED_LIFTS`` reduction
    name in ``kinds``; segments contiguous & non-empty."""
    csum = np.concatenate([[0.0], np.cumsum(vals)])
    sums = csum[seg_ends] - csum[seg_starts]
    cnts = (seg_ends - seg_starts).astype("int64")
    cols = {"sum": sums, "count": cnts}
    if "mean" in kinds:
        cols["mean"] = sums / cnts
    # contiguous cover: reduceat over starts is exact (last segment ends
    # at len(vals) because segments tile the sorted array)
    if "min" in kinds:
        cols["min"] = np.minimum.reduceat(vals, seg_starts)
    if "max" in kinds:
        cols["max"] = np.maximum.reduceat(vals, seg_starts)
    return [cols[k] for k in kinds]


def multikey_rows(key_codes, ts_ms, vals, windows, agg_fns_factory):
    """All windows for one multi-key Arrow batch.

    Inputs sorted by (key, ts). Returns list of per-window-family dicts of
    numpy columns: key_code, window_id, measure, w_start, w_end, aggs...
    """
    out = []
    kinds = bulk_lift_kinds(agg_fns_factory())

    key_change = np.nonzero(np.diff(key_codes))[0] + 1
    key_starts = np.concatenate([[0], key_change])
    key_ends = np.concatenate([key_change, [len(key_codes)]])

    for w in windows:
        if isinstance(w, SessionWindow):
            gap = w.gap
            is_new = np.ones(len(ts_ms), dtype=bool)
            if len(ts_ms) > 1:
                same_key = np.diff(key_codes) == 0
                within_gap = np.diff(ts_ms) <= gap
                is_new[1:] = ~(same_key & within_gap)
            seg_starts = np.nonzero(is_new)[0]
            seg_ends = np.concatenate([seg_starts[1:], [len(ts_ms)]])
            cols = _segment_reduce(vals, seg_starts, seg_ends, kinds)
            out.append(
                dict(
                    key_code=key_codes[seg_starts],
                    window_id=np.full(len(seg_starts), w.window_id, dtype="int64"),
                    measure="time",
                    w_start=ts_ms[seg_starts],
                    w_end=ts_ms[seg_ends - 1] + gap,
                    aggs=cols,
                )
            )
        elif w.measure == WindowMeasure.COUNT:
            n = w.size
            # positional index within key
            firsts = np.repeat(key_starts, key_ends - key_starts)
            idx_in_key = np.arange(len(key_codes)) - firsts
            totals = np.repeat(key_ends - key_starts, key_ends - key_starts)
            win = idx_in_key // n
            # kernel flush semantics (divergence fix #7): a count window
            # triggers only once its end count has arrived — full windows
            keep = (win + 1) * n <= totals
            kc, wi = key_codes[keep], win[keep]
            v = vals[keep]
            # rows already sorted by (key, position) => (key, win) sorted
            if len(kc):
                change = np.ones(len(kc), dtype=bool)
                change[1:] = (np.diff(kc) != 0) | (np.diff(wi) != 0)
                seg_starts = np.nonzero(change)[0]
                seg_ends = np.concatenate([seg_starts[1:], [len(kc)]])
                cols = _segment_reduce(v, seg_starts, seg_ends, kinds)
            else:
                seg_starts = seg_ends = np.array([], dtype=int)
                cols = [np.array([])] * len(kinds)
            out.append(
                dict(
                    key_code=kc[seg_starts] if len(seg_starts) else kc,
                    window_id=np.full(len(seg_starts), w.window_id, dtype="int64"),
                    measure="count",
                    w_start=(wi[seg_starts] * n).astype("int64") if len(seg_starts) else wi,
                    w_end=(wi[seg_starts] * n + n).astype("int64") if len(seg_starts) else wi,
                    aggs=cols,
                )
            )
        else:
            size = w.size
            step = w.slide if isinstance(w, SlidingWindow) else w.size
            k = size // step
            # expand each row into its k covering window starts
            base = ts_ms - (ts_ms % step)
            offs = (np.arange(k) * step)[None, :]
            w_start = (base[:, None] - offs).ravel()
            kc = np.repeat(key_codes, k)
            v = np.repeat(vals, k)
            valid = w_start >= 0
            w_start, kc, v = w_start[valid], kc[valid], v[valid]
            order = np.lexsort((w_start, kc))
            w_start, kc, v = w_start[order], kc[order], v[order]
            composite_change = np.ones(len(kc), dtype=bool)
            if len(kc) > 1:
                composite_change[1:] = (np.diff(kc) != 0) | (np.diff(w_start) != 0)
            seg_starts = np.nonzero(composite_change)[0]
            seg_ends = np.concatenate([seg_starts[1:], [len(kc)]])
            cols = _segment_reduce(v, seg_starts, seg_ends, kinds)
            out.append(
                dict(
                    key_code=kc[seg_starts],
                    window_id=np.full(len(seg_starts), w.window_id, dtype="int64"),
                    measure="time",
                    w_start=w_start[seg_starts],
                    w_end=w_start[seg_starts] + size,
                    aggs=cols,
                )
            )
    return out


def multikey_window_aggregate(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    windows: Sequence,
    aggs: Sequence,
    arrival_order: str | None = None,
) -> DataFrame:
    """Shared-exchange multi-key vectorized windowed aggregation (see
    module doc)."""
    out_schema = window_output_schema(key, df.schema[key].dataType, aggs)
    window_defs = list(windows)
    agg_specs = list(aggs)

    def make_fns():
        return [factory() for _, _, factory in agg_specs]

    arrow_out = to_arrow_schema(out_schema)

    def run(batches) -> "pa.Table":
        # Arrow-native partition handler over the key-sorted exchange:
        # Python never sorts, never sees per-row objects — the key column
        # is dictionary-encoded in C and everything else is O(n) numpy
        # segment reductions.
        batch_list = list(batches)  # mapInArrow yields RecordBatches
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return
        enc = pc.dictionary_encode(tbl.column(key).combine_chunks())
        key_codes = enc.indices.to_numpy(zero_copy_only=False).astype("int64")
        key_vals = enc.dictionary
        ts_ms = (
            tbl.column(ts).combine_chunks().to_numpy(zero_copy_only=False)
            .astype("datetime64[ms]").astype("int64")
        )
        vals = tbl.column(value).combine_chunks().to_numpy(zero_copy_only=False).astype("float64")

        pieces = []
        for fam in multikey_rows(key_codes, ts_ms, vals, window_defs, make_fns):
            n = len(fam["key_code"])
            if n == 0:
                continue
            arrays = [
                pc.take(key_vals, pa.array(fam["key_code"])).cast(arrow_out.field(0).type),
                pa.array(fam["window_id"], type=pa.int64()),
                pa.array(np.repeat(fam["measure"], n), type=pa.string()),
                pa.array(fam["w_start"].astype("int64")),
                pa.array(fam["w_end"].astype("int64")),
            ] + [
                pa.array(col).cast(arrow_out.field(5 + i).type)
                for i, col in enumerate(fam["aggs"])
            ]
            pieces.append(pa.table(arrays, schema=arrow_out))
        for piece in pieces:
            yield from piece.to_batches()

    return key_sorted_exchange(df, key, ts, value, arrival_order).mapInArrow(run, out_schema)

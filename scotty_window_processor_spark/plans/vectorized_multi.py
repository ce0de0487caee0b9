"""Multi-key vectorized window aggregation (the Arrow/numpy tier).

Per-key `applyInPandas` pays per-group overhead (pandas dispatch, Arrow
framing) that dominates when keys are small — the common transcripts
shape (10^9 conversations × 10^2 turns). This tier instead takes the key
exchange (`plans.key_exchange`: `repartition(key)`, no sort) and a
`mapInArrow` over each partition, which it orders itself
(`plans.partition_order`), so each Arrow batch carries thousands of keys,
and every window family reduces across ALL keys in the batch with numpy
segment operations — zero per-key Python.

Segment math (rows ordered by key, ts):
- tumbling/sliding: general stream slicing (EDBT 2019). The rows are cut
  once, at the gcd `g` of every fixed family's size and slide, into
  (key, slice) partials. Each family groups those slices into its own
  (key, step) buckets; a key's window starts are the union of
  `[b − k + 1, b]` over its buckets `b` (k = size / slide), generated in
  sorted order, and each window covers a contiguous range of slices.
  count/sum/mean are prefix-sum differences over that range, min/max one
  `reduceat` over the slice partials at interleaved (lo, hi) pairs. No
  row is copied into the windows that cover it, and nothing is sorted;
- sessions: boundaries where the key changes or the ts gap exceeds `gap`
  (gaps-and-islands), reduced over island boundaries;
- count tumbling: positional index within key // n; as in the kernel, a
  window fires only once its end count has arrived (end <= the key's
  total, divergence #7), so only full windows are emitted.

Scale: the partition count is `plans.adaptive_buckets` (~one Arrow batch
of rows per task); each partition is independent, so the stage
parallelizes across executors/Python workers with no skew sensitivity
beyond the hash. A single hot key still lands in one partition; salting
(`plans.skew`) is a separate Catalyst plan for one fixed time window, not
a step before this tier.

Emission parity with the slicing kernel is pinned by
tests/test_scotty_batch_spark.py (same rows as the kernel tier) and, for
generated mixes without Spark, by tests/test_vectorized_slicing.py.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql.pandas.types import to_arrow_schema

from pyspark.sql import DataFrame

from . import key_exchange, partition_order, window_output_schema
from ..operators.kernel import bulk_lift_kinds
from ..operators.windows import SessionWindow, SlidingWindow, WindowMeasure


def _reduceat_ranges(ufunc, a, lo, hi):
    """``ufunc`` over every ``a[lo[i]:hi[i]]`` (non-empty, may overlap) in
    one ``reduceat`` over the interleaved (lo, hi) pairs; the odd results
    cover the gaps between ranges and are dropped."""
    idx = np.empty(2 * len(lo), dtype=np.intp)
    idx[0::2], idx[1::2] = lo, hi
    # one trailing element keeps an index equal to len(a) in bounds
    return ufunc.reduceat(np.append(a, a[:1]), idx)[0::2] if len(lo) else a[:0]


def _range_aggs(kinds, csum, lo, hi, extreme):
    """One column per ``NAMED_LIFTS`` reduction name in ``kinds`` for the
    row ranges ``[lo, hi)``: count, sum and mean from the row prefix sums
    ``csum``, min and max from ``extreme(ufunc)``."""
    cnts = (hi - lo).astype("int64")
    sums = csum[hi] - csum[lo]
    cols = {"count": lambda: cnts, "sum": lambda: sums, "mean": lambda: sums / cnts,
            "min": lambda: extreme(np.minimum), "max": lambda: extreme(np.maximum)}
    return [cols[k]() for k in kinds]


def _family(w, key_codes, lo, w_start, w_end, aggs, measure="time"):
    return dict(
        key_code=key_codes[lo],
        window_id=np.full(len(lo), w.window_id, dtype="int64"),
        measure=measure,
        w_start=w_start,
        w_end=w_end,
        aggs=aggs,
    )


def multikey_rows(key_codes, ts_ms, vals, windows, agg_fns_factory):
    """All windows for one multi-key Arrow batch.

    Inputs ordered by (key, ts), e.g. by ``plans.partition_order``.
    Returns list of per-window-family dicts of numpy columns: key_code,
    window_id, measure, w_start, w_end, aggs... Each family's rows are
    ordered by (key, w_start).
    """
    kinds = bulk_lift_kinds(agg_fns_factory())
    n = len(key_codes)
    rows = np.arange(n)
    new_key = np.ones(n, dtype=bool)
    new_key[1:] = key_codes[1:] != key_codes[:-1]
    csum = np.concatenate([[0.0], np.cumsum(vals)])

    fixed = [w for w in windows
             if w.measure == WindowMeasure.TIME and not isinstance(w, SessionWindow)]
    if fixed:
        # the shared slices: one partial per (key, gcd slice), held as the
        # row index where it starts
        g = math.gcd(*(w.slide if isinstance(w, SlidingWindow) else w.size for w in fixed))
        sl = ts_ms // g
        new_part = new_key.copy()
        new_part[1:] |= sl[1:] != sl[:-1]
        part_row = np.flatnonzero(new_part)
        part_sl, part_new_key = sl[part_row], new_key[part_row]
        part_row_end = np.append(part_row, n)
        part_extreme = {}  # per-slice min / max, computed once if asked

    out = []
    for w in windows:
        if isinstance(w, SessionWindow):
            is_new = new_key.copy()
            is_new[1:] |= np.diff(ts_ms) > w.gap
            lo = np.flatnonzero(is_new)
            hi = np.append(lo, n)[1:]
            aggs = _range_aggs(kinds, csum, lo, hi,
                               lambda uf: _reduceat_ranges(uf, vals, lo, hi))
            out.append(_family(w, key_codes, lo, ts_ms[lo], ts_ms[hi - 1] + w.gap, aggs))
        elif w.measure == WindowMeasure.COUNT:
            size = w.size
            run = np.cumsum(new_key) - 1
            key_row = np.flatnonzero(new_key)
            key_end = np.append(key_row, n)[1:]
            idx_in_key = rows - key_row[run]
            # kernel flush semantics (divergence fix #7): a count window
            # triggers only once its end count has arrived — full windows
            lo = rows[idx_in_key % size == 0]
            lo = lo[lo + size <= key_end[run[lo]]]
            hi = lo + size
            aggs = _range_aggs(kinds, csum, lo, hi,
                               lambda uf: _reduceat_ranges(uf, vals, lo, hi))
            w_start = idx_in_key[lo].astype("int64")
            out.append(_family(w, key_codes, lo, w_start, w_start + size, aggs, "count"))
        else:
            size = w.size
            step = w.slide if isinstance(w, SlidingWindow) else size
            k = size // step
            # the family's (key, step) buckets, each a run of slices
            b = part_sl // (step // g)
            new_bucket = part_new_key.copy()
            new_bucket[1:] |= b[1:] != b[:-1]
            bucket_part = np.flatnonzero(new_bucket)
            bb, first_in_key = b[bucket_part], part_new_key[bucket_part]
            # window starts (in steps) per bucket: [b - k + 1, b] minus
            # those an earlier bucket of the key already started, and
            # none before 0 (the kernel's w_start >= 0)
            first = bb - (k - 1)
            first[1:] = np.where(first_in_key[1:], first[1:], np.maximum(first[1:], bb[:-1] + 1))
            first = np.maximum(first, 0)
            n_new = np.maximum(bb - first + 1, 0)
            owner = np.repeat(np.arange(len(bb)), n_new)
            start = first[owner] + np.arange(len(owner)) - np.repeat(np.cumsum(n_new) - n_new, n_new)
            # a window starting at step s covers the key's buckets in
            # [s, s + k): the owner is the first of them, and the end is
            # found on a coordinate where gaps between buckets are capped
            # at k + 1 and keys are k + 1 apart, so it is monotone across
            # keys and orders bucket steps exactly within k of each other
            gap = np.full(len(bb), k + 1)
            gap[1:] = np.where(first_in_key[1:], k + 1, np.minimum(np.diff(bb), k + 1))
            coord = np.cumsum(gap)
            end_bucket = np.searchsorted(coord, coord[owner] + (start - bb[owner]) + k)
            lo_part = bucket_part[owner]
            hi_part = np.append(bucket_part, len(part_row))[end_bucket]

            def extreme(uf, lo_part=lo_part, hi_part=hi_part):
                if uf not in part_extreme:
                    part_extreme[uf] = uf.reduceat(vals, part_row) if n else vals[:0]
                return _reduceat_ranges(uf, part_extreme[uf], lo_part, hi_part)

            lo = part_row_end[lo_part]
            aggs = _range_aggs(kinds, csum, lo, part_row_end[hi_part], extreme)
            w_start = start * step
            out.append(_family(w, key_codes, lo, w_start, w_start + size, aggs))
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
        # Arrow-native partition handler over the key exchange: Python
        # never sees per-row objects — the key column is
        # dictionary-encoded in C, one numpy lexsort orders the partition,
        # and everything else is O(n) numpy segment reductions.
        batch_list = list(batches)  # mapInArrow yields RecordBatches
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return
        column = lambda name: tbl.column(name).combine_chunks().to_numpy(zero_copy_only=False)
        enc = pc.dictionary_encode(tbl.column(key).combine_chunks(), null_encoding="encode")
        key_codes = enc.indices.to_numpy(zero_copy_only=False).astype("int64")
        ts_ms = column(ts).astype("datetime64[ms]").astype("int64")
        order = partition_order(key_codes, ts_ms, column(arrival_order) if arrival_order else None)
        key_codes, ts_ms = key_codes[order], ts_ms[order]
        vals = column(value).astype("float64")[order]

        for fam in multikey_rows(key_codes, ts_ms, vals, window_defs, make_fns):
            n = len(fam["key_code"])
            if n == 0:
                continue
            arrays = [
                pc.take(enc.dictionary, pa.array(fam["key_code"])).cast(arrow_out.field(0).type),
                pa.array(fam["window_id"], type=pa.int64()),
                pa.repeat(pa.scalar(fam["measure"], pa.string()), n),
                pa.array(fam["w_start"].astype("int64")),
                pa.array(fam["w_end"].astype("int64")),
            ] + [
                pa.array(col).cast(arrow_out.field(5 + i).type)
                for i, col in enumerate(fam["aggs"])
            ]
            yield from pa.table(arrays, schema=arrow_out).to_batches()

    return key_exchange(df, key, ts, value, arrival_order).mapInArrow(run, out_schema)

"""The batch slicer: every window family of every key of one Arrow batch
at once (the shared-slice numpy tier).

It reads the key exchange (`plans.key_exchange`: `repartition(key)`, no
sort) through a `mapInArrow` over each partition, which it orders itself
(`plans.partition_order`), so each Arrow batch carries thousands of keys
and no per-key dispatch is paid.

Sorted input flushed by one final watermark is the case where every
window is a row range of its key's ordered run, so one closed form covers
every window mix the API accepts (rows ordered by key, ts):
- tumbling/sliding time windows: general stream slicing (EDBT 2019). The
  rows are cut once, at the gcd `g` of every fixed family's size and
  slide, into (key, slice) partials. A family's unit is gcd(size, slide);
  its (key, unit) buckets are runs of slices, and the windows holding a
  bucket `b` start at steps `(b − k) // m + 1 … b // m` (k = size, m =
  slide, both in units; none before 0). A key's window starts are the
  union of those ranges, generated in sorted order, and each window covers
  a contiguous range of slices. No row is copied into the windows that
  cover it, and nothing is sorted; a window holding no row is not emitted;
- sessions: boundaries where the key changes or the ts gap exceeds `gap`
  (gaps-and-islands);
- count tumbling/sliding: positional. A window starts at every multiple of
  the slide within the key and, as in the stream, fires only once its end
  count has arrived, so only full windows are emitted.

Aggregates:
- count/sum/mean/min/max (``NAMED_LIFTS``, value mode) are numpy segment
  reductions over the value column cast to float64: prefix-sum
  differences, one `reduceat` over interleaved (lo, hi) pairs; zero
  per-key Python. They follow SQL: count counts rows; sum, mean, min and
  max skip nulls (NaN) and are null for a window without a non-null
  value;
- any other function gets the value column in its own dtype (value mode)
  or a dict of column lists (record mode, ``value=None``). Its partial of
  a row range is its ``bulk_lift_values`` / ``bulk_lift_records`` if it
  has one, else ``lift`` / ``lift_and_combine`` folded in row order. A
  fixed family lifts once per shared slice and combines those partials
  per window (cloning the first when the function is ``cloneable``), one
  partial per slice shared by every window, as in Scotty; a session or
  count window lifts its row range. Each window is lowered once.

The input may also be one partial per (key, slice) of every function
instead of the rows (``multikey_rows(partials=...)``): the stream's
per-key operator (``operators.kernel``) keeps its slices that way and
fires its tumbling and sliding windows through ``multikey_rows``, so
batch and stream share this one implementation of the window math.

Scale: the partition count is `plans.adaptive_buckets` (~one Arrow batch
of rows per task); each partition is independent, so the stage
parallelizes across executors/Python workers with no skew sensitivity
beyond the hash. A single hot key still lands in one partition; salting
(`plans.skew`) is a separate Catalyst plan for one fixed time window, not
a step before this tier. When every row has one key (``one_key``, the
global operator) and the query asks only count/sum/mean over fixed time
windows, Catalyst sums each shared slice map-side instead, and the one
task reads one row per slice.

Parity with brute force over generated mixes is pinned without Spark by
tests/test_vectorized_slicing.py; tests/test_scotty_batch_spark.py checks
the Spark rows against Catalyst and against the stream's operator.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql.pandas.types import to_arrow_schema

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import key_exchange, partition_order, window_output_schema
from ..functions import (
    AggregateFunction,
    CountAggregation,
    MaxAggregation,
    MeanAggregation,
    MinAggregation,
    SumAggregation,
)
from ..operators.windows import SessionWindow, SlidingWindow, WindowMeasure


_ROWS = "_slice_rows"  # a slice partial's row count
_NON_NULL = "_slice_non_null"  # a slice partial's count of non-null values

# The numpy reduction of each standard aggregate, keyed by exact type, so a
# subclass with its own lift never inherits a reduction name.
NAMED_LIFTS = {
    SumAggregation: "sum",
    CountAggregation: "count",
    MinAggregation: "min",
    MaxAggregation: "max",
    MeanAggregation: "mean",
}
_EXTREMES = {"min": np.fmin, "max": np.fmax}  # both skip NaN


def lift_kind(fn: AggregateFunction, value_mode: bool = True):
    """A function's segment lift: the reduction name from ``NAMED_LIFTS``
    for a standard aggregate over a value array, else the function's own
    ``bulk_lift_values`` (value mode) or ``bulk_lift_records`` (record
    mode, columnar dicts) callable, else None (``lift`` folded row by
    row)."""
    if value_mode:
        return NAMED_LIFTS.get(type(fn)) or fn.bulk_lift_values
    return fn.bulk_lift_records


def _reduceat_ranges(ufunc, a, lo, hi):
    """``ufunc`` over every ``a[lo[i]:hi[i]]`` (non-empty, may overlap) in
    one ``reduceat`` over the interleaved (lo, hi) pairs; the odd results
    cover the gaps between ranges and are dropped."""
    idx = np.empty(2 * len(lo), dtype=np.intp)
    idx[0::2], idx[1::2] = lo, hi
    # one trailing element keeps an index equal to len(a) in bounds
    return ufunc.reduceat(np.append(a, a[:1]), idx)[0::2] if len(lo) else a[:0]


def range_partials(fn, kind, vals, lo, hi, element):
    """``fn``'s partial of each row range ``[lo[j], hi[j])`` of ``vals``,
    as a list. A named reduction (``kind`` from ``lift_kind``) follows SQL:
    count counts rows; sum, min and max skip nulls (NaN) and give None
    for a range without a non-null value; mean's partial is (sum, non-null
    count). Any other function takes its bulk lift ``kind``, or folds
    ``lift`` / ``lift_and_combine`` over ``element(r)`` in row order."""
    if kind == "count":
        return (hi - lo).tolist()
    if isinstance(kind, str):
        fvals = np.asarray(vals, dtype="float64")
        valid = ~np.isnan(fvals)
        non_null = _reduceat_ranges(np.add, valid.astype("int64"), lo, hi).tolist()
        if kind in _EXTREMES:
            red = _reduceat_ranges(_EXTREMES[kind], fvals, lo, hi).tolist()
        else:
            red = _reduceat_ranges(np.add, np.where(valid, fvals, 0.0), lo, hi).tolist()
        if kind == "mean":
            return list(zip(red, non_null))
        return [r if c else None for r, c in zip(red, non_null)]
    out = []
    for s, e in zip(lo.tolist(), hi.tolist()):
        if kind is not None:
            out.append(kind(vals, s, e))
            continue
        p = fn.lift(element(s))
        for r in range(s + 1, e):
            p = fn.lift_and_combine(p, element(r))
        out.append(p)
    return out


def combine_partials(fn, partials):
    """``fn``'s combine over ``partials`` in order, skipping None; the first
    is cloned when ``fn`` is ``cloneable``, so no input is changed. None
    when every input is None."""
    acc = None
    for p in partials:
        if p is None:
            continue
        acc = (fn.clone(p) if fn.cloneable else p) if acc is None else fn.combine(acc, p)
    return acc


def _named_columns(kind, n, fvals, parts):
    """The per-row numeric columns of a named reduction over ``n`` rows: of
    the value column ``fvals`` (one row each, nulls as NaN), or of
    ``parts``, one partial of the function per row. count: (rows,); sum
    and mean: (sum of the non-null values, non-null count); min and max:
    (value,), NaN where there is none."""
    if kind == "count":
        return (np.ones(n, "int64") if parts is None else np.array(parts, "int64"),)
    if kind in _EXTREMES:
        if parts is None:
            return (fvals,)
        return (np.array([np.nan if p is None else p for p in parts], "float64"),)
    if parts is None:
        valid = ~np.isnan(fvals)
        return np.where(valid, fvals, 0.0), valid.astype("int64")
    if kind == "mean":
        pairs = [(0.0, 0) if p is None else p for p in parts]
        return np.array([p[0] for p in pairs], "float64"), np.array([p[1] for p in pairs], "int64")
    return (np.array([0.0 if p is None else p for p in parts], "float64"),
            np.array([p is not None for p in parts], "int64"))


def _prefix(col):
    return np.concatenate([[0], np.cumsum(col)])


def _range_aggs(kinds, prefix, lo, hi, extreme, objects):
    """One column per aggregate for the row ranges ``[lo, hi)``: count, sum
    and mean from the prefix sums ``prefix[i]`` of function ``i``'s
    numeric columns (NaN where no value is non-null), min and max from
    ``extreme(i)``, and ``objects(i)`` for a function without a
    ``NAMED_LIFTS`` reduction name."""
    diffs = {}  # per prefix list (shared by sum and mean): its range sums

    def ranged(i):
        if id(prefix[i]) not in diffs:
            diffs[id(prefix[i])] = [p[hi] - p[lo] for p in prefix[i]]
        return diffs[id(prefix[i])]

    out = []
    for i, k in enumerate(kinds):
        if not isinstance(k, str):
            out.append(objects(i))
        elif k == "count":
            out.append(ranged(i)[0].astype("int64"))
        elif k in _EXTREMES:
            out.append(extreme(i))
        else:
            sums, counts = ranged(i)
            out.append(np.where(counts > 0, sums / np.maximum(counts, 1) if k == "mean" else sums,
                                np.nan))
    return out


def _family(w, key_codes, lo, w_start, w_end, aggs, measure="time"):
    return dict(
        key_code=key_codes[lo],
        window_id=np.full(len(lo), w.window_id, dtype="int64"),
        measure=measure,
        w_start=w_start,
        w_end=w_end,
        aggs=aggs,
    )


def is_fixed(w) -> bool:
    """Whether ``w`` is a tumbling or sliding time window."""
    return w.measure == WindowMeasure.TIME and not isinstance(w, SessionWindow)


def slice_width(windows) -> int:
    """The width of the slices every fixed (tumbling/sliding time) family
    shares: the gcd of their sizes and slides; 0 without one."""
    return math.gcd(*(math.gcd(w.size, w.slide) if isinstance(w, SlidingWindow) else w.size
                      for w in windows if is_fixed(w)))


def first_open_start(w, horizon: int) -> int:
    """The start of the first window of the tumbling or sliding ``w`` that
    ends above ``horizon`` (a time or a row position); none starts before
    0. Every earlier window has fired once ``horizon`` has been reached."""
    step = w.slide if isinstance(w, SlidingWindow) else w.size
    return max(0, ((horizon - w.size) // step + 1) * step)


def session_starts(key_codes, ts_ms, gap):
    """The first row of each session: where the key changes or the event
    time jumps by more than ``gap`` (gaps and islands)."""
    is_new = np.ones(len(ts_ms), dtype=bool)
    is_new[1:] = (key_codes[1:] != key_codes[:-1]) | (np.diff(ts_ms) > gap)
    return np.flatnonzero(is_new)


def multikey_rows(key_codes, ts_ms, vals, windows, agg_fns_factory, partials=None):
    """All windows for one multi-key Arrow batch.

    Inputs ordered by (key, ts), e.g. by ``plans.partition_order``.
    ``vals`` is the value column (value mode) or a dict of column lists
    (record mode). ``partials``, if given, makes each input row one
    partial of the rows of a slice, at the slice's start: per function,
    the list of its partials (None where a slice has none), combined per
    window with the function's ``combine``; ``vals`` is then not read, and
    only fixed time windows may be asked. Returns a list of per-window-
    family dicts, one per window in ``windows`` order: key_code,
    window_id, measure, w_start, w_end as numpy columns, and aggs, one
    column per function (a numpy array for a named reduction, NaN where
    the window holds no non-null value, else a list of lowered values).
    Each family's rows are ordered by (key, w_start).
    """
    fns = agg_fns_factory()
    record = isinstance(vals, dict)
    # per function: a NAMED_LIFTS reduction name, its bulk lift, or None
    kinds = [lift_kind(fn, not record) for fn in fns]
    n = len(key_codes)
    fvals = None
    if partials is None and {k for k in kinds if isinstance(k, str)} - {"count"}:
        fvals = np.asarray(vals, dtype="float64")
    # per named function: its numeric columns and (count, sum, mean) their
    # prefix sums, shared by the functions of one kind over the value column
    shared, columns, prefix = {}, {}, {}
    for i, k in enumerate(kinds):
        if isinstance(k, str):
            tag = "sum" if k == "mean" else k
            if partials is not None or tag not in shared:
                cols = _named_columns(k, n, fvals, None if partials is None else partials[i])
                shared[tag] = cols, None if k in _EXTREMES else [_prefix(c) for c in cols]
            columns[i], prefix[i] = shared[tag]
    new_key = np.ones(n, dtype=bool)
    new_key[1:] = key_codes[1:] != key_codes[:-1]

    element = (lambda r: {c: v[r] for c, v in vals.items()}) if record else (
        vals.__getitem__ if vals is not None else None)

    def ranges(i, lo, hi):
        """Function ``i``'s partial of each row range ``[lo, hi)``."""
        if partials is not None:
            return [combine_partials(fns[i], partials[i][s:e])
                    for s, e in zip(lo.tolist(), hi.tolist())]
        return range_partials(fns[i], kinds[i], vals, lo, hi, element)

    def lowered(fn, partial):
        return None if partial is None else fn.lower(partial)

    def lowered_ranges(i, lo, hi):
        return [lowered(fns[i], p) for p in ranges(i, lo, hi)]

    def range_extreme(lo, hi):
        return lambda i: _reduceat_ranges(_EXTREMES[kinds[i]], columns[i][0], lo, hi)

    g = slice_width(windows)
    if g:
        # the shared slices: one partial per (key, gcd slice), held as the
        # row index where it starts
        sl = ts_ms // g
        new_part = new_key.copy()
        new_part[1:] |= sl[1:] != sl[:-1]
        part_row = np.flatnonzero(new_part)
        part_sl, part_new_key = sl[part_row], new_key[part_row]
        part_row_end = np.append(part_row, n)
        part_extreme = {}  # per-slice min / max, computed once if asked
        part_partials = {}  # per-slice partials of object functions, lifted once

        def lowered_part_ranges(i, lo_part, hi_part):
            """Function ``i`` lowered over each window's slices
            ``[lo_part, hi_part)``, combined from the slice partials."""
            if i not in part_partials:
                part_partials[i] = ranges(i, part_row, part_row_end[1:])
            fn, parts = fns[i], part_partials[i]
            return [lowered(fn, combine_partials(fn, parts[a:b]))
                    for a, b in zip(lo_part.tolist(), hi_part.tolist())]

    out = []
    for w in windows:
        if isinstance(w, SessionWindow):
            lo = session_starts(key_codes, ts_ms, w.gap)
            hi = np.append(lo, n)[1:]
            aggs = _range_aggs(kinds, prefix, lo, hi, range_extreme(lo, hi),
                               lambda i: lowered_ranges(i, lo, hi))
            out.append(_family(w, key_codes, lo, ts_ms[lo], ts_ms[hi - 1] + w.gap, aggs))
        elif w.measure == WindowMeasure.COUNT:
            size = w.size
            slide = w.slide if isinstance(w, SlidingWindow) else size
            run = np.cumsum(new_key) - 1
            key_row = np.flatnonzero(new_key)
            key_end = np.append(key_row, n)[1:]
            idx_in_key = np.arange(n) - key_row[run]
            # a count window fires only once its end count has arrived:
            # full windows
            lo = np.flatnonzero(idx_in_key % slide == 0)
            lo = lo[lo + size <= key_end[run[lo]]]
            hi = lo + size
            aggs = _range_aggs(kinds, prefix, lo, hi, range_extreme(lo, hi),
                               lambda i: lowered_ranges(i, lo, hi))
            w_start = idx_in_key[lo].astype("int64")
            out.append(_family(w, key_codes, lo, w_start, w_start + size, aggs, "count"))
        else:
            step = w.slide if isinstance(w, SlidingWindow) else w.size
            unit = math.gcd(w.size, step)
            k, m = w.size // unit, step // unit  # size and slide in units
            # the family's (key, unit) buckets, each a run of slices
            b = part_sl // (unit // g)
            new_bucket = part_new_key.copy()
            new_bucket[1:] |= b[1:] != b[:-1]
            bucket_part = np.flatnonzero(new_bucket)
            bb, first_in_key = b[bucket_part], part_new_key[bucket_part]
            # window starts (in steps) per bucket: those whose window holds
            # the bucket, minus those an earlier bucket of the key already
            # started, and none before 0
            last = bb // m
            first = (bb - k) // m + 1
            first[1:] = np.where(first_in_key[1:], first[1:], np.maximum(first[1:], last[:-1] + 1))
            first = np.maximum(first, 0)
            n_new = np.maximum(last - first + 1, 0)
            owner = np.repeat(np.arange(len(bb)), n_new)
            start = first[owner] + np.arange(len(owner)) - np.repeat(np.cumsum(n_new) - n_new, n_new)
            # a window starting at step s covers the key's buckets in
            # [s·m, s·m + k): the owner is the first of them, and the end
            # is found on a coordinate where gaps between buckets are
            # capped at k + 1 and keys are k + 1 apart, so it is monotone
            # across keys and orders buckets exactly within k of each other
            gap = np.full(len(bb), k + 1)
            gap[1:] = np.where(first_in_key[1:], k + 1, np.minimum(np.diff(bb), k + 1))
            coord = np.cumsum(gap)
            end_bucket = np.searchsorted(coord, coord[owner] + (start * m - bb[owner]) + k)
            lo_part = bucket_part[owner]
            hi_part = np.append(bucket_part, len(part_row))[end_bucket]

            def extreme(i, lo_part=lo_part, hi_part=hi_part):
                uf = _EXTREMES[kinds[i]]
                if i not in part_extreme:
                    col = columns[i][0]
                    part_extreme[i] = uf.reduceat(col, part_row) if n else col[:0]
                return _reduceat_ranges(uf, part_extreme[i], lo_part, hi_part)

            lo = part_row_end[lo_part]
            aggs = _range_aggs(kinds, prefix, lo, part_row_end[hi_part], extreme,
                               lambda i, lo_part=lo_part, hi_part=hi_part:
                               lowered_part_ranges(i, lo_part, hi_part))
            w_start = start * step
            out.append(_family(w, key_codes, lo, w_start, w_start + w.size, aggs))
    return out


def _record_columns(tbl: "pa.Table", time_zone: str) -> dict:
    """Every column of ``tbl`` as the Python list pandas' ``tolist()``
    gives, with timestamps as naive times in the session time zone, as
    ``mapInPandas`` hands them over."""
    cols = {}
    for name in tbl.column_names:
        s = tbl.column(name).to_pandas(date_as_object=True)
        if getattr(s.dtype, "tz", None) is not None:
            s = s.dt.tz_convert(time_zone).dt.tz_localize(None)
        cols[name] = s.tolist()
    return cols


def multikey_window_aggregate(
    df: DataFrame,
    key: str,
    ts: str,
    value: str | None,
    windows: Sequence,
    aggs: Sequence,
    arrival_order: str | None = None,
    one_key: bool = False,
) -> DataFrame:
    """Shared-exchange multi-key windowed aggregation (see module doc);
    ``value=None`` is record mode. ``one_key`` says that every row has the
    same key, as in the global operator."""
    out_schema = window_output_schema(key, df.schema[key].dataType, aggs)
    window_defs = list(windows)
    agg_specs = list(aggs)
    time_zone = df.sparkSession.conf.get("spark.sql.session.timeZone") if value is None else None

    def make_fns():
        return [factory() for _, _, factory in agg_specs]

    g = slice_width(window_defs)
    slice_sums = (one_key and value is not None and g and all(map(is_fixed, window_defs))
                  and {lift_kind(fn) for fn in make_fns()} <= {"count", "sum", "mean"})
    if slice_sums:
        # One key goes to one task. Unless Catalyst first sums each slice
        # map-side, on every core, that task reads the whole input; with
        # it, one row per slice. With many keys the key exchange spreads
        # the rows, and there the extra aggregate was measured to cost
        # more than it saved.
        ms = F.unix_millis(F.col(ts).cast("timestamp"))
        exchange = df.groupBy(key, (ms - F.pmod(ms, F.lit(g))).alias(ts)).agg(
            F.count(F.lit(1)).alias(_ROWS),
            F.count(value).alias(_NON_NULL),
            F.coalesce(F.sum(F.col(value).cast("double")), F.lit(0.0)).alias(value),
        ).coalesce(1)
    else:
        exchange = key_exchange(df, key, ts, value, arrival_order)

    arrow_out = to_arrow_schema(out_schema)

    def run(batches) -> "pa.Table":
        # Arrow-native partition handler over the key exchange: the key
        # column is dictionary-encoded in C, one numpy lexsort orders the
        # partition, and the window math is O(n) numpy segment reductions
        # (Python objects only for the partials of object aggregates).
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
        order = partition_order(key_codes, ts_ms,
                                column(arrival_order) if arrival_order and not slice_sums else None)
        key_codes, ts_ms = key_codes[order], ts_ms[order]
        vals, parts = None, None
        if slice_sums:
            # each function's partial of each slice, from Catalyst's sums
            rows, non_null, sums = (column(c)[order].tolist() for c in (_ROWS, _NON_NULL, value))
            by_kind = {"count": rows, "mean": list(zip(sums, non_null)),
                       "sum": [s if c else None for s, c in zip(sums, non_null)]}
            parts = [by_kind[lift_kind(fn)] for fn in make_fns()]
        elif value is None:
            vals = _record_columns(tbl.take(order), time_zone)
        else:
            vals = column(value)[order]

        for fam in multikey_rows(key_codes, ts_ms, vals, window_defs, make_fns, parts):
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
                # NaN is null, for a named reduction with no non-null
                # value as for lowered objects (as mapInPandas converted
                # them)
                pa.array(col, from_pandas=True).cast(arrow_out.field(5 + i).type)
                if isinstance(col, np.ndarray)
                else pa.array(col, type=arrow_out.field(5 + i).type, from_pandas=True)
                for i, col in enumerate(fam["aggs"])
            ]
            yield from pa.table(arrays, schema=arrow_out).to_batches()

    return exchange.mapInArrow(run, out_schema)

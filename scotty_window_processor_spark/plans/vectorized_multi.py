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
  the slide within the key and, as in the kernel, fires only once its end
  count has arrived (divergence #7), so only full windows are emitted.

Aggregates:
- count/sum/mean/min/max (``NAMED_LIFTS``, value mode) are numpy segment
  reductions over the value column cast to float64: prefix-sum
  differences, one `reduceat` over interleaved (lo, hi) pairs; zero
  per-key Python;
- any other function gets the value column in its own dtype (value mode)
  or a dict of column lists (record mode, ``value=None``). Its partial of
  a row range is its ``bulk_lift_values`` / ``bulk_lift_records`` if it
  has one, else ``lift`` / ``lift_and_combine`` folded in row order. A
  fixed family lifts once per shared slice and combines those partials
  per window (cloning the first when the function is ``cloneable``), one
  partial per slice shared by every window, as in Scotty; a session or
  count window lifts its row range. Each window is lowered once.

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
the Spark rows against Catalyst and against the slicing kernel.
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
from ..operators.kernel import lift_kind
from ..operators.windows import SessionWindow, SlidingWindow, WindowMeasure


_ROWS = "_slice_rows"  # a slice partial's row count


def _reduceat_ranges(ufunc, a, lo, hi):
    """``ufunc`` over every ``a[lo[i]:hi[i]]`` (non-empty, may overlap) in
    one ``reduceat`` over the interleaved (lo, hi) pairs; the odd results
    cover the gaps between ranges and are dropped."""
    idx = np.empty(2 * len(lo), dtype=np.intp)
    idx[0::2], idx[1::2] = lo, hi
    # one trailing element keeps an index equal to len(a) in bounds
    return ufunc.reduceat(np.append(a, a[:1]), idx)[0::2] if len(lo) else a[:0]


def _range_aggs(kinds, csum, ccnt, lo, hi, extreme, objects):
    """One column per aggregate for the row ranges ``[lo, hi)``: count, sum
    and mean from the prefix sums ``ccnt`` of row counts and ``csum`` of
    values, min and max from ``extreme(ufunc)``, and ``objects(i)`` for
    function ``i`` when its kind is not a ``NAMED_LIFTS`` reduction name."""
    cnts = (ccnt[hi] - ccnt[lo]).astype("int64")
    sums = None if csum is None else csum[hi] - csum[lo]
    cols = {"count": lambda: cnts, "sum": lambda: sums, "mean": lambda: sums / cnts,
            "min": lambda: extreme(np.minimum), "max": lambda: extreme(np.maximum)}
    return [cols[k]() if isinstance(k, str) else objects(i) for i, k in enumerate(kinds)]


def _family(w, key_codes, lo, w_start, w_end, aggs, measure="time"):
    return dict(
        key_code=key_codes[lo],
        window_id=np.full(len(lo), w.window_id, dtype="int64"),
        measure=measure,
        w_start=w_start,
        w_end=w_end,
        aggs=aggs,
    )


def _is_fixed(w) -> bool:
    return w.measure == WindowMeasure.TIME and not isinstance(w, SessionWindow)


def slice_width(windows) -> int:
    """The width of the slices every fixed (tumbling/sliding time) family
    shares: the gcd of their sizes and slides; 0 without one."""
    return math.gcd(*(math.gcd(w.size, w.slide) if isinstance(w, SlidingWindow) else w.size
                      for w in windows if _is_fixed(w)))


def multikey_rows(key_codes, ts_ms, vals, windows, agg_fns_factory, counts=None):
    """All windows for one multi-key Arrow batch.

    Inputs ordered by (key, ts), e.g. by ``plans.partition_order``.
    ``vals`` is the value column (value mode) or a dict of column lists
    (record mode). ``counts``, if given, is how many rows each input row
    stands for: the input is then one partial per (key, slice) at the
    slice's start, ``vals`` holds each slice's sum, and only fixed time
    windows with count, sum and mean may be asked. Returns a list of
    per-window-family dicts: key_code, window_id, measure, w_start, w_end
    as numpy columns, and aggs, one column per function (a numpy array
    for a named reduction, else a list of lowered values). Each family's
    rows are ordered by (key, w_start).
    """
    fns = agg_fns_factory()
    record = isinstance(vals, dict)
    # per function: a NAMED_LIFTS reduction name, its bulk lift, or None
    kinds = [lift_kind(fn, not record) for fn in fns]
    named = {k for k in kinds if isinstance(k, str)}
    fvals = np.asarray(vals, dtype="float64") if named - {"count"} else None
    csum = np.concatenate([[0.0], np.cumsum(fvals)]) if named & {"sum", "mean"} else None
    n = len(key_codes)
    ccnt = np.arange(n + 1) if counts is None else np.concatenate([[0], np.cumsum(counts)])
    rows = np.arange(n)
    new_key = np.ones(n, dtype=bool)
    new_key[1:] = key_codes[1:] != key_codes[:-1]

    element = (lambda r: {c: v[r] for c, v in vals.items()}) if record else vals.__getitem__

    def lift(i, s, e):
        """Function ``i``'s partial of the rows ``[s, e)``."""
        fn, bulk = fns[i], kinds[i]
        if bulk is not None:
            return bulk(vals, s, e)
        p = fn.lift(element(s))
        for r in range(s + 1, e):
            p = fn.lift_and_combine(p, element(r))
        return p

    def lowered_ranges(i, lo, hi):
        lower = fns[i].lower
        return [lower(lift(i, s, e)) for s, e in zip(lo.tolist(), hi.tolist())]

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
                part_partials[i] = [lift(i, s, e) for s, e in
                                    zip(part_row.tolist(), part_row_end[1:].tolist())]
            fn, parts, out = fns[i], part_partials[i], []
            for a, b in zip(lo_part.tolist(), hi_part.tolist()):
                acc = fn.clone(parts[a]) if fn.cloneable else parts[a]
                for j in range(a + 1, b):
                    acc = fn.combine(acc, parts[j])
                out.append(fn.lower(acc))
            return out

    out = []
    for w in windows:
        if isinstance(w, SessionWindow):
            is_new = new_key.copy()
            is_new[1:] |= np.diff(ts_ms) > w.gap
            lo = np.flatnonzero(is_new)
            hi = np.append(lo, n)[1:]
            aggs = _range_aggs(kinds, csum, ccnt, lo, hi,
                               lambda uf: _reduceat_ranges(uf, fvals, lo, hi),
                               lambda i: lowered_ranges(i, lo, hi))
            out.append(_family(w, key_codes, lo, ts_ms[lo], ts_ms[hi - 1] + w.gap, aggs))
        elif w.measure == WindowMeasure.COUNT:
            size = w.size
            slide = w.slide if isinstance(w, SlidingWindow) else size
            run = np.cumsum(new_key) - 1
            key_row = np.flatnonzero(new_key)
            key_end = np.append(key_row, n)[1:]
            idx_in_key = rows - key_row[run]
            # kernel flush semantics (divergence fix #7): a count window
            # triggers only once its end count has arrived — full windows
            lo = rows[idx_in_key % slide == 0]
            lo = lo[lo + size <= key_end[run[lo]]]
            hi = lo + size
            aggs = _range_aggs(kinds, csum, ccnt, lo, hi,
                               lambda uf: _reduceat_ranges(uf, fvals, lo, hi),
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
            # started, and none before 0 (the kernel's w_start >= 0)
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

            def extreme(uf, lo_part=lo_part, hi_part=hi_part):
                if uf not in part_extreme:
                    part_extreme[uf] = uf.reduceat(fvals, part_row) if n else fvals[:0]
                return _reduceat_ranges(uf, part_extreme[uf], lo_part, hi_part)

            lo = part_row_end[lo_part]
            aggs = _range_aggs(kinds, csum, ccnt, lo, part_row_end[hi_part], extreme,
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
    partials = (one_key and value is not None and g and all(map(_is_fixed, window_defs))
                and {lift_kind(fn) for fn in make_fns()} <= {"count", "sum", "mean"})
    if partials:
        # One key goes to one task. Unless Catalyst first sums each slice
        # map-side, on every core, that task reads the whole input; with
        # it, one row per slice. With many keys the key exchange spreads
        # the rows, and there the extra aggregate was measured to cost
        # more than it saved.
        ms = F.unix_millis(F.col(ts).cast("timestamp"))
        exchange = df.groupBy(key, (ms - F.pmod(ms, F.lit(g))).alias(ts)).agg(
            F.count(F.lit(1)).alias(_ROWS),
            # a null value makes the sum NaN, as in the slicer's float64 column
            F.sum(F.coalesce(F.col(value).cast("double"), F.lit(float("nan")))).alias(value),
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
                                column(arrival_order) if arrival_order and not partials else None)
        key_codes, ts_ms = key_codes[order], ts_ms[order]
        if value is None:
            vals = _record_columns(tbl.take(order), time_zone)
        else:
            vals = column(value)[order]
        counts = column(_ROWS)[order] if partials else None

        for fam in multikey_rows(key_codes, ts_ms, vals, window_defs, make_fns, counts):
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
                pa.array(col).cast(arrow_out.field(5 + i).type) if isinstance(col, np.ndarray)
                # lowered objects convert as mapInPandas converted them:
                # NaN is null
                else pa.array(col, type=arrow_out.field(5 + i).type, from_pandas=True)
                for i, col in enumerate(fam["aggs"])
            ]
            yield from pa.table(arrays, schema=arrow_out).to_batches()

    return exchange.mapInArrow(run, out_schema)

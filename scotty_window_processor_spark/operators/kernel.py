"""The stream's per-key window operator: Scotty's general stream slicing
over the batch slicer's closed forms.

Each key keeps one partial per aggregate function for what its windows
still need (ICDE 2018, EDBT 2019):

- the tumbling and sliding time windows share the slices of one grid, the
  gcd of their sizes and slides (``vectorized_multi.slice_width``), whose
  edges are the union of their window edges. ``store`` holds the slices
  that hold a row, sorted by start;
- each session window keeps its open sessions as ``[first ts, last ts,
  partials]``; a row that bridges two of them merges them by ``combine``;
- count windows keep the rows ``(ts, element)`` from the first count
  window that has not fired on, in event-time order.

One path ingests rows: ``process_in_order_bulk`` takes a batch sorted by
event time and lifts each of its slice, session and row ranges at once
(``vectorized_multi.range_partials``). ``process_element`` is a one-row
call of it. A row below the rows already held (the allowed lateness) is
added to its slice or session like any other (ICDE 2018); the stream
drops every row at or below the frontier a key fired at, so no partial
below that frontier changes.

``process_watermark(f)`` emits the window instances whose end lies in
(previous f, f]: those of the tumbling, sliding and count windows, in
registration order and in the order of their ``trigger_windows`` (empty
ones included, see ``WindowResult.has_value``), then the sessions whose
end, last ts + gap, lies below f. A count window fires once the rows at
or below f reach its end. The fixed and count windows' aggregates come
from ``vectorized_multi.multikey_rows`` over the held slice partials or
rows, so batch and stream run one implementation of the window math;
sessions lower their own partials. It then drops what no unfired window
covers.

Named reductions (count, sum, mean, min, max in value mode) follow SQL:
count counts rows, the others skip nulls (NaN) and give None for a window
without a non-null value.

The operator needs no SparkSession: the reference unit suites (tests/
test_tumbling.py, test_sliding.py, test_session.py) drive it directly,
``streaming.processor`` runs one per key, and its state round-trips
through ``streaming.state_codec``.
"""

from __future__ import annotations

import bisect
import math
from operator import attrgetter, itemgetter
from typing import Any, List, Optional, Sequence

import numpy as np

from ..functions import AggregateFunction
# the module, not its names: importing the batch slicer imports this
# package first
from ..plans import vectorized_multi as slicer
from .windows import JLONG_MIN, SessionWindow, Window, WindowMeasure


class WindowResult:
    """A triggered window instance and its lowered aggregates, one per
    function (None where a function has no value); ``has_value`` is False
    for an instance that holds no row."""

    __slots__ = ("window_id", "start", "end", "measure", "values")

    def __init__(self, window_id: int, start: int, end: int, measure: WindowMeasure, values=None):
        self.window_id = window_id
        self.start = start
        self.end = end
        self.measure = measure
        self.values = values

    @property
    def has_value(self) -> bool:
        return self.values is not None

    def agg_values(self) -> List[Any]:
        return self.values

    def __repr__(self) -> str:
        return f"WindowResult({self.measure.value},{self.start}-{self.end},{self.values or '∅'})"


def lower_windows(results: Sequence[WindowResult]) -> List[list]:
    """Output rows ``[window_id, measure, start, end, *lowered]`` for the
    triggered windows that hold at least one row."""
    return [[w.window_id, w.measure.value, w.start, w.end, *w.values]
            for w in results if w.has_value]


class SlicePartial:
    """A slice of the fixed windows' grid that holds a row: its start, the
    event time of its first row, and one partial per function."""

    __slots__ = ("t_start", "t_first", "partials")

    def __init__(self, t_start: int, t_first: int, partials: list):
        self.t_start = t_start
        self.t_first = t_first
        self.partials = partials


_T_START = attrgetter("t_start")
_FIRST, _LAST = itemgetter(0), itemgetter(1)


class SlicePartials:
    """A key's slice partials, sorted by start."""

    __slots__ = ("slices",)

    def __init__(self):
        self.slices: List[SlicePartial] = []

    def add(self, start: int, t_first: int, partials: list, fns) -> None:
        """Combine ``partials`` into the slice at ``start``, new or held."""
        slices = self.slices
        i = len(slices) if not slices or slices[-1].t_start < start else \
            bisect.bisect_left(slices, start, key=_T_START)
        if i < len(slices) and slices[i].t_start == start:
            s = slices[i]
            s.t_first = min(s.t_first, t_first)
            s.partials = [slicer.combine_partials(fn, pair)
                          for fn, pair in zip(fns, zip(s.partials, partials))]
        else:
            slices.insert(i, SlicePartial(start, t_first, partials))

    def evict_before(self, start: int) -> None:
        del self.slices[:bisect.bisect_left(self.slices, start, key=_T_START)]

    @property
    def is_empty(self) -> bool:
        return not self.slices

    def __len__(self) -> int:
        return len(self.slices)

    def __getitem__(self, i: int) -> SlicePartial:
        return self.slices[i]


def _lowered(fns, partials) -> list:
    return [None if p is None else fn.lower(p) for fn, p in zip(fns, partials)]


def _value_rows(aggs) -> List[list]:
    """Per window, its lowered values from ``multikey_rows``' aggregate
    columns: a numeric column's NaN (no non-null value) is None."""
    cols = [[None if v != v else v for v in col.tolist()] if isinstance(col, np.ndarray) else col
            for col in aggs]
    return [list(vals) for vals in zip(*cols)]


class _Collector:
    """Collects the instances that ``Window.trigger_windows`` fires for
    window ``index`` of the operator; a window's instances that start
    before its ``fires_from`` are left out."""

    __slots__ = ("windows", "index", "fires_from")

    def __init__(self, fires_from):
        self.windows: List[tuple] = []
        self.fires_from = fires_from
        self.index = 0

    def trigger(self, window_id: int, start: int, end: int, measure: WindowMeasure) -> None:
        if start >= self.fires_from.get(window_id, start):
            self.windows.append((self.index, WindowResult(window_id, start, end, measure)))


class SlicingWindowOperator:
    """One key's window operator.

    Usage (the reference unit tests' entry point):

        op = SlicingWindowOperator()
        op.add_aggregation(SumAggregation())
        op.add_window(TumblingWindow(WindowMeasure.TIME, 10))
        op.process_element(value, ts)
        results = op.process_watermark(wm)   # -> List[WindowResult]
    """

    def __init__(self, max_lateness: int = 1000):
        self.functions: List[AggregateFunction] = []
        self.context_free: List[Window] = []  # tumbling and sliding, time and count
        self.session_windows: List[SessionWindow] = []
        self.store = SlicePartials()
        self.sessions: List[list] = []  # per session window: its open sessions
        self.records: Optional[list] = None  # (ts, element), with a count window
        self.count_base = 0  # the position of records[0] among the key's rows
        self.last_count = 0  # count windows ending at or below it have fired
        self.grid = 0  # slice width of the fixed time windows
        # window_id -> first start fired, for a window whose grid the held
        # slices were not cut on (``_refined``)
        self.fires_from: dict = {}
        self.has_count_measure = False
        self.max_lateness = max_lateness
        self.last_watermark = JLONG_MIN  # unset: no watermark processed or seeded yet
        self._max_event_time = JLONG_MIN

    # -- configuration -------------------------------------------------------
    def add_aggregation(self, fn: AggregateFunction) -> None:
        self.functions.append(fn)

    def add_window(self, window: Window) -> None:
        """Register a window, also mid-stream (see ``_refined``)."""
        if isinstance(window, SessionWindow):
            self.session_windows.append(window)
            self.sessions.append([])
            return
        self.context_free.append(window)
        if window.measure == WindowMeasure.COUNT:
            self.has_count_measure = True
            if self.records is None:
                self.records = []
            return
        old, self.grid = self.grid, math.gcd(self.grid, slicer.slice_width([window]))
        self._refined(old)

    def _refined(self, old_grid: int) -> None:
        """The held slices were cut on ``old_grid``. A window whose slices
        they are not (its unit is no multiple of ``old_grid``) fires only
        its instances from the grid slice of the latest row held on: each
        of those holds every held slice it overlaps. Earlier instances
        would split a held slice, so the window covers the rows from its
        addition on, as the reference's addWindow does."""
        if self.store.is_empty or not old_grid or not self.grid:
            return
        start = self._max_event_time - self._max_event_time % self.grid
        for w in self._fixed_time():
            if slicer.slice_width([w]) % old_grid and w.window_id not in self.fires_from:
                self.fires_from[w.window_id] = start

    def _fixed_time(self) -> List[Window]:
        return [w for w in self.context_free if w.measure == WindowMeasure.TIME]

    def _count_windows(self) -> List[Window]:
        return [w for w in self.context_free if w.measure == WindowMeasure.COUNT]

    # -- ingest -----------------------------------------------------------------
    def process_element(self, element: Any, ts: int) -> None:
        """One row: a one-row batch of ``process_in_order_bulk``."""
        if isinstance(element, dict):
            values = {c: [v] for c, v in element.items()}
        else:
            values = [element]
        self.process_in_order_bulk(values, [ts], None, element_at=lambda i: element)

    def process_in_order_bulk(self, values, ts_arr, lift_kinds, element_at=None) -> None:
        """Add a batch of rows sorted by event time (``ts_arr``, epoch ms):
        ``values`` holds their values (a sequence) or, in record mode, a
        dict of column lists. ``lift_kinds`` are the functions'
        ``vectorized_multi.lift_kind``s for that mode (None: derived here);
        ``element_at(i)`` gives row ``i`` to a function that folds ``lift``
        (by default ``values[i]``, or a dict in record mode)."""
        ts = np.asarray(ts_arr, dtype="int64")
        n = len(ts)
        if not n:
            return
        record = isinstance(values, dict)
        if element_at is None:
            element_at = (lambda i: {c: v[i] for c, v in values.items()}) if record \
                else values.__getitem__
        fns = self.functions
        kinds = lift_kinds if lift_kinds is not None else [
            slicer.lift_kind(fn, not record) for fn in fns]

        def partials(lo):
            """Per row range from each of ``lo`` to the next, one partial
            per function."""
            hi = np.append(lo[1:], n)
            cols = [slicer.range_partials(fn, k, values, lo, hi, element_at)
                    for fn, k in zip(fns, kinds)]
            return [list(p) for p in zip(*cols)] if cols else [[] for _ in range(len(lo))]

        if self.grid:
            starts = ts - ts % self.grid
            lo = np.flatnonzero(np.diff(starts, prepend=starts[0] - 1))
            for s, t, p in zip(starts[lo].tolist(), ts[lo].tolist(), partials(lo)):
                self.store.add(s, t, p, fns)
        zero_keys = np.zeros(n, dtype="int64")
        for w, held in zip(self.session_windows, self.sessions):
            lo = slicer.session_starts(zero_keys, ts, w.gap)
            hi = np.append(lo[1:], n) - 1
            for first, last, p in zip(ts[lo].tolist(), ts[hi].tolist(), partials(lo)):
                self._add_session(w.gap, held, [first, last, p])
        if self.records is not None:
            rows = [element_at(i) for i in range(n)] if record else (
                values.tolist() if isinstance(values, np.ndarray) else list(values))
            self._add_records(ts.tolist(), rows)
        self._max_event_time = max(self._max_event_time, int(ts[-1]))

    def _add_session(self, gap: int, held: list, session: list) -> None:
        """Add ``session`` to the sorted open sessions ``held``, merging
        every one that lies within ``gap`` of it, in start order."""
        first, last = session[0], session[1]
        i = bisect.bisect_left(held, first - gap, key=_LAST)
        j = i
        while j < len(held) and held[j][0] <= last + gap:
            j += 1
        if i < j:
            merged = sorted(held[i:j] + [session], key=_FIRST)
            partials = [slicer.combine_partials(fn, p)
                        for fn, p in zip(self.functions, zip(*(m[2] for m in merged)))]
            session = [min(first, held[i][0]), max(last, held[j - 1][1]), partials]
        held[i:j] = [session]

    def _add_records(self, ts: List[int], rows: list) -> None:
        recs = self.records
        if not recs or ts[0] >= recs[-1][0]:
            recs.extend(zip(ts, rows))
            return
        for t, r in zip(ts, rows):
            recs.insert(bisect.bisect_right(recs, t, key=_FIRST), (t, r))

    def seed_watermark(self, watermark_ts: int) -> None:
        """Pin the initial last watermark (the stream handler and
        ``scotty_batch._kernel_run`` pass the key's earliest event time
        − 1). Without it the first ``process_watermark`` starts at
        wm − max_lateness (reference WindowManager.java:42-43), skipping
        windows older than the lateness bound: right for an always-on
        stream, wrong for a bounded batch flushed by one final watermark."""
        if self.last_watermark == JLONG_MIN:
            self.last_watermark = watermark_ts

    # -- firing -------------------------------------------------------------------
    def process_watermark(self, watermark_ts: int) -> List[WindowResult]:
        """Emit every window instance that the watermark closes and drop
        what no unfired window covers (module docstring)."""
        if self.last_watermark == JLONG_MIN:
            self.last_watermark = max(0, watermark_ts - self.max_lateness)
        horizon = self.last_count
        if self.records is not None:
            horizon = self.count_base + bisect.bisect_right(self.records, watermark_ts, key=_FIRST)

        collector = _Collector(self.fires_from)
        for collector.index, w in enumerate(self.context_free):
            if w.measure == WindowMeasure.COUNT:
                w.trigger_windows(collector, self.last_count, horizon)
            elif not self.store.is_empty:
                w.trigger_windows(collector, max(self.last_watermark, self.store[0].t_start),
                                  watermark_ts)
        values = self._time_values(collector.windows)
        values.update(self._count_values(collector.windows, horizon))
        results = []
        for index, r in collector.windows:
            r.values = values.get((index, r.start))
            results.append(r)

        for w, held in zip(self.session_windows, self.sessions):
            while held and held[0][1] + w.gap < watermark_ts:
                first, last, partials = held.pop(0)
                results.append(WindowResult(w.window_id, first, last + w.gap, w.measure,
                                            _lowered(self.functions, partials)))

        self.last_watermark = watermark_ts
        self.last_count = max(self.last_count, horizon)
        self._evict()
        return results

    def _time_values(self, fired) -> dict:
        """(window index, start) -> lowered values of the fixed time
        windows that hold a held slice, if any of them fired."""
        indexes = sorted({i for i, r in fired if r.measure == WindowMeasure.TIME})
        if not indexes:
            return {}
        slices = self.store.slices
        fams = slicer.multikey_rows(
            np.zeros(len(slices), dtype="int64"),
            np.array([s.t_start for s in slices], dtype="int64"),
            None, [self.context_free[i] for i in indexes], lambda: self.functions,
            [[s.partials[f] for s in slices] for f in range(len(self.functions))])
        return {(i, start): vals for i, fam in zip(indexes, fams)
                for start, vals in zip(fam["w_start"].tolist(), _value_rows(fam["aggs"]))}

    def _count_values(self, fired, horizon: int) -> dict:
        """(window index, start) -> lowered values of the count windows
        that fired: ``multikey_rows`` over each one's rows, from its first
        fired window to ``horizon``."""
        out = {}
        for i in sorted({i for i, r in fired if r.measure == WindowMeasure.COUNT}):
            w = self.context_free[i]
            slide = getattr(w, "slide", w.size)
            # a window added after rows were dropped starts at the first
            # of its windows that holds only held rows
            lo = max(min(r.start for j, r in fired if j == i),
                     -(-self.count_base // slide) * slide)
            rows = self.records[lo - self.count_base:horizon - self.count_base]
            if len(rows) < w.size:
                continue
            elems = [e for _, e in rows]
            vals = ({c: [e[c] for e in elems] for c in elems[0]} if isinstance(elems[0], dict)
                    else np.array(elems))
            (fam,) = slicer.multikey_rows(np.zeros(len(rows), dtype="int64"),
                                          np.array([t for t, _ in rows], dtype="int64"),
                                          vals, [w], lambda: self.functions)
            out.update(((i, lo + start), v) for start, v in
                       zip(fam["w_start"].tolist(), _value_rows(fam["aggs"])))
        return out

    def _evict(self) -> None:
        fixed = self._fixed_time()
        if fixed and not self.store.is_empty:
            self.store.evict_before(
                min(slicer.first_open_start(w, self.last_watermark) for w in fixed))
        counts = self._count_windows()
        if counts:
            # rows past the count horizon keep their place: a later row
            # below them may still arrive
            keep = min(self.last_count,
                       *(slicer.first_open_start(w, self.last_count) for w in counts))
            drop = keep - self.count_base
            if drop > 0:
                del self.records[:drop]
                self.count_base += drop

    def next_emission_ts(self) -> Optional[int]:
        """Earliest event time at which a watermark can fire a window held
        rows are in, or, once none is left, at which the operator
        quiesces: the stream handler's event-time timer (the Spark
        analogue of the reference broadcasting processWatermark to every
        key, KeyedScottyWindowOperator.java:65-78). None with a count
        window and no window pending. Waking early is harmless; waking
        late would delay emissions."""
        candidates = []
        if not self.store.is_empty:
            candidates += [slicer.first_open_start(w, self.last_watermark) + w.size
                           for w in self._fixed_time()]
        candidates += [held[0][1] + w.gap + 1
                       for w, held in zip(self.session_windows, self.sessions) if held]
        for w in self._count_windows():
            # a count window fires once the frontier reaches its last row
            last = slicer.first_open_start(w, self.last_count) + w.size - 1 - self.count_base
            if 0 <= last < len(self.records):
                candidates.append(self.records[last][0])
        if not self.has_count_measure and self._max_event_time != JLONG_MIN:
            candidates.append(self._quiesce_horizon() + 1)
        return min(candidates) if candidates else None

    def _quiesce_horizon(self) -> int:
        return (self._max_event_time + self.max_lateness
                + max((w.size for w in self._fixed_time()), default=0))

    def quiesced(self, watermark_ts: int) -> bool:
        """True when this operator can never emit again without new input:
        no count window (its row positions must persist for the stream's
        lifetime), no open session, and the watermark past
        max_event_time + largest fixed window + lateness.

        The stream handler then drops the key's whole state cell, so the
        state store holds active keys, not every key ever seen. A later
        row for the key builds a fresh operator; by the horizon above, no
        window that could have held the dropped rows can still fire."""
        if self.has_count_measure or any(self.sessions):
            return False
        return self._quiesce_horizon() < watermark_ts


def new_operator(windows: Sequence[Window], aggs, max_lateness: int) -> SlicingWindowOperator:
    """One key's operator: every aggregate of ``aggs`` (``AggSpec``
    triples), then every window, in list order."""
    op = SlicingWindowOperator(max_lateness=max_lateness)
    for _, _, factory in aggs:
        op.add_aggregation(factory())
    for w in windows:
        op.add_window(w)
    return op

"""Pure-Python per-key general stream-slicing kernel: the stream's operator.

It partitions one key's stream into non-overlapping slices, keeps one
partial aggregate per slice per aggregate function, and on watermark
advance assembles every triggered window instance by combining the
partial aggregates of the slices it covers — sharing every slice across
all concurrent windows ("general stream slicing", ICDE'18 / EDBT'19).
Out-of-order rows, watermarks and state carried between micro-batches
need it. Batch does not run it: sorted input flushed by one watermark is
solved in closed form by ``plans.vectorized_multi``, and
``plans.scotty_batch._kernel_run`` runs the kernel over a flushed key
only as the reference that tests compare with.

It has **no Spark dependency**: ``streaming.processor`` drives one
kernel per key through ``new_operator`` and ``feed_sorted`` at the end
of this module. Running kernel-only keeps the ported reference unit
suites sub-second under ``pytest``.

Behaviour parity targets (reference, /root/reference — semantics only, the
implementation below is new):
- slicing/.../StreamSlicer.java:36-141        (slice-edge decisions; the
  first-edge initialisation relies on Java 64-bit wrap-around, reproduced
  here via ``wrap64``)
- slicing/.../SliceManager.java:27-155        (in/out-of-order insert,
  session slice surgery: split / move / merge, count-measure ripple)
- slicing/.../WindowManager.java:40-143       (watermark trigger + eviction,
  maxLateness default 1000)
- slicing/.../aggregationstore/LazyAggregateStore.java:14-145 (slice store)
- slicing/.../state/AggregateState.java, AggregateValueState.java
  (partial-aggregate vector, invert-vs-recompute)
- slicing/.../slice/AbstractSlice.java, EagerSlice.java, LazySlice.java,
  SliceFactory.java:17-22 (records kept only when a count window exists)

Deliberate divergences from the reference (latent reference bugs its
tests never reach; #1-2 pinned in tests/test_store.py:62-75, #4 in
tests/test_property_sharing.py + test_tumbling.py):
1. the record buffer is a stable sorted *list*, so same-timestamp records
   are retained (the reference's TreeSet silently drops them);
2. merging two slices merges their record buffers (the reference drops the
   right slice's buffer, breaking later recomputes);
3. sparse-key guard: see _insert_element (records silently dropped when
   the inter-arrival gap exceeds maxLateness);
4. power-of-two window sizes hang the reference's first-edge loop (the
   wrapped sentinel re-enters itself) — see _next_fixed_edge;
5. mixed fixed+session windows silently drop sessions whose in-order
   break falls before the next fixed edge + gap — see
   _next_flex_edge_count;
6. slice eviction never crosses the oldest ACTIVE session start (the
   reference's clearAfterWatermark mixes a duration with an absolute
   timestamp: unbounded state at epoch timestamps, silent data loss at
   small ones) — see _evict;
7. count windows trigger only when their end count has ARRIVED: the
   reference's cend+1 count horizon (WindowManager.java:117-118) emits a
   window missing its final element whenever the finalized count
   ≡ size−1 (mod size) — see _trigger_context_free; pinned in
   tests/test_tumbling.py::test_count_phantom_window_not_emitted;
8. a sliding window fires once its end is at or below the watermark, as
   a tumbling window does: the reference's `end <= watermark + 1` fires
   the window ending at watermark + 1 early and then AGAIN at the next
   watermark (its lower bound is `end > lastWatermark`) — see
   SlidingWindow.trigger_windows; pinned in
   tests/test_property_sharing.py::
   test_split_watermark_emits_each_window_once;
9. a late row that pulls a session start back past its slice's own start
   drops the session edge and adds one at the new start, instead of
   moving the edge in place into an inverted slice — see
   _apply_slice_edge_mods; pinned by an explicit example of
   test_split_watermark_emits_each_window_once;
10. a late row always lands in a slice that its windows contain. The
   slicer's first edges start at the grid edge at or below
   ``te − max_lateness`` instead of above it (see _next_fixed_edge), and
   a row below the first slice gets empty slices of its own instead of
   joining that slice (see _prepend_slices; not for count windows).
   Pinned by explicit examples of tests/test_stream_property.py::
   test_stream_emits_kernel_rows_once;
11. a late row exactly one gap before a session pulls the session start
   back to it, as a row one gap after the session's end extends it; the
   reference (WindowContext.java) leaves the start in place while the
   row's slice joins the session — see SessionContext.update_context;
   pinned by an explicit example of the same test;
12. a session removed by a merge deletes only its start edge. The
   reference also deletes at its end, so removing a one-row session
   dropped the edge at its start even when another session window's
   session starts there too, and that window lost its sessions on both
   sides of the edge — see SessionContext._remove_window; pinned by an
   explicit example of the same test.
"""

from __future__ import annotations

import bisect
from typing import Any, List, Optional, Sequence

from ..functions import (
    AggregateFunction,
    CountAggregation,
    MaxAggregation,
    MeanAggregation,
    MinAggregation,
    SumAggregation,
)
from .windows import (
    JLONG_MAX,
    JLONG_MIN,
    AddModification,
    DeleteModification,
    SessionContext,
    SessionWindow,
    ShiftModification,
    SlidingWindow,
    Window,
    WindowMeasure,
    jmod,
    wrap64,
)


class SliceType:
    """End-edge kind of a slice: Fixed (window edge) vs Flexible (session)."""

    __slots__ = ()
    movable = False


class Fixed(SliceType):
    __slots__ = ()
    movable = False


class Flexible(SliceType):
    """Session edge shared by ``count`` session contexts; movable iff 1."""

    __slots__ = ("count",)

    def __init__(self, count: int = 1):
        self.count = count

    @property
    def movable(self) -> bool:
        return self.count == 1


class AggregateState:
    """One partial aggregate per registered function.

    ``records`` (optional, shared with the owning slice) feeds the
    recompute path for non-invertible functions.
    """

    __slots__ = ("functions", "partials", "present", "records")

    def __init__(self, functions: Sequence[AggregateFunction], records: Optional[list] = None):
        self.functions = list(functions)
        self.partials: List[Any] = [None] * len(self.functions)
        self.present = [False] * len(self.functions)
        self.records = records

    def add_element(self, element: Any) -> None:
        for i, fn in enumerate(self.functions):
            if not self.present[i] or self.partials[i] is None:
                self.partials[i] = fn.lift(element)
                self.present[i] = True
            else:
                self.partials[i] = fn.lift_and_combine(self.partials[i], element)

    def remove_element(self, element: Any) -> None:
        for i, fn in enumerate(self.functions):
            if fn.invertible:
                self.partials[i] = fn.lift_and_invert(self.partials[i], element)
            else:
                self._recompute(i)

    def _recompute(self, i: int) -> None:
        assert self.records is not None, "recompute needs a record buffer"
        fn = self.functions[i]
        self.partials[i] = None
        self.present[i] = False
        for _, element in self.records:
            if not self.present[i]:
                self.partials[i] = fn.lift(element)
                self.present[i] = True
            else:
                self.partials[i] = fn.lift_and_combine(self.partials[i], element)

    def merge(self, other: "AggregateState") -> None:
        if len(other.functions) > len(self.functions):
            return
        for i in range(len(other.functions)):
            fn = self.functions[i]
            if not self.present[i] and other.present[i]:
                value = other.partials[i]
                if fn.cloneable:
                    value = fn.clone(value)
                self.partials[i] = value
                self.present[i] = True
            elif other.present[i]:
                self.partials[i] = fn.combine(self.partials[i], other.partials[i])

    @property
    def has_values(self) -> bool:
        return any(self.present)

    def values(self) -> List[Any]:
        return [
            self.functions[i].lower(self.partials[i])
            for i in range(len(self.functions))
            if self.present[i] and self.partials[i] is not None
        ]


class Slice:
    """Non-overlapping stream segment ``[t_start, t_end)``.

    Tracks boundary timestamps, first/last record timestamps actually seen,
    running record counts, an end-edge type, partial aggregates, and — only
    when a count-measure window is registered — the raw record buffer
    (sorted by ts) needed for count ripple and recomputes.
    """

    __slots__ = ("t_start", "t_end", "type", "t_last", "t_first", "c_start", "c_last", "agg_state", "records")

    def __init__(
        self,
        functions: Sequence[AggregateFunction],
        start_ts: int,
        end_ts: int,
        c_start: int,
        c_last: int,
        type_: SliceType,
        keep_records: bool,
    ):
        self.t_start = start_ts
        self.t_end = end_ts
        self.t_last = start_ts
        self.t_first = JLONG_MAX
        self.c_start = c_start
        self.c_last = c_last
        self.type = type_
        self.records: Optional[list] = [] if keep_records else None
        self.agg_state = AggregateState(functions, self.records)

    def add_element(self, element: Any, ts: int) -> None:
        self.t_last = max(self.t_last, ts)
        self.t_first = min(self.t_first, ts)
        self.c_last += 1
        self.agg_state.add_element(element)
        if self.records is not None:
            bisect.insort(self.records, (ts, element), key=lambda r: r[0])

    def drop_last_element(self) -> tuple:
        """Remove and return the max-ts record (count-ripple support)."""
        record = self.records.pop()
        self.agg_state.remove_element(record[1])
        self.c_last -= 1
        if self.records:
            self.t_last = self.records[-1][0]
        return record

    def prepend_element(self, record: tuple) -> None:
        self.add_element(record[1], record[0])

    def merge(self, other: "Slice") -> None:
        self.t_last = max(self.t_last, other.t_last)
        self.t_first = min(self.t_first, other.t_first)
        self.t_end = max(self.t_end, other.t_end)
        if self.records is not None and other.records:
            for rec in other.records:
                bisect.insort(self.records, rec, key=lambda r: r[0])
        self.agg_state.merge(other.agg_state)

    def __repr__(self) -> str:  # debugging aid
        return (
            f"Slice[{self.t_start},{self.t_end}) tFirst={self.t_first} tLast={self.t_last} "
            f"c=[{self.c_start},{self.c_last}] {type(self.type).__name__}"
        )


class WindowResult:
    """A triggered window instance plus its assembled aggregate.

    ``agg_state`` is created LAZILY on the first slice merge: the
    watermark trigger enumerates every grid instance in the horizon, and
    on sparse keys most instances cover no slice at all (measured at
    sf1.0: 1.76 M triggered vs 0.77 M non-empty for the 6 h tumbling
    flush — an AggregateState alloc + two list builds apiece, ~15% of
    kernel CPU, for windows that are dropped at emission)."""

    __slots__ = ("window_id", "start", "end", "measure", "functions", "_agg_state")

    def __init__(self, window_id: int, start: int, end: int, measure: WindowMeasure, functions):
        self.window_id = window_id
        self.start = start
        self.end = end
        self.measure = measure
        self.functions = functions
        self._agg_state = None

    @property
    def agg_state(self) -> "AggregateState":
        if self._agg_state is None:
            self._agg_state = AggregateState(self.functions)
        return self._agg_state

    def contains_slice(self, s: Slice) -> bool:
        if self.measure == WindowMeasure.TIME:
            return self.start <= s.t_start and self.end > s.t_last
        return self.start <= s.c_start and self.end >= s.c_last

    @property
    def has_value(self) -> bool:
        return self._agg_state is not None and self._agg_state.has_values

    def agg_values(self) -> List[Any]:
        return self.agg_state.values()

    def __repr__(self) -> str:
        return f"WindowResult({self.measure.value},{self.start}-{self.end},{self.agg_values() if self.has_value else '∅'})"


class _Collector:
    __slots__ = ("windows", "functions")

    def __init__(self, functions):
        self.windows: List[WindowResult] = []
        self.functions = functions

    def trigger(self, window_id: int, start: int, end: int, measure: WindowMeasure) -> None:
        self.windows.append(WindowResult(window_id, start, end, measure, self.functions))


def lower_windows(results: Sequence[WindowResult]) -> List[list]:
    """Output rows ``[window_id, measure, start, end, *lowered]`` for the
    triggered windows that cover at least one element, one lowered value
    per aggregate function (None where the function saw no element). The
    single lowering step of the batch and stream operators."""
    rows = []
    for w in results:
        if not w.has_value:
            continue
        st = w.agg_state
        vals = [fn.lower(p) if present else None
                for fn, p, present in zip(st.functions, st.partials, st.present)]
        rows.append([w.window_id, w.measure.value, w.start, w.end, *vals])
    return rows


class SliceStore:
    """Ordered in-memory slice list with interval/count lookups."""

    __slots__ = ("slices",)

    def __init__(self):
        self.slices: List[Slice] = []

    # lookup helpers -------------------------------------------------------
    def find_index_by_ts(self, ts: int) -> int:
        """Last index whose t_start <= ts, else -1 (starts are sorted)."""
        starts = self.slices
        lo, hi = 0, len(starts)
        while lo < hi:
            mid = (lo + hi) // 2
            if starts[mid].t_start <= ts:
                lo = mid + 1
            else:
                hi = mid
        return lo - 1

    def find_index_by_count(self, count: int) -> int:
        """Last index whose c_start <= count, else -1."""
        for i in range(len(self.slices) - 1, -1, -1):
            if self.slices[i].c_start <= count:
                return i
        return -1

    def find_index_by_end(self, end_ts: int) -> int:
        for i in range(len(self.slices) - 1, -1, -1):
            if self.slices[i].t_end == end_ts:
                return i
        return -1

    # mutation -------------------------------------------------------------
    def append(self, s: Slice) -> None:
        self.slices.append(s)

    def insert(self, index: int, s: Slice) -> None:
        self.slices.insert(index, s)

    def merge_at(self, index: int) -> None:
        self.slices[index].merge(self.slices[index + 1])
        del self.slices[index + 1]

    def evict_before(self, max_timestamp: int) -> None:
        index = self.find_index_by_ts(max_timestamp - 1)
        if index <= 0:
            return
        del self.slices[0:index]

    # window assembly ------------------------------------------------------
    def aggregate(self, windows: List[WindowResult], min_ts: int, max_ts: int, min_count: int, max_count: int) -> None:
        """The aggregate-sharing join of slices × triggered windows
        (parity: LazyAggregateStore.java:81-99 — same containment
        predicate, different join strategy).

        Time windows: slices are sorted by t_start and a time window
        contains exactly the slices with ``w.start <= t_start`` and
        ``w.end > t_last`` — so each window binary-searches its first
        candidate and scans only ``t_start < w.end`` (the reference scans
        the full envelope per window: O(W×S) vs O(W·(log S + hits)); at a
        bounded-batch flush W and S are both hundreds per key and the
        cross was 54% of kernel CPU). Count windows keep the envelope
        scan (positional containment has no sorted-prefix structure when
        mixed with time slices)."""
        time_windows = [w for w in windows if w.measure == WindowMeasure.TIME]
        count_windows = [w for w in windows if w.measure != WindowMeasure.TIME]
        if time_windows:
            starts = [s.t_start for s in self.slices]
            n = len(starts)
            for w in time_windows:
                i = bisect.bisect_left(starts, w.start)
                while i < n and starts[i] < w.end:
                    s = self.slices[i]
                    if w.end > s.t_last:
                        w.agg_state.merge(s.agg_state)
                    i += 1
        if count_windows:
            start = max(self.find_index_by_ts(min_ts), 0)
            start = min(start, self.find_index_by_count(min_count))
            end = min(len(self.slices) - 1, self.find_index_by_ts(max_ts))
            end = max(end, self.find_index_by_count(max_count))
            for i in range(start, end + 1):
                s = self.slices[i]
                for w in count_windows:
                    if w.contains_slice(s):
                        w.agg_state.merge(s.agg_state)

    @property
    def is_empty(self) -> bool:
        return not self.slices

    def __len__(self) -> int:
        return len(self.slices)

    def __getitem__(self, i: int) -> Slice:
        return self.slices[i]


# The numpy segment reduction that lifts each standard aggregate in
# SlicingWindowOperator.process_in_order_bulk. Keyed by exact type, so a
# subclass with its own lift never inherits a reduction name.
NAMED_LIFTS = {
    SumAggregation: "sum",
    CountAggregation: "count",
    MinAggregation: "min",
    MaxAggregation: "max",
    MeanAggregation: "mean",
}


def lift_kind(fn: AggregateFunction, value_mode: bool = True):
    """A function's segment lift: the reduction name from ``NAMED_LIFTS``
    for a standard aggregate over a value array, else the function's own
    ``bulk_lift_values`` (value mode) or ``bulk_lift_records`` (record
    mode, columnar dicts) callable, else None."""
    if value_mode:
        return NAMED_LIFTS.get(type(fn)) or fn.bulk_lift_values
    return fn.bulk_lift_records


def bulk_lift_kinds(fns: Sequence[AggregateFunction], value_mode: bool = True) -> Optional[list]:
    """Per-function ``lift_kind`` for ``process_in_order_bulk``, or None
    if any function has none: the caller feeds element by element.
    All-names (no callable) is the numpy-reducible surface that the typed
    stream state covers."""
    kinds = [lift_kind(fn, value_mode) for fn in fns]
    return None if any(k is None for k in kinds) else kinds


class SlicingWindowOperator:
    """Single-key slicing window operator: the full kernel facade.

    Usage (mirrors the reference unit-test entry point EP2):

        op = SlicingWindowOperator()
        op.add_aggregation(SumAggregation())
        op.add_window(TumblingWindow(WindowMeasure.TIME, 10))
        op.process_element(value, ts)
        results = op.process_watermark(wm)   # -> List[WindowResult]
    """

    def __init__(self, max_lateness: int = 1000):
        self.store = SliceStore()
        self.functions: List[AggregateFunction] = []
        self.context_free: List[Window] = []
        self.contexts: List[SessionContext] = []
        self.registered_window_ids: set = set()
        self.has_fixed_windows = False
        self.has_count_measure = False
        self.has_time_measure = False
        self.max_fixed_window_size = 0
        self.max_lateness = max_lateness
        self.last_watermark = JLONG_MIN  # unset: no watermark processed or seeded yet
        self.last_count = 0
        self.current_count = 0
        # stream-slicer state
        self._max_event_time = JLONG_MIN
        self._min_next_edge_ts = JLONG_MIN
        self._min_next_edge_count = JLONG_MIN

    # -- configuration -------------------------------------------------------
    def add_aggregation(self, fn: AggregateFunction) -> None:
        self.functions.append(fn)

    def add_window(self, window: Window) -> None:
        """Register a window; supports dynamic addition mid-stream."""
        self.registered_window_ids.add(window.window_id)
        if window.is_context_free:
            self.context_free.append(window)
            self.max_fixed_window_size = max(self.max_fixed_window_size, window.clear_delay())
            self.has_fixed_windows = True
            # a MID-STREAM add must invalidate the cached next-edge
            # horizon: a finer-grid window added while _min_next_edge_ts
            # points at the old grid's next edge would have its edges
            # skipped (no slice cuts → its early instances never cover a
            # slice) until the coarser edge passes; JLONG_MIN forces
            # _determine_slices to recompute the min over ALL windows
            self._min_next_edge_ts = JLONG_MIN
        elif isinstance(window, SessionWindow):
            self.contexts.append(window.create_context())
        if window.measure == WindowMeasure.COUNT:
            self.has_count_measure = True
        else:
            self.has_time_measure = True

    @property
    def has_context_aware(self) -> bool:
        return bool(self.contexts)

    # -- element path ---------------------------------------------------------
    def process_element(self, element: Any, ts: int) -> None:
        self._determine_slices(ts)
        self._insert_element(element, ts)

    # stream slicer: decide whether the incoming ts closes the current slice
    # and opens new one(s). Parity: StreamSlicer.java:36-86.
    def _determine_slices(self, te: int) -> None:
        if self.has_count_measure:
            if self._min_next_edge_count == JLONG_MIN or self.current_count == self._min_next_edge_count:
                if self._max_event_time == JLONG_MIN:
                    self._max_event_time = te
                self._append_slice(self._max_event_time, Fixed())
                self._min_next_edge_count = self._next_fixed_edge_count()

        if self.has_time_measure and te >= self._max_event_time:  # in-order only
            if self.has_fixed_windows and self._min_next_edge_ts == JLONG_MIN:
                self._min_next_edge_ts = self._next_fixed_edge(te)

            flex_count = 0
            if self.has_context_aware:
                flex_count = self._next_flex_edge_count(te)

            while self.has_fixed_windows and te > self._min_next_edge_ts:
                if self._min_next_edge_ts >= 0:
                    self._append_slice(self._min_next_edge_ts, Fixed())
                self._min_next_edge_ts = self._next_fixed_edge(te)

            if self._min_next_edge_ts == te:
                self._append_slice(te, Fixed())
                self._min_next_edge_ts = self._next_fixed_edge(te)
            elif flex_count > 0:
                self._append_slice(te, Flexible(flex_count))

        self.current_count += 1
        self._max_event_time = max(te, self._max_event_time)

    def _next_fixed_edge_count(self) -> int:
        current_min = 0 if self._min_next_edge_count == JLONG_MIN else self._min_next_edge_count
        t_c = max(self.current_count, current_min)
        edge = JLONG_MAX
        for w in self.context_free:
            if w.measure == WindowMeasure.COUNT:
                edge = min(edge, wrap64(w.assign_next_window_start(t_c)))
        return edge

    def _next_fixed_edge(self, te: int) -> int:
        # The first call sees the JLONG_MAX sentinel and Java wrap-around
        # makes the edge hugely negative; the caller's while-loop then walks
        # edges up from max(te - max_lateness, prev_edge), appending only
        # edges >= 0. wrap64 reproduces this observable behaviour exactly.
        # Divergence fix #10, first half: the walk starts AT the grid edge
        # at or below te - max_lateness, not above it. The reference
        # starts above it, so a key's first element, or one after a gap
        # longer than the lateness, leaves no edge there; a later row
        # within the lateness but below the first new edge then joins a
        # slice that spans a window start and falls out of that window.
        current_min = JLONG_MAX if self._min_next_edge_ts == JLONG_MIN else self._min_next_edge_ts
        t_c = max(self._first_slice_start(te - self.max_lateness) - 1, current_min)
        edge = JLONG_MAX
        for w in self.context_free:
            if w.measure == WindowMeasure.TIME:
                edge = min(edge, wrap64(w.assign_next_window_start(t_c)))
        if edge == JLONG_MIN:
            # divergence fix #4: for a power-of-two size/slide the wrapped
            # first edge is EXACTLY Long.MIN_VALUE — the reference then
            # re-reads it as its own uninitialised sentinel and loops
            # forever (StreamSlicer.java:106-117, `min_next_edge_ts ==
            # Long.MIN_VALUE ? Long.MAX_VALUE : ...`; 2^63 ≡ 0 mod any
            # power of two, so assignNextWindowStart(Long.MAX_VALUE)
            # overflows to exactly MIN_VALUE). Nudging by +1 breaks the
            # sentinel collision; the value is far below any appendable
            # (>= 0) edge, so no observable slice changes.
            edge = JLONG_MIN + 1
        return edge

    def _next_flex_edge_count(self, te: int) -> int:
        # divergence fix #5: the reference computes the session ("flex")
        # edge from t_c = max(maxEventTime, min_next_edge_ts)
        # (StreamSlicer.java:121-133) — but min_next_edge_ts is the NEXT
        # (future) fixed edge, which almost always exceeds maxEventTime
        # once fixed windows are registered, so true in-order session
        # breaks with last_ts + gap <= te < next_fixed_edge + gap are
        # silently suppressed: the session's first element lands in a
        # slice whose t_start precedes the session start and the whole
        # session drops out of window assembly (containsSlice needs
        # w.start <= slice.t_start). The reference never hits this — its
        # suites never mix fixed and session windows across an in-order
        # gap — but the mix is this engine's flagship workload. A session
        # break is a fact about event time alone: te >= maxEventTime + gap.
        t_c = self._max_event_time
        return sum(1 for ctx in self.contexts if te >= wrap64(ctx.assign_next_window_start(t_c)))

    # slice manager: append / insert / surgery. Parity: SliceManager.java.
    def _new_slice(self, start_ts: int, end_ts: int, c_start: int, c_last: int, type_: SliceType) -> Slice:
        # records are buffered only when a count-measure window exists
        # (SliceFactory.java:17-22: lazy slices cost memory; eager slices
        # keep partials only)
        return Slice(self.functions, start_ts, end_ts, c_start, c_last, type_, self.has_count_measure)

    def _append_slice(self, start_ts: int, type_: SliceType) -> None:
        if not self.store.is_empty:
            current = self.store[len(self.store) - 1]
            current.t_end = start_ts
            current.type = type_
        self.store.append(self._new_slice(start_ts, JLONG_MAX, self.current_count, self.current_count, Flexible()))

    def _first_slice_start(self, ts: int) -> int:
        """Start of the bootstrap slice when no edge preceded the first
        element. The reference hard-codes 0 (SliceManager.java:49-50),
        which only works for near-zero test timestamps: with epoch-scale
        ts no window instance would ever satisfy `w.start <= slice.t_start`
        and the first slice's records would silently drop out of every
        window. The largest fixed-window edge <= ts is the tightest start
        that every window containing ts also contains."""
        start = 0
        for w in self.context_free:
            if w.measure == WindowMeasure.TIME:
                grid = w.slide if isinstance(w, SlidingWindow) else w.size
                start = max(start, ts - jmod(ts, grid))
        return start

    def _insert_element(self, element: Any, ts: int) -> None:
        if self.store.is_empty:
            self._append_slice(self._first_slice_start(ts), Flexible())

        current = self.store[len(self.store) - 1]

        # Sparse-key guard (divergence fix #3): when the inter-arrival gap
        # exceeds max_lateness the reference's edge enumeration jumps
        # (StreamSlicer.java:115 t_c = max(te - maxLateness, prev_edge)),
        # leaving the open slice spanning several fixed windows; no window
        # instance then contains it (containsSlice needs w.start <=
        # slice.t_start) and its records silently drop. If the open slice
        # is still EMPTY, close it at the largest window-grid edge <= ts so
        # the incoming record lands in a slice every window containing ts
        # also contains. Dense streams (gaps <= lateness) never hit this.
        if (
            self.has_time_measure
            and self.has_fixed_windows
            and ts >= current.t_last
            and current.t_first == JLONG_MAX
        ):
            aligned = self._first_slice_start(ts)
            if aligned > current.t_start:
                self._append_slice(aligned, Fixed())
                current = self.store[len(self.store) - 1]

        if ts >= current.t_last:
            # in-order: slice edges already created by _determine_slices;
            # session context updates need no slice surgery here
            current.add_element(element, ts)
            mods: List = []
            for ctx in self.contexts:
                ctx.update_context(ts, mods)
            return

        if ts < self.store[0].t_start and not self.has_count_measure:
            self._prepend_slices(ts)

        # out-of-order: session surgery first, then indexed insert
        for ctx in self.contexts:
            mods = []
            ctx.update_context(ts, mods)
            self._apply_slice_edge_mods(mods)

        index = self.store.find_index_by_ts(ts)
        if index == -1:
            self.store[0].add_element(element, ts)
            return
        self.store[index].add_element(element, ts)

        if self.has_count_measure:
            # ripple the displaced last element of each slice into the next
            # (count windows are positional: SliceManager.java:82-90)
            while index <= len(self.store) - 2:
                record = self.store[index].drop_last_element()
                self.store[index + 1].prepend_element(record)
                index += 1

    def _prepend_slices(self, ts: int) -> None:
        """Divergence fix #10, second half: empty slices below the first
        one, from the largest fixed time edge at or below ``ts`` (0 with
        no fixed time window) up to the first slice, split at every fixed
        time edge. The reference adds a row below the first slice to that
        slice, whose windows do not contain it. Count-measure operators
        keep the reference's insert: their slices hold positional record
        runs."""
        first = self.store[0]
        grids = [w for w in self.context_free if w.measure == WindowMeasure.TIME]
        edge, edges = self._first_slice_start(ts), []
        while edge < first.t_start:
            edges.append(edge)
            edge = min((wrap64(w.assign_next_window_start(edge)) for w in grids),
                       default=first.t_start)
        self.store.slices[0:0] = [
            self._new_slice(a, b, first.c_start, first.c_start, Fixed())
            for a, b in zip(edges, edges[1:] + [first.t_start])
        ]

    def _apply_slice_edge_mods(self, mods: List) -> None:
        """Mirror session boundary changes as slice surgery.

        Parity: SliceManager.checkSliceEdges (SliceManager.java:94-146),
        including its early ``return`` (not continue) on missing edges."""
        for mod in mods:
            if isinstance(mod, ShiftModification):
                index = self.store.find_index_by_end(mod.pre)
                if index == -1:
                    return
                s = self.store[index]
                if mod.post <= s.t_start:
                    # divergence fix #9: the reference moves the edge in
                    # place even when an out-of-order element pulls the
                    # session start back past the slice's own start
                    # (e.g. fixed edge 54, session edge 55, late row 52),
                    # leaving a slice [54, 52) and unsorted starts — window
                    # assembly then drops slices depending on what eviction
                    # has already cut. [post, pre) holds no element (any
                    # would already be in the session), so drop the edge
                    # at pre and add one at post instead.
                    if s.type.movable:
                        self.store.merge_at(index)
                    elif isinstance(s.type, Flexible):
                        s.type.count -= 1
                    index = self.store.find_index_by_ts(mod.post)
                    if index == -1:
                        return
                    if self.store[index].t_start != mod.post:
                        self._split_slice(index, mod.post)
                elif s.type.movable:
                    nxt = self.store[index + 1]
                    s.t_end = mod.post
                    nxt.t_start = mod.post
                else:
                    if isinstance(s.type, Flexible):
                        s.type.count -= 1
                    self._split_slice(index, mod.post)
            elif isinstance(mod, DeleteModification):
                index = self.store.find_index_by_end(mod.pre)
                if index >= 0:
                    s = self.store[index]
                    if s.type.movable:
                        self.store.merge_at(index)
                    elif isinstance(s.type, Flexible):
                        s.type.count -= 1
            elif isinstance(mod, AddModification):
                index = self.store.find_index_by_ts(mod.post)
                if index == -1:
                    return
                s = self.store[index]
                if s.t_start != mod.post and s.t_end != mod.post:
                    self._split_slice(index, mod.post)

    def _split_slice(self, index: int, ts: int) -> None:
        left = self.store[index]
        right = self._new_slice(ts, left.t_end, left.c_start, left.c_last, left.type)
        left.t_end = ts
        left.type = Flexible()
        self.store.insert(index + 1, right)

    # -- bulk in-order path -----------------------------------------------
    def bulk_eligible(self) -> bool:
        """The vectorized in-order path applies when slice record buffers
        are not needed (no count windows) and every function has a
        segment lift (checked by the caller with ``bulk_lift_kinds``)."""
        return not self.has_count_measure and self.has_time_measure

    def process_in_order_bulk(self, values, ts_arr, lift_kinds, element_at=None) -> None:
        """Vectorized exact-parity insert of an IN-ORDER run.

        Preconditions (caller-enforced): ``ts_arr`` sorted ascending,
        ``ts_arr[0] >= self._max_event_time`` (in-order w.r.t. operator
        state), ``bulk_eligible()``, and ``lift_kinds`` from
        ``bulk_lift_kinds``: per function a ``NAMED_LIFTS`` reduction name
        OR a callable ``(values, seg_start, seg_end) -> lifted partial``
        (segment lift for custom functions — e.g. quantile histograms,
        payload tallies; by associativity ``combine(p, bulk_lift(seg))``
        equals folding ``lift_and_combine`` over the segment).

        ``element_at(i)`` supplies the element for the per-element exact
        path at segment breaks; defaults to ``values[i]``. This lets
        record-mode callers keep ``values`` COLUMNAR (dict of lists) and
        materialize a per-row dict only for the few break elements.

        Equivalence argument (this is the reference's in-order fast path,
        StreamSlicer.java:50-86, in segment form): a sequential
        ``process_element`` can only change slice/session structure at an
        element that (a) crosses a fixed window-grid edge since the
        previous element, or (b) opens a session gap (te ≥ prev + gap).
        The break set computed below is a SUPERSET of those elements (a
        false positive only routes one more element through the exact
        per-element path), so every non-break element reduces to
        "append into the current slice + extend the open sessions" —
        which is what the numpy segment reduction applies in bulk.
        """
        import numpy as np

        n = len(ts_arr)
        if n == 0:
            return
        get = element_at if element_at is not None else values.__getitem__
        if int(ts_arr[0]) < 0:
            # The break grid below uses numpy floor division; the exact
            # per-element path derives edges with Java-style jmod
            # (truncation toward zero). The two grids agree only for
            # non-negative timestamps, so negative-epoch data takes the
            # exact path (unreachable with epoch-ms transcripts, guarded
            # anyway).
            for i in range(n):
                self.process_element(get(i), int(ts_arr[i]))
            return
        breaks = np.zeros(n, dtype=bool)
        breaks[0] = True
        prev = ts_arr[:-1]
        cur = ts_arr[1:]
        for w in self.context_free:
            if w.measure != WindowMeasure.TIME:
                continue
            g = w.slide if isinstance(w, SlidingWindow) else w.size
            breaks[1:] |= (cur // g) * g > prev
        for ctx in self.contexts:
            breaks[1:] |= cur >= prev + ctx.gap

        seg_starts = np.nonzero(breaks)[0]
        seg_ends = np.concatenate([seg_starts[1:], [n]])
        for s, e in zip(seg_starts.tolist(), seg_ends.tolist()):
            # the exact path handles edge/section/bootstrap bookkeeping
            self.process_element(get(s), int(ts_arr[s]))
            if e - s <= 1:
                continue
            seg = values[s + 1 : e] if element_at is None else None
            last_ts = int(ts_arr[e - 1])
            slc = self.store[len(self.store) - 1]
            state = slc.agg_state
            cnt = e - s - 1
            for i, kind in enumerate(lift_kinds):
                if callable(kind):
                    lifted = kind(values, s + 1, e)
                elif kind == "sum":
                    lifted = float(seg.sum())
                elif kind == "count":
                    lifted = cnt
                elif kind == "min":
                    lifted = float(seg.min())
                elif kind == "max":
                    lifted = float(seg.max())
                else:  # mean
                    lifted = (float(seg.sum()), cnt)
                if not state.present[i] or state.partials[i] is None:
                    state.partials[i] = lifted
                    state.present[i] = True
                else:
                    state.partials[i] = state.functions[i].combine(state.partials[i], lifted)
            slc.t_last = max(slc.t_last, last_ts)
            slc.t_first = min(slc.t_first, int(ts_arr[s + 1]))
            slc.c_last += cnt
            self.current_count += cnt
            self._max_event_time = max(self._max_event_time, last_ts)
            for ctx in self.contexts:
                # in-order: each element extends the LAST active session;
                # the net effect of the per-element extends is one
                # shift-end to the segment's last timestamp (shiftEnd
                # records no modification — WindowContext.java:62-65)
                if ctx.active_windows:
                    w = ctx.active_windows[-1]
                    if w.end < last_ts:
                        w.end = last_ts

    def seed_watermark(self, watermark_ts: int) -> None:
        """Pin the initial lastWatermark (batch/stream adapters call this
        with min event ts − 1). Without it the first process_watermark
        initialises lastWatermark = wm − max_lateness (reference
        WindowManager.java:42-43), silently skipping windows older than
        the lateness bound — correct for an always-on stream, wrong for a
        bounded batch flushed by one final watermark. Seeding with 0 would
        instead enumerate every window instance since the epoch."""
        if self.last_watermark == JLONG_MIN:
            self.last_watermark = watermark_ts

    # -- watermark path --------------------------------------------------------
    def process_watermark(self, watermark_ts: int) -> List[WindowResult]:
        """Emit every window instance that ended before the watermark.

        Parity: WindowManager.processWatermark (WindowManager.java:40-79)
        including first-watermark initialisation and slice eviction."""
        if self.last_watermark == JLONG_MIN:
            self.last_watermark = max(0, watermark_ts - self.max_lateness)

        if self.store.is_empty:
            self.last_watermark = watermark_ts
            return []

        oldest_start = self.store[0].t_start
        if self.last_watermark < oldest_start:
            self.last_watermark = oldest_start

        collector = _Collector(self.functions)
        self._trigger_context_free(watermark_ts, collector)
        for ctx in self.contexts:
            ctx.trigger_windows(collector, self.last_watermark, watermark_ts)

        min_ts, max_ts = JLONG_MAX, 0
        min_count, max_count = self.current_count, 0
        for w in collector.windows:
            if w.measure == WindowMeasure.TIME:
                min_ts = min(w.start, min_ts)
                max_ts = max(w.end, max_ts)
            else:
                min_count = min(w.start, min_count)
                max_count = max(w.end, max_count)

        if collector.windows:
            self.store.aggregate(collector.windows, min_ts, max_ts, min_count, max_count)

        self.last_watermark = watermark_ts
        self.last_count = max(max_count, self.last_count)
        self._evict(watermark_ts - self.max_lateness)
        return collector.windows

    def _trigger_context_free(self, watermark_ts: int, collector: _Collector) -> None:
        for w in self.context_free:
            if w.measure == WindowMeasure.TIME:
                w.trigger_windows(collector, self.last_watermark, watermark_ts)
            else:
                # translate the time watermark into a count horizon via the
                # slice containing it (WindowManager.java:105-119)
                index = self.store.find_index_by_ts(watermark_ts)
                if index == -1:
                    continue
                s = self.store[index]
                if s.t_last >= watermark_ts:
                    if index == 0:
                        continue
                    s = self.store[index - 1]
                # divergence fix #7: the reference passes cend + 1 as the
                # count horizon (WindowManager.java:117-118). c_last is
                # already the EXCLUSIVE element count, so the extra +1
                # emits a window missing its final element whenever the
                # finalized count ≡ size−1 (mod size) — e.g. 49 elements,
                # count-25 tumbling → phantom [25,50) with 24 elements.
                # No reference test hits that residue class. The horizon
                # here is the true finalized count: a count window
                # triggers only once its end count has actually arrived
                # (pinned by tests/test_tumbling.py::
                # test_count_phantom_window_not_emitted).
                w.trigger_windows(collector, self.last_count, s.c_last)

    def next_emission_ts(self) -> Optional[int]:
        """Earliest event time at which a watermark could trigger a new
        emission — drives the streaming operator's event-time timer (the
        Spark analogue of the reference broadcasting processWatermark to
        every key, KeyedScottyWindowOperator.java:65-78). Waking early is
        harmless; waking late would delay emissions, so bounds are loose."""
        candidates = []
        if not self.store.is_empty:
            for w in self.context_free:
                if w.measure == WindowMeasure.TIME:
                    step = w.slide if isinstance(w, SlidingWindow) else w.size
                    k = (self.last_watermark - w.size) // step + 1
                    candidates.append(k * step + w.size)
        for ctx in self.contexts:
            if ctx.active_windows:
                candidates.append(ctx.active_windows[0].end + ctx.gap + 1)
        return min(candidates) if candidates else None

    def quiesced(self, watermark_ts: int) -> bool:
        """True when this kernel can never emit again without NEW input:
        no count-measure positional counters (they must persist for the
        stream's lifetime), no active session, and every retained slice —
        including the OPEN slice that eviction structurally keeps — is
        past the horizon of any window that could still fire
        (max_event_time + largest fixed window + lateness < watermark).

        The streaming operators drop the key's whole state cell then. The
        open-slice floor would otherwise keep every FINISHED conversation
        in the state store forever and re-arm its event-time timer every
        window period — at 10^9 conv_id keys that is the difference
        between state ∝ active keys and state ∝ ever-seen keys. A later
        element for the key rebuilds a fresh kernel; no window that could
        have included the dropped slices can still fire, by the horizon
        above, so emitted results are unchanged."""
        if self.has_count_measure:
            return False
        if any(ctx.active_windows for ctx in self.contexts):
            return False
        return (
            self._max_event_time + self.max_fixed_window_size + self.max_lateness
            < watermark_ts
        )

    def _evict(self, current_watermark: int) -> None:
        # divergence fix #6: the reference's clearAfterWatermark
        # (WindowManager.java:81-91) computes
        # maxDelay = max(maxFixedWindowSize, activeSession.getStart()) —
        # mixing a DURATION with an ABSOLUTE timestamp. At epoch-scale
        # timestamps start >> watermark-start ever gets, so the bound goes
        # negative and nothing is evicted while any session is active
        # (unbounded state, no visible bug); at small test timestamps the
        # bound can pass an active session's start and evict slices the
        # session still covers — its elements silently drop from the
        # emitted window (found by tests/test_property_sharing.py). The
        # intended invariant is explicit here: never evict at or above the
        # oldest ACTIVE session start, and otherwise trail the watermark
        # by the largest fixed-window horizon.
        bound = current_watermark - self.max_fixed_window_size
        for ctx in self.contexts:
            for w in ctx.active_windows:
                bound = min(bound, w.start)
        self.store.evict_before(bound)


# A key's batch shorter than this feeds custom segment lifts (callable
# kinds) element by element: an np.unique/Counter per near-empty segment
# costs more than a handful of per-element merges (measured 2× slower on
# ~5-row key batches), while the named numpy reductions stay cheap at
# any size.
MIN_BULK_CUSTOM = 64


def new_operator(windows: Sequence[Window], aggs, max_lateness: int) -> SlicingWindowOperator:
    """One key's operator: every aggregate of ``aggs`` (``AggSpec``
    triples), then every window, in list order. The order is state: the
    stream's typed codec indexes session contexts by position, so live
    registry windows go after the base list."""
    op = SlicingWindowOperator(max_lateness=max_lateness)
    for _, _, factory in aggs:
        op.add_aggregation(factory())
    for w in windows:
        op.add_window(w)
    return op


def feed_sorted(op: SlicingWindowOperator, data, ts_ms, kinds: Optional[list]) -> None:
    """Feed one key's rows, sorted by event time (``ts_ms``, int64 epoch
    ms), into ``op``. ``data`` holds the rows' values (a numpy array) or,
    in record mode, a dict of column lists; ``kinds`` comes from
    ``bulk_lift_kinds`` for the same mode.

    Rows before the operator's event-time frontier take the exact
    per-element path (out-of-order slice surgery); the in-order rest takes
    ``process_in_order_bulk`` (the reference's in-order branch,
    StreamSlicer.java:50-51, in segment form). Every row goes element by
    element when the window/function mix has no bulk path, or when a
    batch shorter than ``MIN_BULK_CUSTOM`` has custom lifts."""
    import numpy as np

    n = len(ts_ms)
    record = isinstance(data, dict)
    if (
        kinds is None
        or not op.bulk_eligible()
        or (n < MIN_BULK_CUSTOM and any(callable(k) for k in kinds))
    ):
        split = n
    else:
        split = int(np.searchsorted(ts_ms, max(op._max_event_time, ts_ms[0]), side="left"))
    if split:
        # zip stops at the split, so records become dicts only up to it
        rows = (dict(zip(data, r)) for r in zip(*data.values())) if record else data
        for t, element in zip(ts_ms[:split].tolist(), rows):
            op.process_element(element, t)
    if split < n and record:
        rest = {c: v[split:] for c, v in data.items()} if split else data
        op.process_in_order_bulk(
            rest, ts_ms[split:], kinds, element_at=lambda i: {c: v[i] for c, v in rest.items()}
        )
    elif split < n:
        op.process_in_order_bulk(data[split:], ts_ms[split:], kinds)

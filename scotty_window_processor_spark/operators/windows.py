"""Window definitions: tumbling / sliding / session, time- or count-measured.

Semantics parity targets (reference, /root/reference):
- core/.../windowType/TumblingWindow.java:5-66
- core/.../windowType/SlidingWindow.java:5-84  (descending trigger order)
- core/.../windowType/SessionWindow.java:6-145 (gap sessions, merge/extend)
- core/.../windowType/windowContext/WindowContext.java:9-106

All timestamps are plain ints (milliseconds by convention); counts are ints.
Java 64-bit wrap-around arithmetic is reproduced where observable (the
stream slicer's first-edge initialisation relies on it).
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass, field
from enum import Enum
from typing import List

JLONG_MIN = -(2**63)
JLONG_MAX = 2**63 - 1


def wrap64(x: int) -> int:
    """Wrap a Python int to Java signed-64-bit overflow semantics."""
    return (x - JLONG_MIN) % 2**64 + JLONG_MIN


def jmod(a: int, b: int) -> int:
    """Java's ``%`` — remainder takes the sign of the dividend."""
    r = abs(a) % abs(b)
    return r if a >= 0 else -r


class WindowMeasure(Enum):
    TIME = "time"
    COUNT = "count"


class WindowModification:
    """Marker base for session-context edge modifications."""

    __slots__ = ()


@dataclass(frozen=True)
class AddModification(WindowModification):
    post: int


@dataclass(frozen=True)
class DeleteModification(WindowModification):
    pre: int


@dataclass(frozen=True)
class ShiftModification(WindowModification):
    pre: int
    post: int


@dataclass
class Window:
    measure: WindowMeasure
    window_id: int = -1

    @property
    def is_context_free(self) -> bool:
        return True


@dataclass
class TumblingWindow(Window):
    """Fixed-size non-overlapping window.

    Parity: core/.../windowType/TumblingWindow.java:40-59.
    """

    size: int = 1

    def __init__(self, measure: WindowMeasure, size: int, window_id: int = -1):
        super().__init__(measure, window_id)
        self.size = size

    def assign_next_window_start(self, record_stamp: int) -> int:
        return record_stamp + self.size - jmod(record_stamp, self.size)

    def trigger_windows(self, collector, last_watermark: int, current_watermark: int) -> None:
        size = self.size
        start = last_watermark - jmod(last_watermark + size, size)
        while start + size <= current_watermark:
            collector.trigger(self.window_id, start, start + size, self.measure)
            start += size

    def clear_delay(self) -> int:
        return self.size


@dataclass
class SlidingWindow(Window):
    """Overlapping window of ``size`` advancing by ``slide``.

    Triggers enumerate **descending** window starts, matching
    core/.../windowType/SlidingWindow.java:57-70 (observable in the
    reference's SlidingWindowOperatorTest emission-order assertions).
    """

    size: int = 1
    slide: int = 1

    def __init__(self, measure: WindowMeasure, size: int, slide: int, window_id: int = -1):
        super().__init__(measure, window_id)
        self.size = size
        self.slide = slide

    def assign_next_window_start(self, record_stamp: int) -> int:
        return record_stamp + self.slide - jmod(record_stamp, self.slide)

    def trigger_windows(self, collector, last_watermark: int, current_watermark: int) -> None:
        # fires windows ending in (last_watermark, current_watermark], as
        # TumblingWindow does. The reference's `<= currentWatermark + 1`
        # (kernel divergence #8) also fires the window ending at
        # current + 1, which the next call's `> last_watermark` bound then
        # fires a second time.
        start = current_watermark - jmod(current_watermark + self.slide, self.slide)
        while start + self.size > last_watermark:
            if start >= 0 and start + self.size <= current_watermark:
                collector.trigger(self.window_id, start, start + self.size, self.measure)
            start -= self.slide

    def clear_delay(self) -> int:
        return self.size


class ActiveWindow:
    """A live (not yet triggered) session instance ``[start, end]``."""

    __slots__ = ("start", "end")

    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SessionContext:
    """Per-key gap-session bookkeeping.

    Maintains an ordered list of active sessions and records every
    boundary modification (add / delete / shift) so the slice manager can
    mirror it with slice surgery. Parity:
    core/.../windowType/SessionWindow.java:51-144 and
    core/.../windowType/windowContext/WindowContext.java:20-77.
    """

    def __init__(self, gap: int, measure: WindowMeasure, window_id: int):
        self.gap = gap
        self.measure = measure
        self.window_id = window_id
        self.active_windows: List[ActiveWindow] = []
        self._mods: List[WindowModification] | None = None

    # -- modification-recording primitives ---------------------------------
    def _add_new_window(self, i: int, start: int, end: int) -> ActiveWindow:
        w = ActiveWindow(start, end)
        self.active_windows.insert(i, w)
        self._mods.append(AddModification(start))
        self._mods.append(AddModification(end))
        return w

    def _remove_window(self, i: int) -> None:
        w = self.active_windows[i]
        self._mods.append(DeleteModification(w.start))
        self._mods.append(DeleteModification(w.end))
        del self.active_windows[i]

    def _shift_start(self, w: ActiveWindow, position: int) -> None:
        self._mods.append(ShiftModification(w.start, position))
        w.start = position

    def _shift_end(self, w: ActiveWindow, position: int) -> None:
        # deliberately no modification record — matches the reference,
        # where shiftEnd's ShiftModification is commented out
        # (WindowContext.java:62-65).
        w.end = position

    def _merge_with_pre(self, i: int) -> ActiveWindow:
        w = self.active_windows[i]
        pre = self.active_windows[i - 1]
        self._shift_end(pre, w.end)
        self._remove_window(i)
        return pre

    # -- public API ---------------------------------------------------------
    def assign_next_window_start(self, position: int) -> int:
        return position + self.gap

    def _get_session(self, position: int) -> int:
        # Sessions are ordered and non-overlapping, so their ends are
        # strictly increasing: binary-search the first session with
        # end + gap >= position instead of scanning from 0 (the reference
        # scans linearly, WindowContext.java:37-49 — O(active sessions)
        # per element, quadratic for a key accumulating sessions under a
        # long watermark horizon). When adjacent extended ranges
        # [start-gap, end+gap] overlap, the leftmost match wins — same as
        # the scan, since every earlier session has end + gap < position.
        gap = self.gap
        i = bisect.bisect_left(self.active_windows, position, key=lambda w: w.end + gap)
        if i == len(self.active_windows):
            return i - 1
        if self.active_windows[i].start - gap <= position:
            return i
        return i - 1

    def update_context(self, position: int, mods: List[WindowModification]) -> None:
        """Place ``position`` into the session set, merging/extending as needed."""
        self._mods = mods
        try:
            if not self.active_windows:
                self._add_new_window(0, position, position)
                return
            idx = self._get_session(position)
            if idx == -1:
                self._add_new_window(0, position, position)
                return
            s = self.active_windows[idx]
            gap = self.gap
            if s.start - gap > position:
                self._add_new_window(idx, position, position)
            elif s.start > position and s.start - gap < position:
                self._shift_start(s, position)
                if idx > 0:
                    pre = self.active_windows[idx - 1]
                    if pre.end + gap >= s.start:
                        self._merge_with_pre(idx)
            elif s.end < position and s.end + gap >= position:
                self._shift_end(s, position)
                if idx < len(self.active_windows) - 1:
                    nxt = self.active_windows[idx + 1]
                    if s.end + gap >= nxt.start:
                        self._merge_with_pre(idx + 1)
            elif s.end + gap < position:
                self._add_new_window(idx + 1, position, position)
        finally:
            self._mods = None

    def trigger_windows(self, collector, last_watermark: int, current_watermark: int) -> None:
        while self.active_windows:
            session = self.active_windows[0]
            window_end = session.end + self.gap
            if window_end >= current_watermark:
                return
            collector.trigger(self.window_id, session.start, window_end, self.measure)
            del self.active_windows[0]


@dataclass
class SessionWindow(Window):
    """Gap-based session window; emits ``[first_ts, last_ts + gap)``."""

    gap: int = 1

    def __init__(self, measure: WindowMeasure, gap: int, window_id: int = -1):
        if measure == WindowMeasure.COUNT:
            # Conformance decision (SURVEY §2, reference parity): the
            # reference's SessionWindow nominally accepts
            # WindowMeasure.Count (core/.../SessionWindow.java:19-27) but
            # its SliceManager always feeds the session context EVENT TIME
            # (SliceManager.java:61,69), so a Count session silently runs
            # as a TIME session with the gap read in milliseconds — a trap,
            # not a feature (no reference test covers it). We fail fast
            # instead of reproducing the mislabeled behavior; pinned by
            # tests/test_session.py::test_count_measure_session_rejected.
            raise ValueError(
                "SessionWindow supports WindowMeasure.TIME only: count-measure "
                "sessions are not defined (the reference silently treats them "
                "as time sessions). Use a count-measure Tumbling/SlidingWindow "
                "or a time-measure SessionWindow."
            )
        super().__init__(measure, window_id)
        self.gap = gap

    @property
    def is_context_free(self) -> bool:
        return False

    def create_context(self) -> SessionContext:
        return SessionContext(self.gap, self.measure, self.window_id)

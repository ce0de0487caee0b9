"""Window definitions: tumbling / sliding / session, time- or count-measured.

Semantics parity targets (reference, /root/reference):
- core/.../windowType/TumblingWindow.java:5-66
- core/.../windowType/SlidingWindow.java:5-84  (descending trigger order)
- core/.../windowType/SessionWindow.java:6-145 (gap sessions)

All timestamps are plain ints (milliseconds by convention); counts are ints.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum
from typing import Sequence

JLONG_MIN = -(2**63)  # the operator's unset watermark


def jmod(a: int, b: int) -> int:
    """Java's ``%`` — remainder takes the sign of the dividend."""
    r = abs(a) % abs(b)
    return r if a >= 0 else -r


class WindowMeasure(Enum):
    TIME = "time"
    COUNT = "count"


@dataclass
class Window:
    measure: WindowMeasure
    window_id: int = -1


@dataclass
class TumblingWindow(Window):
    """Fixed-size non-overlapping window.

    Parity: core/.../windowType/TumblingWindow.java:40-59.
    """

    size: int = 1

    def __init__(self, measure: WindowMeasure, size: int, window_id: int = -1):
        super().__init__(measure, window_id)
        self.size = size

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

    def trigger_windows(self, collector, last_watermark: int, current_watermark: int) -> None:
        # fires windows ending in (last_watermark, current_watermark], as
        # TumblingWindow does. The reference's `<= currentWatermark + 1`
        # also fires the window ending at current + 1, which the next
        # call's `> last_watermark` bound then fires a second time.
        start = current_watermark - jmod(current_watermark + self.slide, self.slide)
        while start + self.size > last_watermark:
            if start >= 0 and start + self.size <= current_watermark:
                collector.trigger(self.window_id, start, start + self.size, self.measure)
            start -= self.slide

    def clear_delay(self) -> int:
        return self.size


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


def check_window_ids(windows: Sequence[Window]) -> None:
    """Raise ``ValueError`` when two of ``windows`` share a ``window_id``.
    The Spark operators tag each output row with its window's id only, so
    two windows under one id (e.g. both left at the default -1) would emit
    their rows as one window's."""
    seen = set()
    for w in windows:
        if w.window_id in seen:
            raise ValueError(
                f"window_id {w.window_id} is given to more than one window: "
                "each window needs its own window_id"
            )
        seen.add(w.window_id)

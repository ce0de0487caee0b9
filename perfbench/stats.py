"""Percentile, latency and open-loop schedule helpers for the benchmark.

Pure Python (no Spark) so the unit tests in ``perfbench/tests`` can pin
the rules the reported numbers rest on:

- a latency sample is one *micro-batch*, never one window: windows that a
  sink commits together share one commit instant and are not independent;
- an upper percentile is reported only when at least ``MIN_BEYOND``
  samples lie beyond it;
- open-loop latency starts at the *scheduled* drop time of the input file,
  so a stalled engine or a late generator shows up as latency instead of
  silently stretching the schedule.
"""

from __future__ import annotations

import bisect
import math
import statistics
import time
from typing import Callable, Dict, Iterable, List, Optional, Sequence

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """Raised when a percentile is asked for on too small a sample."""


def median(values: Sequence[float]) -> float:
    if not values:
        raise TooFewSamples("median of an empty sample")
    return float(statistics.median(values))


def upper_percentile(values: Sequence[float], q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``values``.

    Refuses (raises ``TooFewSamples``) when fewer than ``min_beyond``
    samples lie strictly above the rank, because such a tail is a handful
    of anecdotes, not a percentile."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must lie in (0, 1), got {q}")
    n = len(values)
    rank = max(1, math.ceil(q * n))  # 1-based nearest rank
    if n - rank < min_beyond:
        raise TooFewSamples(
            f"p{round(q * 100)} of {n} samples has {n - rank} beyond it; "
            f"need at least {min_beyond}"
        )
    return float(sorted(values)[rank - 1])


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 − Q1) / median: the run-to-run spread of a metric."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# -- open-loop latency ------------------------------------------------------


def pushing_file_index(cummax_ts: Sequence[int], threshold_ms: int, strict: bool) -> Optional[int]:
    """Index of the first file after which ``max event time − delay``
    reaches ``threshold_ms`` (``cummax_ts`` already has the delay
    subtracted). ``strict`` asks for ``>`` instead of ``>=``: session
    windows fire when the watermark passes their end strictly, tumbling
    windows when it reaches it. None when no file gets there."""
    i = (bisect.bisect_right if strict else bisect.bisect_left)(cummax_ts, threshold_ms)
    return i if i < len(cummax_ts) else None


def microbatch_latency_samples(
    commits: Dict[int, float], batch_windows: Dict[int, Iterable[float]]
) -> List[float]:
    """One latency sample per committed micro-batch.

    ``commits`` maps batch id → commit instant (ms); ``batch_windows`` maps
    batch id → the origins (ms) of the windows it carries, each origin
    being the scheduled drop time of the file that made the window
    emittable. A batch's sample is its commit instant minus its EARLIEST
    origin — the latency of the window that waited longest in it. Batches
    that emitted no window give no sample."""
    out = []
    for bid in sorted(batch_windows):
        origins = list(batch_windows[bid])
        if origins and bid in commits:
            out.append(commits[bid] - min(origins))
    return out


class OpenLoopGenerator:
    """Calls ``drop(k)`` for k = 0..n−1 at ``start + k·interval`` seconds.

    The schedule is fixed up front: when a drop is late (the thread was
    starved, or ``drop`` itself blocked), later drops keep their own due
    times instead of shifting, so the offered rate never slows with the
    engine. ``lag_ms`` records how late each drop ran; latency is measured
    from ``due_ms`` so any lateness counts against the engine's numbers
    rather than hiding in the schedule."""

    def __init__(
        self,
        n: int,
        interval_s: float,
        drop: Callable[[int], None],
        clock: Callable[[], float] = time.time,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.n = n
        self.interval_s = interval_s
        self.drop = drop
        self.clock = clock
        self.sleep = sleep
        self.start: Optional[float] = None
        self.due_ms: List[float] = []
        self.lag_ms: List[float] = []

    def due(self, k: int) -> float:
        return self.start + k * self.interval_s

    def run(self, start: Optional[float] = None) -> None:
        self.start = self.clock() if start is None else start
        for k in range(self.n):
            due = self.due(k)
            wait = due - self.clock()
            if wait > 0:
                self.sleep(wait)
            self.drop(k)
            self.due_ms.append(due * 1000.0)
            self.lag_ms.append(max(0.0, (self.clock() - due) * 1000.0))


def fixed_rate_count(seconds: float, interval_s: float, tail_s: float) -> int:
    """Number of drops at 0, interval, 2·interval, … that leave at least
    ``tail_s`` of the ``seconds`` run after the last one."""
    return max(1, int((seconds - tail_s) / interval_s + 1e-9) + 1)


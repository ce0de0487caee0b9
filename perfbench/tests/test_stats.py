"""Unit tests of the benchmark's percentile, latency and tracing helpers.

Run with: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import (  # noqa: E402
    OpenLoopGenerator,
    TooFewSamples,
    fixed_rate_count,
    median,
    microbatch_latency_samples,
    pushing_file_index,
    quartile_spread,
    upper_percentile,
)
from tracing import Tracer  # noqa: E402


class FakeClock:
    def __init__(self, t=1000.0):
        self.t = t

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def test_upper_percentile_needs_ten_samples_beyond():
    with pytest.raises(TooFewSamples):
        upper_percentile(list(range(99)), 0.9)  # rank 90, 9 beyond
    assert upper_percentile(list(range(1, 101)), 0.9) == 90.0  # 10 beyond
    with pytest.raises(TooFewSamples):
        upper_percentile([5.0] * 19, 0.5)  # rank 10, 9 beyond
    assert upper_percentile([float(i) for i in range(20)], 0.5) == 9.0


def test_median_refuses_empty_sample():
    with pytest.raises(TooFewSamples):
        median([])
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_sample_unit_is_the_microbatch():
    # 500 windows committed together are one sample, not 500
    commits = {7: 10_000.0, 8: 12_000.0, 9: 13_000.0}
    windows = {7: [4_000.0] * 499 + [3_000.0], 8: [9_000.0], 9: []}
    samples = microbatch_latency_samples(commits, windows)
    # batch 7: its earliest-eligible window waited longest; batch 9 emitted nothing
    assert samples == [7_000.0, 3_000.0]


def test_uncommitted_batch_gives_no_sample():
    assert microbatch_latency_samples({1: 5.0}, {1: [1.0], 2: [1.0]}) == [4.0]


def test_pushing_file_follows_window_trigger_rule():
    wm_after = [100, 200, 300]  # watermark after each file
    # a tumbling window fires when the watermark reaches its end
    assert pushing_file_index(wm_after, 200, strict=False) == 1
    # a session fires once the watermark passes its end
    assert pushing_file_index(wm_after, 200, strict=True) == 2
    assert pushing_file_index(wm_after, 50, strict=True) == 0
    assert pushing_file_index(wm_after, 300, strict=True) is None


def test_latency_origin_is_the_scheduled_drop_time():
    clock = FakeClock()
    dropped_at = []
    gen = OpenLoopGenerator(3, 2.0, lambda k: dropped_at.append(clock()), clock, clock.sleep)
    gen.run()
    assert gen.due_ms == [1_000_000.0, 1_002_000.0, 1_004_000.0]
    assert dropped_at == [1000.0, 1002.0, 1004.0]
    assert gen.lag_ms == [0.0, 0.0, 0.0]
    # a window pushed by file 1 and committed at t=1005 s waited 3 s
    assert microbatch_latency_samples({0: 1_005_000.0}, {0: [gen.due_ms[1]]}) == [3000.0]


def test_late_generator_keeps_schedule_and_counts_lateness():
    clock = FakeClock()

    def drop(k):
        if k == 1:
            clock.t += 5.0  # the drop itself stalls for 2.5 intervals

    gen = OpenLoopGenerator(4, 2.0, drop, clock, clock.sleep)
    gen.run()
    # later drops keep their own due times: the schedule does not stretch
    assert gen.due_ms == [1_000_000.0, 1_002_000.0, 1_004_000.0, 1_006_000.0]
    assert gen.lag_ms == [0.0, 5000.0, 3000.0, 1000.0]
    # so a window pushed by file 2 and committed at t=1009 s reads 5 s,
    # the stall included, not the 2 s a slowed schedule would report
    assert microbatch_latency_samples({0: 1_009_000.0}, {0: [gen.due_ms[2]]}) == [5000.0]


def test_stalled_engine_raises_latency():
    clock = FakeClock()
    gen = OpenLoopGenerator(3, 1.0, lambda k: None, clock, clock.sleep)
    gen.run()
    fast = microbatch_latency_samples({0: 1_000_500.0, 1: 1_001_500.0, 2: 1_002_500.0},
                                      {b: [gen.due_ms[b]] for b in range(3)})
    stalled = microbatch_latency_samples({0: 1_000_500.0, 1: 1_004_000.0, 2: 1_004_000.0},
                                         {b: [gen.due_ms[b]] for b in range(3)})
    assert fast == [500.0, 500.0, 500.0]
    assert stalled == [500.0, 3000.0, 2000.0]


def test_fixed_rate_count_leaves_the_tail_after_the_last_drop():
    assert fixed_rate_count(12, 2.0, 5.0) == 4  # drops at 0, 2, 4, 6
    assert fixed_rate_count(11, 2.0, 5.0) == 4
    assert fixed_rate_count(10.9, 2.0, 5.0) == 3
    assert fixed_rate_count(2, 2.0, 5.0) == 1


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx((11.5 - 8.5) / 10.0)


def test_tracer_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("a"):
        with tr.span("b"):
            pass
        with tr.span("b"):
            pass
    spans = {s["id"]: s for s in tr.spans}
    a = spans[0]
    kids = [s for s in tr.spans if s["parent"] == 0]
    assert len(kids) == 2
    self_t = tr.self_times()
    child_total = sum(k["end"] - k["start"] for k in kids)
    assert self_t["a"] == pytest.approx(a["end"] - a["start"] - child_total)
    assert self_t["b"] == pytest.approx(child_total)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("a"):
        tr.add("b", 0.0, 1.0)
    assert tr.spans == [] and tr.self_times() == {}

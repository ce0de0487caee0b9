"""Parity suite for the session pre-split escape hatch
(plans/skew.py::presplit_session_aggregate): time-bucketed pre-aggregation
with gap-aware boundary stitch must emit EXACTLY the sessions of the
unsalted one-pass plan, ``windowed.window_aggregate`` over a session
window (the reference SessionWindow semantics,
SessionWindow.java:118-133), for any bucket size — including
buckets smaller than the gap, sessions spanning many buckets, exact-gap
ties at bucket boundaries, and empty buckets."""

import random
from datetime import datetime, timedelta, timezone

import pytest

from pyspark.sql import functions as F

from scotty_window_processor_spark.operators import SessionWindow, WindowMeasure

from spark_fixtures import get_spark

GAP_MS = 30 * 60_000
SESSION = SessionWindow(WindowMeasure.TIME, GAP_MS)
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _df(spark, rows):
    """rows: (user_id, offset_ms, value)."""
    data = [
        (u, T0 + timedelta(milliseconds=off), float(v)) for u, off, v in rows
    ]
    return spark.createDataFrame(data, "user_id int, ts timestamp, value double")


def _run_both(spark, df, bucket_ms):
    from scotty_window_processor_spark.plans.skew import presplit_session_aggregate
    from scotty_window_processor_spark.plans.windowed import window_aggregate

    base = window_aggregate(
        df, "user_id", "ts", SESSION,
        {"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
    )
    pre = presplit_session_aggregate(
        df, "user_id", "ts", GAP_MS,
        partials={"n": F.count(F.lit(1)), "sum_value": F.sum("value")},
        finals={"n": F.sum("n"), "sum_value": F.round(F.sum("sum_value"), 2)},
        bucket_ms=bucket_ms,
    )
    key = lambda r: (r["user_id"], r["w_start"], r["w_end"])  # noqa: E731
    b = sorted((key(r), r["n"], r["sum_value"]) for r in base.collect())
    p = sorted((key(r), r["n"], r["sum_value"]) for r in pre.collect())
    return b, p


def test_parity_random_multikey(spark):
    """200 keys x random ts over 3 days, day buckets: byte-for-byte
    session parity with the unsalted path."""
    rng = random.Random(11)
    rows = [
        (u, rng.randrange(0, 3 * 86_400_000), rng.randrange(100))
        for u in range(200)
        for _ in range(rng.randrange(1, 12))
    ]
    b, p = _run_both(spark, _df(spark, rows), bucket_ms=86_400_000)
    assert b == p and len(b) > 200


def test_parity_sessions_crossing_boundaries(spark):
    """Hand-built boundary cases around a 1h bucket grid: a session
    ending exactly at a boundary, one straddling it with diff == gap
    (must merge), one straddling with diff just over gap (must split),
    and a session spanning 4 whole buckets via sub-gap steps."""
    H = 3_600_000
    rows = [
        # session A: ends 1 ms before bucket edge; next event exactly
        # gap later (merges across the boundary — exact-gap tie)
        (1, H - 1, 1),
        (1, H - 1 + GAP_MS, 2),
        # session B: diff just over gap at the boundary (splits)
        (2, H - 1, 3),
        (2, H + GAP_MS, 4),
        # key 3: one event per 20 min for 4 h — ONE session over 4+ buckets
        *[(3, i * 20 * 60_000, i) for i in range(13)],
        # key 4: lone event in an otherwise empty region, then a far one
        (4, 5 * H, 7),
        (4, 20 * H, 8),
    ]
    b, p = _run_both(spark, _df(spark, rows), bucket_ms=H)
    assert b == p
    by_key = {}
    for (u, s, e), n, sv in p:
        by_key.setdefault(u, []).append((s, e, n))
    assert len(by_key[1]) == 1 and by_key[1][0][2] == 2  # merged tie
    assert len(by_key[2]) == 2  # split
    assert len(by_key[3]) == 1 and by_key[3][0][2] == 13  # one long session
    assert len(by_key[4]) == 2


def test_parity_bucket_smaller_than_gap(spark):
    """bucket_ms < gap: every boundary stitch chains across EMPTY
    buckets too (10-minute buckets, 30-minute gap)."""
    rng = random.Random(23)
    rows = [
        (u, rng.randrange(0, 12 * 3_600_000), rng.randrange(50))
        for u in range(40)
        for _ in range(rng.randrange(1, 20))
    ]
    b, p = _run_both(spark, _df(spark, rows), bucket_ms=10 * 60_000)
    assert b == p and len(b) > 40


def test_parity_hot_key_dense(spark):
    """A dense hot key (one event/second for 2 h => one session spanning
    3 sub-gap buckets) plus sparse keys; 45-min buckets."""
    rows = [(99, i * 1000, 1) for i in range(7200)]
    rows += [(u, u * 7_000_000, 2) for u in range(10)]
    b, p = _run_both(spark, _df(spark, rows), bucket_ms=45 * 60_000)
    assert b == p
    hot = [x for x in p if x[0][0] == 99]
    assert len(hot) == 1 and hot[0][1] == 7200


def test_empty_and_singleton(spark):
    from scotty_window_processor_spark.plans.skew import presplit_session_aggregate

    empty = _df(spark, []).where(F.lit(False))
    out = presplit_session_aggregate(
        empty, "user_id", "ts", GAP_MS,
        partials={"n": F.count(F.lit(1))}, finals={"n": F.sum("n")},
    )
    assert out.count() == 0
    one = _df(spark, [(1, 500, 4)])
    row = presplit_session_aggregate(
        one, "user_id", "ts", GAP_MS,
        partials={"n": F.count(F.lit(1))}, finals={"n": F.sum("n")},
    ).collect()
    assert len(row) == 1 and row[0]["n"] == 1
    assert row[0]["w_end"] - row[0]["w_start"] == GAP_MS


def test_presplit_plan_shape(spark):
    """The scale contract: stage 1's exchange/sort key is (key, bucket) —
    intra-key parallelism — and no per-row Python appears anywhere."""
    from scotty_window_processor_spark.plans.skew import presplit_session_aggregate

    df = _df(spark, [(1, 0, 1), (1, 10, 2)])
    out = presplit_session_aggregate(
        df, "user_id", "ts", GAP_MS,
        partials={"n": F.count(F.lit(1))}, finals={"n": F.sum("n")},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan  # bucketed window/exchange present
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

def _routed(spark, df, hot_keys=None, **kw):
    from scotty_window_processor_spark.plans.skew import routed_session_aggregate

    return routed_session_aggregate(
        df, "user_id", "ts", GAP_MS,
        aggs={"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
        partials={"n": F.count(F.lit(1)), "sum_value": F.sum("value")},
        finals={"n": F.sum("n"), "sum_value": F.round(F.sum("sum_value"), 2)},
        hot_keys=hot_keys,
        **kw,
    )


def _rows(res):
    return sorted(
        ((r["user_id"], r["w_start"], r["w_end"]), r["n"], r["sum_value"])
        for r in res.collect()
    )


def test_routed_parity_explicit_hot(spark):
    """Explicit hot list: hot keys go presplit, cold keys one-pass; the
    union equals the plain unsalted result on the full input."""
    from scotty_window_processor_spark.plans.windowed import window_aggregate

    rng = random.Random(7)
    rows = [(99, i * 1000, 1) for i in range(5000)]  # dense hot key
    rows += [
        (u, rng.randrange(0, 2 * 86_400_000), rng.randrange(30))
        for u in range(50)
        for _ in range(rng.randrange(1, 8))
    ]
    df = _df(spark, rows)
    base = window_aggregate(
        df, "user_id", "ts", SESSION,
        {"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
    )
    routed = _routed(spark, df, hot_keys=[99], bucket_ms=20 * 60_000)
    assert _rows(base) == _rows(routed)


def test_routed_autodetect_routes_hot(spark):
    """Auto-detection (threshold forced low): the dense key is flagged
    and both arms run; result still equals the unsalted path."""
    from scotty_window_processor_spark.plans.windowed import window_aggregate

    rng = random.Random(17)
    rows = [(99, i * 1000, 1) for i in range(4000)]
    rows += [(u, rng.randrange(0, 86_400_000), 2) for u in range(30) for _ in range(3)]
    df = _df(spark, rows)
    base = window_aggregate(
        df, "user_id", "ts", SESSION,
        {"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
    )
    routed = _routed(spark, df, hot_keys=None, min_hot_rows=500,
                     bucket_ms=30 * 60_000)
    assert _rows(base) == _rows(routed)


def test_routed_no_hot_falls_back_to_one_pass(spark):
    """Nothing over the threshold: identical to the one-pass plan and no
    presplit machinery in the plan (no _bkt column anywhere)."""
    rows = [(u, u * 1_000_000, 5) for u in range(20)]
    routed = _routed(spark, _df(spark, rows), hot_keys=[])
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" not in plan
    assert routed.count() == 20

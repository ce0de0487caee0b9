"""Tests for the batch as-of join operator.

Reference parity note: Scotty has no join operator of any kind
(SURVEY.md §2.3 marks Joins/Set-ops absent) — the as-of join is an
extension; its semantics are pinned against pandas.merge_asof-style
backward-inclusive matching.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from spark_fixtures import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 10, minute, second)


# ---------------------------------------------------------------- as-of join


def _asof(spark, left_rows, right_rows, **kw):
    from scotty_window_processor_spark.plans.asof import asof_join

    left = spark.createDataFrame(left_rows, "k int, ts timestamp, lv string")
    right = spark.createDataFrame(right_rows, "k int, ts timestamp, rv double")
    return asof_join(left, right, on=["k"], **kw)


def test_asof_backward_picks_most_recent(spark):
    out = _asof(
        spark,
        [(1, _ts(30), "L")],
        [(1, _ts(10), 10.0), (1, _ts(20), 20.0), (1, _ts(40), 40.0)],
    ).collect()
    assert len(out) == 1
    assert out[0].r_rv == 20.0
    assert out[0].r_ts == _ts(20)
    assert out[0].lv == "L"


def test_asof_equal_ts_is_inclusive(spark):
    out = _asof(spark, [(1, _ts(20), "L")], [(1, _ts(20), 99.0)]).collect()
    assert out[0].r_rv == 99.0


def test_asof_no_match_is_null(spark):
    out = _asof(spark, [(1, _ts(5), "L")], [(1, _ts(20), 99.0)]).collect()
    assert out[0].r_rv is None and out[0].r_ts is None


def test_asof_keys_do_not_leak(spark):
    out = _asof(
        spark,
        [(1, _ts(30), "a"), (2, _ts(30), "b")],
        [(1, _ts(10), 1.0), (2, _ts(25), 2.0)],
    ).collect()
    got = {r.k: r.r_rv for r in out}
    assert got == {1: 1.0, 2: 2.0}


def test_asof_tolerance(spark):
    out = _asof(
        spark,
        [(1, _ts(30), "L")],
        [(1, _ts(10), 1.0)],
        tolerance_ms=5 * 60 * 1000,
    ).collect()
    assert out[0].r_rv is None  # 20 min gap > 5 min tolerance
    out2 = _asof(
        spark,
        [(1, _ts(30), "L")],
        [(1, _ts(28), 1.0)],
        tolerance_ms=5 * 60 * 1000,
    ).collect()
    assert out2[0].r_rv == 1.0


def test_asof_null_right_payload_stays_atomic(spark):
    # a right row with a NULL payload column must NOT borrow the value
    # from an older right row — the whole matched row is the newer one
    out = _asof(
        spark,
        [(1, _ts(30), "L")],
        [(1, _ts(10), 7.0), (1, _ts(20), None)],
    ).collect()
    assert out[0].r_ts == _ts(20)
    assert out[0].r_rv is None


def test_asof_matches_pandas_merge_asof(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    base = dt.datetime(2024, 1, 1)
    lrows = [
        (int(k), base + dt.timedelta(seconds=int(s)), f"l{i}")
        for i, (k, s) in enumerate(zip(rng.integers(0, 5, 200), rng.integers(0, 10000, 200)))
    ]
    # unique (k, ts) on the right, per the determinism contract
    seen = set()
    rrows = []
    for k, s in zip(rng.integers(0, 5, 300), rng.integers(0, 10000, 300)):
        if (int(k), int(s)) in seen:
            continue
        seen.add((int(k), int(s)))
        rrows.append((int(k), base + dt.timedelta(seconds=int(s)), float(len(rrows))))

    got = {
        (r.k, r.ts): (r.r_ts, r.r_rv) for r in _asof(spark, lrows, rrows).collect()
    }

    lp = pd.DataFrame(lrows, columns=["k", "ts", "lv"]).sort_values("ts")
    rp = pd.DataFrame(rrows, columns=["k", "ts", "rv"]).sort_values("ts")
    ref = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    for row in ref.itertuples():
        want_rv = None if pd.isna(row.rv) else row.rv
        rts, rrv = got[(row.k, row.ts.to_pydatetime())]
        assert rrv == want_rv, (row.k, row.ts)


def test_asof_forward_picks_earliest_following(spark):
    out = _asof(
        spark,
        [(1, _ts(30), "L")],
        [(1, _ts(10), 10.0), (1, _ts(40), 40.0), (1, _ts(50), 50.0)],
        direction="forward",
    ).collect()
    assert out[0].r_rv == 40.0 and out[0].r_ts == _ts(40)


def test_asof_forward_equal_ts_inclusive_and_no_match(spark):
    out = _asof(
        spark, [(1, _ts(20), "L")], [(1, _ts(20), 9.0)], direction="forward"
    ).collect()
    assert out[0].r_rv == 9.0
    out2 = _asof(
        spark, [(1, _ts(30), "L")], [(1, _ts(10), 9.0)], direction="forward"
    ).collect()
    assert out2[0].r_rv is None


def test_asof_forward_matches_pandas_merge_asof(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    base = dt.datetime(2024, 1, 1)
    lrows = [
        (int(k), base + dt.timedelta(seconds=int(s)), f"l{i}")
        for i, (k, s) in enumerate(zip(rng.integers(0, 5, 200), rng.integers(0, 10000, 200)))
    ]
    seen = set()
    rrows = []
    for k, s in zip(rng.integers(0, 5, 300), rng.integers(0, 10000, 300)):
        if (int(k), int(s)) in seen:
            continue
        seen.add((int(k), int(s)))
        rrows.append((int(k), base + dt.timedelta(seconds=int(s)), float(len(rrows))))

    got = {
        (r.k, r.ts): r.r_rv
        for r in _asof(spark, lrows, rrows, direction="forward").collect()
    }
    lp = pd.DataFrame(lrows, columns=["k", "ts", "lv"]).sort_values("ts")
    rp = pd.DataFrame(rrows, columns=["k", "ts", "rv"]).sort_values("ts")
    ref = pd.merge_asof(lp, rp, on="ts", by="k", direction="forward")
    for row in ref.itertuples():
        want_rv = None if pd.isna(row.rv) else row.rv
        assert got[(row.k, row.ts.to_pydatetime())] == want_rv, (row.k, row.ts)


def test_asof_tolerance_on_ntz_timestamps(spark):
    # parquet commonly yields TIMESTAMP_NTZ (isAdjustedToUTC=false);
    # the tolerance gap must compute on NTZ inputs too
    from scotty_window_processor_spark.plans.asof import asof_join

    left = spark.createDataFrame(
        [(1, _ts(30), "L")], "k int, ts timestamp_ntz, lv string"
    )
    right = spark.createDataFrame(
        [(1, _ts(28), 1.0), (1, _ts(2), 2.0)], "k int, ts timestamp_ntz, rv double"
    )
    out = asof_join(left, right, on=["k"], tolerance_ms=5 * 60 * 1000).collect()
    assert out[0].r_rv == 1.0


def test_asof_bad_direction_raises(spark):
    with pytest.raises(ValueError):
        _asof(spark, [(1, _ts(1), "L")], [(1, _ts(1), 1.0)], direction="nearest")


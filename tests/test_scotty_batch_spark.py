"""Spark-parity tests: the batch slicer (the shared-slice numpy tier) must
agree with Catalyst built-in window plans and with the stream's per-key
operator run per key in the test process, and every tier gives nulls
SQL's semantics.
"""

import pytest

from pyspark.sql import functions as F

from scotty_window_processor_spark.functions import (
    CountAggregation,
    MaxAggregation,
    MeanAggregation,
    MinAggregation,
    SumAggregation,
)
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.plans.scotty_batch import (
    _final_watermark,
    _kernel_run,
    scotty_global_aggregate,
    scotty_window_aggregate,
)
from scotty_window_processor_spark.plans.vectorized_multi import multikey_window_aggregate
from scotty_window_processor_spark.plans.windowed import window_aggregate
from scotty_window_processor_spark.sources import synthesize_transcripts

from spark_fixtures import get_spark


def _turns():
    """The Catalyst side's aggregate in every slicer-vs-Catalyst test."""
    return {"turns": F.count(F.lit(1)).cast("double")}


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthesize_transcripts(
        spark, n_convs=20, turns_per_conv=30, n_hot_convs=1, hot_factor=10,
        disorder_pct=0, straggler_pct=0,
    ).cache()
    df.count()
    return df


def _normalize(df, value_cols):
    rows = df.collect()
    return sorted(
        (r["conv_id"], r["w_start"], r["w_end"], *[round(float(r[c]), 6) for c in value_cols])
        for r in rows
    )


def test_tumbling_kernel_matches_catalyst(spark, transcripts):
    size_ms = 600_000
    kernel = multikey_window_aggregate(
        transcripts.withColumn("one", F.lit(1.0)),
        key="conv_id", ts="ts", value="one",
        windows=[TumblingWindow(WindowMeasure.TIME, size_ms)],
        aggs=[("turns", "double", CountAggregation)],
    ).select("conv_id", "w_start", "w_end", "turns")

    catalyst = window_aggregate(
        transcripts, "conv_id", "ts", TumblingWindow(WindowMeasure.TIME, size_ms), _turns()
    )
    assert _normalize(kernel, ["turns"]) == _normalize(catalyst, ["turns"])


def test_sliding_kernel_matches_catalyst(spark, transcripts):
    kernel = multikey_window_aggregate(
        transcripts.withColumn("one", F.lit(1.0)),
        key="conv_id", ts="ts", value="one",
        windows=[SlidingWindow(WindowMeasure.TIME, 600_000, 200_000)],
        aggs=[("turns", "double", CountAggregation)],
    ).select("conv_id", "w_start", "w_end", "turns")

    catalyst = window_aggregate(
        transcripts, "conv_id", "ts", SlidingWindow(WindowMeasure.TIME, 600_000, 200_000), _turns()
    )
    assert _normalize(kernel, ["turns"]) == _normalize(catalyst, ["turns"])


def test_multiwindow_sharing_matches_two_catalyst_runs(spark, transcripts):
    """Two concurrent tumbling windows in ONE slicer pass (shared slices)
    must equal two separate Catalyst window aggregations."""
    df = transcripts.withColumn("one", F.lit(1.0))
    shared = scotty_window_aggregate(
        df, key="conv_id", ts="ts", value="one",
        windows=[
            TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
            TumblingWindow(WindowMeasure.TIME, 1_800_000, window_id=2),
        ],
        aggs=[("turns", "double", CountAggregation)],
    )
    small = shared.where(F.col("window_id") == 1).select("conv_id", "w_start", "w_end", "turns")
    large = shared.where(F.col("window_id") == 2).select("conv_id", "w_start", "w_end", "turns")

    c_small = window_aggregate(df, "conv_id", "ts", TumblingWindow(WindowMeasure.TIME, 600_000), _turns())
    c_large = window_aggregate(df, "conv_id", "ts", TumblingWindow(WindowMeasure.TIME, 1_800_000), _turns())
    assert _normalize(small, ["turns"]) == _normalize(c_small, ["turns"])
    assert _normalize(large, ["turns"]) == _normalize(c_large, ["turns"])


def test_session_kernel_matches_catalyst(spark, transcripts):
    gap_ms = 120_000
    # the slicer called directly: the planner runs a lone session window
    # with a built-in aggregate as F.session_window, which would compare
    # Catalyst to Catalyst
    kernel = multikey_window_aggregate(
        transcripts.withColumn("one", F.lit(1.0)),
        key="conv_id", ts="ts", value="one",
        windows=[SessionWindow(WindowMeasure.TIME, gap_ms)],
        aggs=[("turns", "double", CountAggregation)],
    ).select("conv_id", "w_start", "w_end", "turns")

    catalyst = window_aggregate(
        transcripts, "conv_id", "ts", SessionWindow(WindowMeasure.TIME, gap_ms), _turns()
    )
    assert _normalize(kernel, ["turns"]) == _normalize(catalyst, ["turns"])


def _kernel_rows(df, key, ts, value, windows, aggs, arrival_order=None, lateness_ms=1000):
    """The slicing kernel's rows for ``df``, one ``_kernel_run`` per key in
    the test process over the key's rows in (ts, arrival) order, as
    (key, window_id, w_start, w_end, *aggregates). In record mode
    (``value=None``) each key's rows go in as a dict of column lists."""
    pdf = df.toPandas()
    pdf = pdf.sort_values([key, ts] + ([arrival_order] if arrival_order else []), kind="mergesort")
    rows = []
    for k, g in pdf.groupby(key, sort=False):
        ts_ms = g[ts].to_numpy().astype("datetime64[ms]").astype("int64")
        final_wm = _final_watermark(int(ts_ms[-1]), windows, lateness_ms)
        data = g[value].to_numpy() if value else {c: g[c].tolist() for c in g.columns}
        for r in _kernel_run(data, ts_ms, value, windows, aggs, lateness_ms, final_wm):
            rows.append((k, r[0], r[2], r[3], *r[4:]))
    return rows


def _rounded(rows):
    return sorted(tuple(round(float(v), 6) if isinstance(v, float) else v for v in r)
                  for r in rows)


def test_fast_path_matches_kernel_path(spark, transcripts):
    """sum/max over a sliding window: the slicer's rows equal the slicing
    kernel's, run per key in the test process."""
    df = transcripts.withColumn("v", F.col("turn_idx").cast("double"))
    args = dict(key="conv_id", ts="ts", value="v",
                windows=[SlidingWindow(WindowMeasure.TIME, 600_000, 300_000, window_id=1)],
                aggs=[("s", "double", SumAggregation), ("mx", "double", MaxAggregation)])
    out = multikey_window_aggregate(df, **args)
    got = [tuple(r) for r in out.select("conv_id", "window_id", "w_start", "w_end", "s", "mx")
           .collect()]
    assert got and _rounded(got) == _rounded(_kernel_rows(df, **args))


def test_vectorized_session_and_count_match_kernel(spark, transcripts):
    """Sessions (gaps-and-islands) with a count window, with a tumbling
    time window, and with both, through the slicer vs the stream's
    operator run per key in the test process."""
    df = transcripts.withColumn("v", F.col("turn_idx").cast("double"))
    count = TumblingWindow(WindowMeasure.COUNT, 7, window_id=2)
    tumbling = TumblingWindow(WindowMeasure.TIME, 600_000, window_id=3)
    for others in ([count], [tumbling], [count, tumbling]):
        args = dict(
            key="conv_id", ts="ts", value="v",
            windows=[SessionWindow(WindowMeasure.TIME, 120_000, window_id=1), *others],
            aggs=[("s", "double", SumAggregation), ("n", "long", CountAggregation)],
            arrival_order="turn_idx",
        )
        got = [tuple(r) for r in scotty_window_aggregate(df, **args)
               .select("conv_id", "window_id", "w_start", "w_end", "s", "n").collect()]
        assert got and _rounded(got) == _rounded(_kernel_rows(df, **args))


def test_global_aggregate_catalyst_vs_kernel(spark, transcripts):
    """Non-keyed (GlobalScottyWindowOperator analogue): the Catalyst tier
    (groupBy(window) only, map-side partials) and the slicer over one
    constant key must produce identical global windows."""
    df = transcripts.withColumn("v", F.col("turn_idx").cast("double"))
    args = dict(
        ts="ts", value="v",
        windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)],
        aggs=[("n", "long", CountAggregation), ("s", "double", SumAggregation)],
    )
    fast = scotty_global_aggregate(df, **args).select("w_start", "w_end", "n", "s")
    slow = multikey_window_aggregate(df.withColumn("_g", F.lit(1)), key="_g", **args).select(
        "w_start", "w_end", "n", "s")
    norm = lambda d: sorted(tuple(r) for r in d.collect())
    a, b = norm(fast), norm(slow)
    assert a and a == b


def test_accumulator_reaches_driver_from_map_in_arrow(spark):
    """The vectorized tier runs as ``mapInArrow``: a PySpark accumulator
    added to inside that eval type's function reaches the driver, once
    per row, so engine counters can report through it."""
    rows = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            rows.add(b.num_rows)
            yield b

    df = spark.range(1000).repartition(4)
    assert len(df.mapInArrow(count_rows, df.schema).collect()) == 1000
    assert rows.value == 1000


def test_subclass_with_own_lift_is_not_planned_as_catalyst_builtin(spark):
    """A ``SumAggregation`` subclass with its own ``lift`` is not ``sum``:
    the default planner must not map it to ``F.sum`` (it matched by
    ``isinstance``), so the slicer folds its lift and emits log sums."""
    import math

    class LogSum(SumAggregation):
        def lift(self, v):
            return math.log(v)

    # 20 rows, values 1..20, two per second: two 10 s tumbling windows
    df = spark.createDataFrame(
        [("k", i * 500, float(i)) for i in range(1, 21)], "k string, ms long, value double",
    ).select("k", (F.col("ms") / 1000).cast("timestamp").alias("ts"), "value")
    args = dict(key="k", ts="ts", value="value",
                windows=[TumblingWindow(WindowMeasure.TIME, 10_000, window_id=1)],
                aggs=[("s", "double", LogSum)])
    planned = scotty_window_aggregate(df, **args)
    norm = lambda d: sorted((r["w_start"], round(r["s"], 9)) for r in d.collect())
    expected = [(0, round(sum(math.log(v) for v in range(1, 20)), 9)),
                (10_000, round(math.log(20), 9))]
    assert norm(planned) == expected
    assert planned.tiers == {1: "vectorized"}


def _assert_one_key_exchange_and_no_sort(out, python_op):
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(") == 1
    assert "Exchange hashpartitioning(conv_id" in plan
    assert python_op in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Sort [" not in plan


def test_record_mode_plan_is_one_key_exchange_into_map_in_arrow(spark, transcripts):
    """Record mode (``value=None``, every column crosses the exchange)
    takes the slicer's plan: one hash exchange on the key, no sort (the
    partition function orders its rows), then ``mapInArrow``. Its rows
    equal the slicing kernel's."""
    from scotty_window_processor_spark.functions import RoleTextRollupString, ToolTallyString

    args = dict(key="conv_id", ts="ts", value=None,
                windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)],
                aggs=[("n", "long", CountAggregation), ("tools", "string", ToolTallyString),
                      ("rollup", "string", RoleTextRollupString)],
                arrival_order="turn_idx")
    out = scotty_window_aggregate(transcripts, **args)
    assert out.tiers == {1: "vectorized"}
    _assert_one_key_exchange_and_no_sort(out, "MapInArrow")
    assert "MapInPandas" not in out._jdf.queryExecution().executedPlan().toString()
    got = [tuple(r) for r in out.select("conv_id", "window_id", "w_start", "w_end", "n", "tools",
                                        "rollup").collect()]
    assert got and sorted(got) == sorted(_kernel_rows(transcripts, **args))


def test_vectorized_tier_plan_is_one_key_exchange_into_map_in_arrow(spark, transcripts):
    """The vectorized tier's plan: one hash exchange on the key, no sort,
    then ``mapInArrow``."""
    out = scotty_window_aggregate(
        transcripts, key="conv_id", ts="ts", value="turn_idx",
        windows=[TumblingWindow(WindowMeasure.COUNT, 7, window_id=1)],
        aggs=[("n", "long", CountAggregation)],
    )
    assert out.tiers == {1: "vectorized"}
    _assert_one_key_exchange_and_no_sort(out, "MapInArrow")


def test_buckets_floor_at_default_parallelism_not_shuffle_partitions(spark, transcripts):
    """Under Spark's default of 200 shuffle partitions a small query gets
    max(defaultParallelism, ceil(rows_est / 65536)) buckets, not 200
    tasks of a few rows each."""
    from scotty_window_processor_spark.plans import adaptive_buckets

    df = transcripts.select("conv_id", "ts", "turn_idx")
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    rows_est = size // (4 * 4)  # ~4 bytes per column, at least 4 columns
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        n = adaptive_buckets(df)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert n == max(spark.sparkContext.defaultParallelism, -(-rows_est // 65536))
    assert n < 200


def test_vectorized_route_builds_no_catalyst_expressions(spark, transcripts, monkeypatch):
    """With more than one window the planner takes the vectorized tier
    without building the Catalyst tier's Column expressions."""
    from scotty_window_processor_spark.plans import scotty_batch

    def refuse(*args):
        raise AssertionError("_catalyst_aggs called on the vectorized route")

    monkeypatch.setattr(scotty_batch, "_catalyst_aggs", refuse)
    out = scotty_window_aggregate(
        transcripts, key="conv_id", ts="ts", value="turn_idx",
        windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
                 SlidingWindow(WindowMeasure.TIME, 600_000, 300_000, window_id=2),
                 SessionWindow(WindowMeasure.TIME, 120_000, window_id=3)],
        aggs=[("n", "long", CountAggregation), ("s", "double", SumAggregation)],
    )
    assert out.tiers == {1: "vectorized", 2: "vectorized", 3: "vectorized"}
    assert out.count() > 0


def test_result_reports_tier_per_window(spark, transcripts):
    """``tiers`` on the result names the tier of every window family, as
    the planner chose it, also for the global operator."""
    df = transcripts.withColumn("v", F.col("turn_idx").cast("double"))
    aggs = [("n", "long", CountAggregation), ("s", "double", SumAggregation)]
    tumbling = TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)
    count = TumblingWindow(WindowMeasure.COUNT, 7, window_id=2)
    time3 = [tumbling, SlidingWindow(WindowMeasure.TIME, 600_000, 300_000, window_id=3),
             SessionWindow(WindowMeasure.TIME, 120_000, window_id=4)]
    run = lambda windows: scotty_window_aggregate(
        df, key="conv_id", ts="ts", value="v", windows=windows, aggs=aggs)

    assert run([tumbling]).tiers == {1: "catalyst"}
    mixed = run([tumbling, count])
    assert mixed.tiers == {1: "vectorized", 2: "vectorized"}
    assert {r["window_id"] for r in mixed.select("window_id").distinct().collect()} == {1, 2}
    assert run(time3).tiers == {1: "vectorized", 3: "vectorized", 4: "vectorized"}
    record = scotty_window_aggregate(df, key="conv_id", ts="ts", value=None, windows=[tumbling],
                                     aggs=[("n", "long", CountAggregation)])
    assert record.tiers == {1: "vectorized"}
    glob = lambda windows: scotty_global_aggregate(df, ts="ts", value="v", windows=windows,
                                                   aggs=aggs).tiers
    assert glob([tumbling]) == {1: "catalyst"}
    assert glob([tumbling, count]) == {1: "vectorized", 2: "vectorized"}


def test_repeated_window_ids_are_rejected(spark, transcripts):
    """Two windows under one ``window_id`` (both left at the default -1
    here) would emit their rows as one window's: the keyed and the
    global operator refuse them before building a plan."""
    windows = [TumblingWindow(WindowMeasure.TIME, 60_000),
               SessionWindow(WindowMeasure.TIME, 30_000)]
    aggs = [("n", "long", CountAggregation)]
    with pytest.raises(ValueError, match="window_id -1"):
        scotty_window_aggregate(transcripts, key="conv_id", ts="ts", value="turn_idx",
                                windows=windows, aggs=aggs)
    with pytest.raises(ValueError, match="window_id -1"):
        scotty_global_aggregate(transcripts, ts="ts", value="turn_idx", windows=windows,
                                aggs=aggs)


NULL_AGGS = [("n", "long", CountAggregation), ("s", "double", SumAggregation),
             ("avg", "double", MeanAggregation), ("lo", "double", MinAggregation),
             ("hi", "double", MaxAggregation)]
# (key, w_start, w_end) -> (n, s, avg, lo, hi) of _null_rows, as SQL gives
# them: count counts rows, the others skip nulls and are null without a
# non-null value
NULL_TUMBLING = {("a", 0, 10_000): (3, 4.0, 2.0, 1.0, 3.0),
                 ("a", 10_000, 20_000): (2, None, None, None, None),
                 ("b", 0, 10_000): (1, 4.0, 4.0, 4.0, 4.0),
                 ("b", 10_000, 20_000): (1, 5.0, 5.0, 5.0, 5.0)}
NULL_SESSIONS = {("a", 1_000, 8_000): (3, 4.0, 2.0, 1.0, 3.0),
                 ("a", 11_000, 17_000): (2, None, None, None, None),
                 ("b", 1_000, 6_000): (1, 4.0, 4.0, 4.0, 4.0),
                 ("b", 15_000, 20_000): (1, 5.0, 5.0, 5.0, 5.0)}


def _null_rows(spark):
    """Key a: 1.0, null and 3.0, then two nulls 8 s later; key b: 4.0 and
    5.0."""
    rows = [("a", 1_000, 1.0), ("a", 2_000, None), ("a", 3_000, 3.0), ("a", 11_000, None),
            ("a", 12_000, None), ("b", 1_000, 4.0), ("b", 15_000, 5.0)]
    return spark.createDataFrame(rows, "k string, ms long, value double").select(
        "k", (F.col("ms") / 1000).cast("timestamp").alias("ts"), "value")


def _null_windows(out, window_id):
    return {(r["k"], r["w_start"], r["w_end"]): tuple(r[c] for c in ("n", "s", "avg", "lo", "hi"))
            for r in out.where(F.col("window_id") == window_id).collect()}


def test_nulls_in_catalyst_tier(spark):
    out = scotty_window_aggregate(
        _null_rows(spark), key="k", ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.TIME, 10_000, window_id=1)], aggs=NULL_AGGS)
    assert out.tiers == {1: "catalyst"}
    assert _null_windows(out, 1) == NULL_TUMBLING


def test_nulls_in_slicer(spark):
    """The keyed slicer, and the global operator's slice sums that
    Catalyst computes map-side."""
    df = _null_rows(spark)
    out = scotty_window_aggregate(
        df, key="k", ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.TIME, 10_000, window_id=1),
                 SessionWindow(WindowMeasure.TIME, 5_000, window_id=2)], aggs=NULL_AGGS)
    assert out.tiers == {1: "vectorized", 2: "vectorized"}
    assert _null_windows(out, 1) == NULL_TUMBLING
    assert _null_windows(out, 2) == NULL_SESSIONS

    glob = scotty_global_aggregate(
        df, ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.TIME, 10_000, window_id=1),
                 TumblingWindow(WindowMeasure.TIME, 20_000, window_id=2)], aggs=NULL_AGGS[:3])
    rows = {(r["window_id"], r["w_start"]): (r["n"], r["s"], r["avg"]) for r in glob.collect()}
    assert rows == {(1, 0): (4, 8.0, 8.0 / 3), (1, 10_000): (3, 5.0, 5.0), (2, 0): (7, 13.0, 13.0 / 4)}

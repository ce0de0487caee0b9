"""Spark-parity tests: the kernel-backed batch operator and the numpy fast
path must agree with each other and with Catalyst built-in window plans.
"""

import pytest

from pyspark.sql import functions as F

from scotty_window_processor_spark.functions import (
    CountAggregation,
    MaxAggregation,
    SumAggregation,
)
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
from scotty_window_processor_spark.plans.windowed import window_aggregate
from scotty_window_processor_spark.sources import synthesize_transcripts

from spark_fixtures import get_spark


def _turns():
    """The Catalyst side's aggregate in every kernel-vs-Catalyst test."""
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
    kernel = scotty_window_aggregate(
        transcripts.withColumn("one", F.lit(1.0)),
        key="conv_id", ts="ts", value="one",
        windows=[TumblingWindow(WindowMeasure.TIME, size_ms)],
        aggs=[("turns", "double", CountAggregation)],
        force_kernel=True,
    ).select("conv_id", "w_start", "w_end", "turns")

    catalyst = window_aggregate(
        transcripts, "conv_id", "ts", TumblingWindow(WindowMeasure.TIME, size_ms), _turns()
    )
    assert _normalize(kernel, ["turns"]) == _normalize(catalyst, ["turns"])


def test_sliding_kernel_matches_catalyst(spark, transcripts):
    kernel = scotty_window_aggregate(
        transcripts.withColumn("one", F.lit(1.0)),
        key="conv_id", ts="ts", value="one",
        windows=[SlidingWindow(WindowMeasure.TIME, 600_000, 200_000)],
        aggs=[("turns", "double", CountAggregation)],
        force_kernel=True,
    ).select("conv_id", "w_start", "w_end", "turns")

    catalyst = window_aggregate(
        transcripts, "conv_id", "ts", SlidingWindow(WindowMeasure.TIME, 600_000, 200_000), _turns()
    )
    assert _normalize(kernel, ["turns"]) == _normalize(catalyst, ["turns"])


def test_multiwindow_sharing_matches_two_catalyst_runs(spark, transcripts):
    """Two concurrent tumbling windows in ONE kernel pass (shared slices)
    must equal two separate Catalyst window aggregations."""
    df = transcripts.withColumn("one", F.lit(1.0))
    shared = scotty_window_aggregate(
        df, key="conv_id", ts="ts", value="one",
        windows=[
            TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
            TumblingWindow(WindowMeasure.TIME, 1_800_000, window_id=2),
        ],
        aggs=[("turns", "double", CountAggregation)],
        force_kernel=True,
    )
    small = shared.where(F.col("window_id") == 1).select("conv_id", "w_start", "w_end", "turns")
    large = shared.where(F.col("window_id") == 2).select("conv_id", "w_start", "w_end", "turns")

    c_small = window_aggregate(df, "conv_id", "ts", TumblingWindow(WindowMeasure.TIME, 600_000), _turns())
    c_large = window_aggregate(df, "conv_id", "ts", TumblingWindow(WindowMeasure.TIME, 1_800_000), _turns())
    assert _normalize(small, ["turns"]) == _normalize(c_small, ["turns"])
    assert _normalize(large, ["turns"]) == _normalize(c_large, ["turns"])


def test_session_kernel_matches_catalyst(spark, transcripts):
    gap_ms = 120_000
    # force_kernel pins the pure-Python slicing kernel (tier 3); without it
    # session+Count routes to F.session_window and this would compare
    # Catalyst to Catalyst
    kernel = scotty_window_aggregate(
        transcripts.withColumn("one", F.lit(1.0)),
        key="conv_id", ts="ts", value="one",
        windows=[SessionWindow(WindowMeasure.TIME, gap_ms)],
        aggs=[("turns", "double", CountAggregation)],
        force_kernel=True,
    ).select("conv_id", "w_start", "w_end", "turns")

    catalyst = window_aggregate(
        transcripts, "conv_id", "ts", SessionWindow(WindowMeasure.TIME, gap_ms), _turns()
    )
    assert _normalize(kernel, ["turns"]) == _normalize(catalyst, ["turns"])


def test_fast_path_matches_kernel_path(spark, transcripts):
    """sum/max via numpy fast path vs forced kernel loop (MaxAggregation is
    fast-path-eligible; adding a session window forces the kernel)."""
    df = transcripts.withColumn("v", F.col("turn_idx").cast("double"))
    fast = scotty_window_aggregate(
        df, key="conv_id", ts="ts", value="v",
        windows=[SlidingWindow(WindowMeasure.TIME, 600_000, 300_000)],
        aggs=[("s", "double", SumAggregation), ("mx", "double", MaxAggregation)],
    ).select("conv_id", "w_start", "w_end", "s", "mx")

    from scotty_window_processor_spark.plans import scotty_batch as sb

    orig = sb._fast_path_eligible
    sb._fast_path_eligible = lambda *a, **k: False
    try:
        slow = scotty_window_aggregate(
            df, key="conv_id", ts="ts", value="v",
            windows=[SlidingWindow(WindowMeasure.TIME, 600_000, 300_000)],
            aggs=[("s", "double", SumAggregation), ("mx", "double", MaxAggregation)],
        ).select("conv_id", "w_start", "w_end", "s", "mx")
        assert _normalize(fast, ["s", "mx"]) == _normalize(slow, ["s", "mx"])
    finally:
        sb._fast_path_eligible = orig


def test_vectorized_session_and_count_match_kernel(spark, transcripts):
    """Sessions (gaps-and-islands) and count windows through the numpy path
    vs the per-element kernel."""
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.plans import scotty_batch as sb

    df = transcripts.withColumn("v", F.col("turn_idx").cast("double"))
    args = dict(
        key="conv_id", ts="ts", value="v",
        windows=[
            SessionWindow(WindowMeasure.TIME, 120_000, window_id=1),
            TumblingWindow(WindowMeasure.COUNT, 7, window_id=2),
            TumblingWindow(WindowMeasure.TIME, 600_000, window_id=3),
        ],
        aggs=[("s", "double", SumAggregation), ("n", "long", CountAggregation)],
        arrival_order="turn_idx",
    )
    fast = scotty_window_aggregate(df, **args).select(
        "conv_id", "window_id", "w_start", "w_end", "s", "n")
    assert sb._fast_path_eligible(args["windows"], args["aggs"])

    orig = sb._fast_path_eligible
    sb._fast_path_eligible = lambda *a, **k: False
    try:
        slow = scotty_window_aggregate(df, **args).select(
            "conv_id", "window_id", "w_start", "w_end", "s", "n")
        norm = lambda d: sorted(tuple(r) for r in d.collect())
        assert norm(fast) == norm(slow)
    finally:
        sb._fast_path_eligible = orig


def test_global_aggregate_catalyst_vs_kernel(spark, transcripts):
    """Non-keyed (GlobalScottyWindowOperator analogue): the Catalyst tier
    (groupBy(window) only, map-side partials) and the single-kernel tier
    must produce identical global windows."""
    from scotty_window_processor_spark.plans.scotty_batch import scotty_global_aggregate

    df = transcripts.withColumn("v", F.col("turn_idx").cast("double"))
    args = dict(
        ts="ts", value="v",
        windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)],
        aggs=[("n", "long", CountAggregation), ("s", "double", SumAggregation)],
    )
    fast = scotty_global_aggregate(df, **args).select("w_start", "w_end", "n", "s")
    slow = scotty_global_aggregate(df, **args, force_kernel=True).select(
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
    ``isinstance``), so it emits the kernel tier's log sums."""
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
    kernel = scotty_window_aggregate(df, **args, force_kernel=True)
    norm = lambda d: sorted((r["w_start"], round(r["s"], 9)) for r in d.collect())
    expected = [(0, round(sum(math.log(v) for v in range(1, 20)), 9)),
                (10_000, round(math.log(20), 9))]
    assert norm(planned) == norm(kernel) == expected
    assert planned.tiers == {1: "kernel"}


def test_kernel_tier_plan_is_one_key_exchange_into_map_in_pandas(spark, transcripts):
    """The kernel tier reads the vectorized tier's exchange: one hash
    exchange on the key, sorted within partitions, then ``mapInPandas``
    — no bucket column, no grouped ``applyInPandas``."""
    out = scotty_window_aggregate(
        transcripts, key="conv_id", ts="ts", value="turn_idx",
        windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)],
        aggs=[("n", "long", CountAggregation)],
        force_kernel=True,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(") == 1
    assert "Exchange hashpartitioning(conv_id" in plan
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Sort [conv_id" in plan


def test_result_reports_tier_per_window(spark, transcripts):
    """``tiers`` on the result names the tier of every window family, as
    the planner chose it, also for the global operator."""
    from scotty_window_processor_spark.plans.scotty_batch import scotty_global_aggregate

    df = transcripts.withColumn("v", F.col("turn_idx").cast("double"))
    aggs = [("n", "long", CountAggregation), ("s", "double", SumAggregation)]
    tumbling = TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)
    count = TumblingWindow(WindowMeasure.COUNT, 7, window_id=2)
    time3 = [tumbling, SlidingWindow(WindowMeasure.TIME, 600_000, 300_000, window_id=3),
             SessionWindow(WindowMeasure.TIME, 120_000, window_id=4)]
    run = lambda windows, **kw: scotty_window_aggregate(
        df, key="conv_id", ts="ts", value="v", windows=windows, aggs=aggs, **kw)

    mixed = run([tumbling, count])
    assert mixed.tiers == {1: "catalyst", 2: "vectorized"}
    assert {r["window_id"] for r in mixed.select("window_id").distinct().collect()} == {1, 2}
    assert run(time3).tiers == {1: "vectorized", 3: "vectorized", 4: "vectorized"}
    assert run([tumbling, count], force_kernel=True).tiers == {1: "kernel", 2: "kernel"}
    glob = lambda **kw: scotty_global_aggregate(df, ts="ts", value="v", windows=[tumbling],
                                                aggs=aggs, **kw).tiers
    assert glob() == {1: "catalyst"}
    assert glob(force_kernel=True) == {1: "kernel"}

"""Physical-plan guarantees: column pruning, tier routing, no stray
shuffles — the properties that decide 100 TB behaviour."""

import pytest

from pyspark.sql import functions as F

from spark_fixtures import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_window_aggregate_prunes_payload_columns(spark):
    """The text payload must never cross the shuffle or the Arrow boundary."""
    from scotty_window_processor_spark.functions import CountAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
    from scotty_window_processor_spark.sources import synthesize_transcripts

    tdir = "/tmp/plan_check_transcripts"
    synthesize_transcripts(spark, n_convs=5, turns_per_conv=10).write.mode("overwrite").parquet(tdir)
    df = spark.read.parquet(tdir).withColumn("one", F.lit(1.0))
    out = scotty_window_aggregate(
        df, key="conv_id", ts="ts", value="one",
        windows=[TumblingWindow(WindowMeasure.COUNT, 5)],  # forces Arrow tier
        aggs=[("n", "long", CountAggregation)],
    )
    plan = plan_of(out)
    scan_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "text" not in scan_schema, f"payload column read from parquet: {scan_schema}"
    assert "role" not in scan_schema


def test_catalyst_tier_uses_builtin_window_aggregate(spark):
    """Standard aggs over time windows must compile to pure JVM plans —
    no Python evaluation nodes anywhere."""
    from scotty_window_processor_spark.functions import CountAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    events = spark.read.parquet(f"{SF}/events.parquet")
    out = scotty_window_aggregate(
        events, key="user_id", ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.TIME, 3_600_000)],
        aggs=[("n", "long", CountAggregation)],
    )
    plan = plan_of(out)
    assert "Python" not in plan and "Arrow" not in plan, plan[:500]
    assert "HashAggregate" in plan


def _two_family_mixes():
    """Two-family mixes, each a tumbling window next to a window of
    another family."""
    from scotty_window_processor_spark.operators import (
        SessionWindow,
        SlidingWindow,
        TumblingWindow,
        WindowMeasure,
    )

    tumbling = TumblingWindow(WindowMeasure.TIME, 3_600_000, window_id=0)
    return {
        "tumbling+sliding": [tumbling, SlidingWindow(WindowMeasure.TIME, 7_200_000, 1_800_000,
                                                     window_id=20)],
        "tumbling+session": [tumbling, SessionWindow(WindowMeasure.TIME, 1_800_000, window_id=21)],
        "tumbling+count": [tumbling, TumblingWindow(WindowMeasure.COUNT, 10, window_id=22)],
    }


def test_many_windows_route_to_shared_shuffle_tier(spark):
    """One tier per query: a lone time window with standard aggregates
    compiles to a pure Catalyst aggregate, and every query with more
    than one window — 16 tumbling windows, or two windows of different
    families — to the shared-shuffle vectorized tier: ONE key exchange
    into ONE ``mapInArrow`` pass, not one unioned groupBy(F.window)
    subplan (scan + shuffle) per family. The global operator's one key
    skips the key exchange when the windows are all tumbling/sliding:
    Catalyst sums slice partials map-side, and one task reads them."""
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import (
        scotty_global_aggregate,
        scotty_window_aggregate,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    windows = [
        TumblingWindow(WindowMeasure.TIME, (i + 1) * 3_600_000, window_id=i)
        for i in range(16)
    ]
    aggs = [("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)]
    plan_for = lambda ws: plan_of(scotty_window_aggregate(  # noqa: E731
        ev, key="user_id", ts="ts", value="value", windows=ws, aggs=aggs))

    for name, mix in {"16 tumbling": windows, **_two_family_mixes()}.items():
        plan = plan_for(mix)
        assert plan.count("Exchange") == 1, (name, plan)
        assert "Exchange hashpartitioning(user_id" in plan, (name, plan)
        assert plan.count("MapInArrow") == 1, (name, plan)
        assert "Union" not in plan, (name, plan)
        glob = plan_of(scotty_global_aggregate(ev, ts="ts", value="value", windows=mix,
                                               aggs=aggs))
        fixed = name in ("16 tumbling", "tumbling+sliding")
        assert ("partial_count" in glob and "Coalesce 1" in glob) == fixed, (name, glob)
        assert glob.count("Exchange") == 1 and glob.count("MapInArrow") == 1, (name, glob)

    # a lone time window keeps the pure-Catalyst tier (whole-stage codegen)
    lone = plan_for(windows[:1])
    assert "HashAggregate" in lone
    assert "ArrowEvalPython" not in lone
    assert "MapInArrow" not in lone  # the batch slicer's node


def test_many_windows_tier_matches_catalyst_rows(spark):
    """The tier switch must be invisible in the output: the rows of one
    slicer pass over 5 tumbling windows, and over each two-family mix,
    equal the union of one lone-window query per window (Catalyst for
    time windows), keyed and global (slice partials for the fixed
    mixes)."""
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans import scotty_batch as sb

    ev = spark.read.parquet(f"{SF}/events.parquet")
    windows = [
        TumblingWindow(WindowMeasure.TIME, (i + 1) * 3_600_000, window_id=i)
        for i in range(5)
    ]
    aggs = [("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)]
    # event_id orders rows of equal ts, which count windows depend on
    keyed = lambda ws: sb.scotty_window_aggregate(  # noqa: E731
        ev, key="user_id", ts="ts", value="value", windows=ws, aggs=aggs,
        arrival_order="event_id")
    glob = lambda ws: sb.scotty_global_aggregate(  # noqa: E731
        ev, ts="ts", value="value", windows=ws, aggs=aggs, arrival_order="event_id")

    def canon(df):
        return sorted(
            (r.asDict().get("user_id"), r["window_id"], r["w_start"], r["w_end"], r["n"],
             round(r["sum_value"], 6))
            for r in df.collect()
        )

    for name, mix in {"5 tumbling": windows, **_two_family_mixes()}.items():
        for run in (keyed, glob):
            fast = run(mix)
            assert set(fast.tiers.values()) == {"vectorized"}, name
            parts = [run([w]) for w in mix]
            slow = parts[0]
            for p in parts[1:]:
                slow = slow.unionAll(p)
            assert canon(fast) == canon(slow), name


@pytest.mark.parametrize("fixed", [False, True], ids=["quantified", "fixed"])
def test_quantified_cep_is_one_exchange_one_sort(spark, fixed):
    """match_pattern_quantified compiles the whole expansion family (CASE
    over the longest lead() span) into ONE window-function pass: one hash
    exchange on the key + one sort feed every expansion's predicate — no
    joins, no per-expansion subplans, whole-stage codegen around the
    CASE. ``match_pattern`` (the cep_funnel gate's matcher) is its {1,1}
    case plus a capture projection and keeps the same plan."""
    from scotty_window_processor_spark.plans.cep import (
        match_pattern,
        match_pattern_quantified,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    view = lambda c: c["event_type"] == "view"  # noqa: E731
    click = lambda c: c["event_type"] == "click"  # noqa: E731
    purchase = lambda c: c["event_type"] == "purchase"  # noqa: E731
    common = dict(
        key="user_id", ts="ts", step_cols=["event_type"],
        within_ms=7 * 86_400_000, tiebreak="event_id",
    )
    if fixed:
        out = match_pattern(
            ev, steps=[view, click, purchase], capture=["event_id"], **common
        )
    else:
        out = match_pattern_quantified(
            ev, steps=[(view, 1, 1), (click, 1, 3), (purchase, 1, 1)], **common
        )
    plan = plan_of(out)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort") == 1, plan
    assert "Join" not in plan and "Union" not in plan
    # payload pruning: only the needed columns reach the scan
    assert "ReadSchema" in plan and "props" not in plan.split("ReadSchema")[1][:400]


def test_unbounded_plus_cep_is_one_exchange_one_sort(spark):
    """match_pattern_plus (possessive MID+): row_number and the
    next-terminator min(struct) ride the SAME window sort — one exchange,
    one sort, no joins, no per-length expansion."""
    from scotty_window_processor_spark.plans.cep import match_pattern_plus

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = match_pattern_plus(
        ev, key="user_id", ts="ts",
        pre=lambda c: c["event_type"] == "view",
        plus=lambda c: c["event_type"] == "click",
        post=lambda c: c["event_type"] == "purchase",
        step_cols=["event_type"], within_ms=7 * 86_400_000, tiebreak="event_id",
    )
    plan = plan_of(out)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort") == 1, plan
    assert "Join" not in plan

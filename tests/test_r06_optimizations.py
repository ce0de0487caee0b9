"""Parity tests for the round-6 optimizations that restructured operator
internals. Every test pins the optimized plan to its pre-optimization
semantics (bit-exact where floats are involved), so a future change that
reintroduces a divergence fails here rather than at the oracle gate.
"""

import random

import pytest
from pyspark.sql import functions as F

from tests.spark_fixtures import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _events(spark, n=4000, keys=23, seed=11):
    rng = random.Random(seed)
    rows = [
        (
            rng.randrange(keys),
            1_700_000_000_000 + rng.randrange(0, 6 * 3_600_000),
            rng.random() * 10,
        )
        for _ in range(n)
    ]
    return spark.createDataFrame(rows, "user_id long, ts_ms long, value double").select(
        "user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts"), "value"
    )


# --------------------------------------------------------------------------
# salted two-level plan == the one Catalyst window plan


@pytest.mark.parametrize("hot_keys", [None, [0, 5, 7]], ids=["all_salted", "hot_list"])
@pytest.mark.parametrize("window", ["tumbling", "sliding"])
def test_salted_matches_window_aggregate(spark, window, hot_keys):
    from scotty_window_processor_spark.operators import (
        SessionWindow,
        SlidingWindow,
        TumblingWindow,
        WindowMeasure,
    )
    from scotty_window_processor_spark.plans.skew import salted_window_aggregate
    from scotty_window_processor_spark.plans.windowed import window_aggregate

    w = {
        "tumbling": TumblingWindow(WindowMeasure.TIME, 3_600_000),
        "sliding": SlidingWindow(WindowMeasure.TIME, 3_600_000, 900_000),
    }[window]
    df = _events(spark)
    plain = window_aggregate(
        df, "user_id", "ts", w, {"n": F.count(F.lit(1)), "sum_value": F.sum("value")}
    )
    salted = salted_window_aggregate(
        df, "user_id", "ts", w,
        partials={"pn": F.count(F.lit(1)), "ps": F.sum("value")},
        finals={"n": F.sum("pn"), "sum_value": F.sum("ps")},
        n_salts=4, hot_keys=hot_keys,
    )
    assert salted.columns == plain.columns
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert [r[:4] for r in a] == [r[:4] for r in b]
    assert [r[4] for r in b] == pytest.approx([r[4] for r in a], rel=1e-12)

    with pytest.raises(ValueError, match="sessions"):
        salted_window_aggregate(
            df, "user_id", "ts", SessionWindow(WindowMeasure.TIME, 1_800_000),
            partials={"pn": F.count(F.lit(1))}, finals={"n": F.sum("pn")},
        )


# --------------------------------------------------------------------------
# Catalyst exact-quantile expression == the slicer's quantile


def test_catalyst_quantile_matches_kernel(spark):
    from scotty_window_processor_spark.functions import (
        CountAggregation,
        QuantileAggregation,
    )
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
    from scotty_window_processor_spark.plans.vectorized_multi import multikey_window_aggregate

    # duplicate-heavy values so the discrete-quantile tie semantics are hit
    df = _events(spark).withColumn("value", F.round(F.col("value"), 0))
    windows = [TumblingWindow(WindowMeasure.TIME, 3_600_000)]
    aggs = [("n", "long", CountAggregation), ("med", "double", QuantileAggregation)]
    cat = scotty_window_aggregate(
        df, key="user_id", ts="ts", value="value", windows=windows, aggs=aggs
    )
    ker = multikey_window_aggregate(
        df, key="user_id", ts="ts", value="value", windows=windows, aggs=aggs
    )
    assert sorted(map(tuple, cat.collect())) == sorted(map(tuple, ker.collect()))


# --------------------------------------------------------------------------
# sink manifest stays bounded on a many-files batch (guide §5: driver memory)


def test_sink_manifest_bounded_on_many_files(spark, tmp_path):
    from scotty_window_processor_spark.streaming.sink import ExactlyOnceParquetSink

    out = str(tmp_path / "sink_out")
    sink = ExactlyOnceParquetSink(out, max_manifest_files=5)
    df = (
        spark.range(200)
        .select(
            F.col("id").alias("user_id"),
            (F.col("id") * 1000).alias("w_start"),
            (F.col("id") * 1000 + 1000).alias("w_end"),
        )
        .repartition(20)  # many files in one batch
    )
    sc = spark.sparkContext
    # one sink call runs the same Spark jobs as the bare write: the lineage
    # is read from the committed files' footers, not by Spark jobs
    sc.setJobGroup("bare_write", "bare write")
    df.write.mode("overwrite").parquet(str(tmp_path / "bare"))
    sc.setJobGroup("sink_call", "sink call")
    sink(df, batch_id=0)
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup("sink_call")) == len(tracker.getJobIdsForGroup("bare_write")) > 0

    m = sink.lineage()[0]
    assert m["rows"] == 200
    assert m["files_total"] >= 20 > 5 == m["files_listed"] == len(m["partitions"])
    # totals cover every file, independent of the truncated detail
    assert m["min_w_start"] == 0 and m["max_w_end"] == 200 * 1000
    # the manifest equals a Spark read-back of the batch directory
    back = (
        spark.read.parquet(m["path"])
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count(F.lit(1)).alias("rows"), F.min("w_start").alias("lo"), F.max("w_end").alias("hi"))
        .collect()
    )
    assert len(back) == m["files_total"]
    assert (m["rows"], m["min_w_start"], m["max_w_end"]) == (
        sum(r["rows"] for r in back), min(r["lo"] for r in back), max(r["hi"] for r in back))
    per_file = {r["file"].rsplit("/", 1)[-1]: (r["rows"], r["lo"], r["hi"]) for r in back}
    for p in m["partitions"]:
        assert per_file[p["file"]] == (p["rows"], p["min_w_start"], p["max_w_end"])
    # replay contract unchanged: committed data readable in full
    assert sink.read_committed(spark).count() == 200

    # an empty batch commits a manifest with no files and no window range
    sink(df.where(F.col("user_id") < 0), batch_id=1)
    e = sink.lineage()[1]
    assert (e["rows"], e["files_total"], e["files_listed"], e["partitions"]) == (0, 0, 0, [])
    assert e["min_w_start"] is None and e["max_w_end"] is None
    assert sink.read_committed(spark).count() == 200

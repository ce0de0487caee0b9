"""Parity tests for the round-6 optimizations that restructured operator
internals. Every test pins the optimized plan to its pre-optimization
semantics (bit-exact where floats are involved), so a future change that
reintroduces a divergence fails here rather than at the oracle gate.
"""

import math
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
# two-level sliding == one-level Expand plan


def test_sliding_twolevel_matches_onelevel(spark):
    from scotty_window_processor_spark.operators import SlidingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.windowed import (
        sliding_aggregate_twolevel,
        window_aggregate,
    )

    df = _events(spark)
    one = window_aggregate(
        df, "user_id", "ts", SlidingWindow(WindowMeasure.TIME, 3_600_000, 900_000),
        {"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
    )
    two = sliding_aggregate_twolevel(
        df, "user_id", "ts", 3_600_000, 900_000,
        partials={"n": F.count(F.lit(1)), "sum_value": F.sum("value")},
        finals={"n": F.sum("n"), "sum_value": F.round(F.sum("sum_value"), 2)},
    )
    a = sorted(map(tuple, one.collect()))
    b = sorted(map(tuple, two.collect()))
    assert a == b


def test_sliding_twolevel_rejects_misaligned(spark):
    from scotty_window_processor_spark.plans.windowed import sliding_aggregate_twolevel

    with pytest.raises(ValueError, match="size % slide"):
        sliding_aggregate_twolevel(
            _events(spark, n=10), "user_id", "ts", 3_600_000, 700_000,
            partials={"n": F.count(F.lit(1))}, finals={"n": F.sum("n")},
        )


# --------------------------------------------------------------------------
# Catalyst exact-quantile expression == kernel-tier quantile


def test_catalyst_quantile_matches_kernel(spark):
    from scotty_window_processor_spark.functions import (
        CountAggregation,
        QuantileAggregation,
    )
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    # duplicate-heavy values so the discrete-quantile tie semantics are hit
    df = _events(spark).withColumn("value", F.round(F.col("value"), 0))
    windows = [TumblingWindow(WindowMeasure.TIME, 3_600_000)]
    aggs = [("n", "long", CountAggregation), ("med", "double", QuantileAggregation)]
    cat = scotty_window_aggregate(
        df, key="user_id", ts="ts", value="value", windows=windows, aggs=aggs
    )
    ker = scotty_window_aggregate(
        df, key="user_id", ts="ts", value="value", windows=windows, aggs=aggs,
        force_kernel=True,
    )
    assert sorted(map(tuple, cat.collect())) == sorted(map(tuple, ker.collect()))


# --------------------------------------------------------------------------
# packed simhash counters == per-bit vote reference


def test_simhash_packed_matches_reference(spark):
    from scotty_window_processor_spark.plans.dedup import (
        SIMHASH_BITS,
        normalized_text,
        simhash,
    )
    from scotty_window_processor_spark.plans.portable_hash import md5_60

    words = ["alpha", "beta", "Gamma", "delta", "x1", "xx", "yy", "zz"]
    rng = random.Random(5)
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(1, 40))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["id"]: r["simhash"] for r in simhash(df).collect()}

    # slow reference: md5-60 word hashes (via the engine's own expression,
    # so the hash family itself is not under test), ±1 vote per bit
    hashed = df.select(
        F.col("doc_id"),
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("w"),
    ).select("doc_id", md5_60(F.col("w")).alias("wh"))
    by_doc = {}
    for r in hashed.collect():
        by_doc.setdefault(r["doc_id"], []).append(r["wh"])
    for doc_id, whs in by_doc.items():
        sim = 0
        for b in range(SIMHASH_BITS):
            votes = sum(1 if (wh >> b) & 1 else -1 for wh in whs)
            if votes > 0:
                sim |= 1 << b
        assert got[doc_id] == sim, f"doc {doc_id}"
    assert len(got) == len(by_doc)


# --------------------------------------------------------------------------
# embedding_near_dup: broadcast-matmul verify == join-plan verify, bit-exact


def test_near_dup_broadcast_verify_bit_exact(spark):
    from scotty_window_processor_spark.plans.similarity import embedding_near_dup

    rng = random.Random(3)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.2, dim=16, planes_per_table=4, tables=3)
    fast = embedding_near_dup(df, **kw)  # broadcast path (fits the bound)
    slow = embedding_near_dup(df, max_broadcast_bytes=0, **kw)  # join path
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert a == b and len(a) > 0


# --------------------------------------------------------------------------
# mixture thresholds: literal-CASE plan == oracle SQL membership


def test_mixture_case_matches_oracle_sql(spark):
    import duckdb

    from scotty_window_processor_spark.plans.sampling import (
        downsample_to_mixture,
        mixture_kept_sql,
    )

    rng = random.Random(7)
    langs = ["en", "zh", "es", "de", "fr", "other"]
    rows = [(i, rng.choice(langs)) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    W = {"en": 0.4, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15}
    kept = sorted(
        r[0] for r in downsample_to_mixture(df, "lang", W, "doc_id").select("doc_id").collect()
    )
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    okept = sorted(
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM ({mixture_kept_sql('documents', 'lang', W, 'doc_id')})"
        ).fetchall()
    )
    assert kept == okept and 0 < len(kept) < 2000


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

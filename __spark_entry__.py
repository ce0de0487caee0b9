"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: multi-window shared-slice aggregation over the
                 synthesized transcripts table (the engine's core workload).
queries()      — one entry per implemented operator (SURVEY.md §2 + the
                 training-data pipeline operators), each (spark, sf_dir) →
                 DataFrame over the driver testdata tables.
oracle_sql()   — DuckDB-checkable ANSI SQL equivalents. Omitted entries
                 (xxhash64-based signatures, approximate ANN) get the
                 weaker rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SIZE_H = 3_600_000  # 1 hour in ms
GAP_30M = 1_800_000


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Concurrent tumbling(10m) + tumbling(1h) + session(5m) per-conversation
    aggregation over synthesized transcripts, one shared slice store per key."""
    _utc(spark)
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import (
        SessionWindow,
        TumblingWindow,
        WindowMeasure,
    )
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
    from scotty_window_processor_spark.sources import synthesize_transcripts

    transcripts = synthesize_transcripts(
        spark, n_convs=50, turns_per_conv=40, n_hot_convs=2, hot_factor=20
    ).withColumn("is_tool_call", F.col("tool").isNotNull().cast("double"))

    return scotty_window_aggregate(
        transcripts,
        key="conv_id",
        ts="ts",
        value="is_tool_call",
        windows=[
            TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
            TumblingWindow(WindowMeasure.TIME, SIZE_H, window_id=2),
            SessionWindow(WindowMeasure.TIME, 300_000, window_id=3),
        ],
        aggs=[
            ("turns", "long", CountAggregation),
            ("tool_calls", "double", SumAggregation),
        ],
        lateness_ms=30_000,
    )


# --------------------------------------------------------------------------
# windowed aggregation over `events` (user_id keyed, event time ts)


def q_tumbling_1h(spark, sf_dir):
    _utc(spark)
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.windowed import window_aggregate

    return window_aggregate(
        _events(spark, sf_dir), "user_id", "ts", TumblingWindow(WindowMeasure.TIME, 3_600_000),
        {"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
    )


def q_sliding_1h_15m(spark, sf_dir):
    """Two-level sliding plan (r6): rows reduce once per 15-min bucket,
    only bucket partials expand ×4 into the overlapping windows — same
    emitted windows and aggregates as the one-level Expand plan (size
    tiles the slide, so every window is a whole-bucket union; output
    verified identical against the unchanged oracle at every SF).
    Rounding applies at the final combine, like presplit_session_30m."""
    _utc(spark)
    from scotty_window_processor_spark.plans.windowed import sliding_aggregate_twolevel

    return sliding_aggregate_twolevel(
        _events(spark, sf_dir), "user_id", "ts", 3_600_000, 900_000,
        partials={"n": F.count(F.lit(1)), "sum_value": F.sum("value")},
        finals={"n": F.sum("n"), "sum_value": F.round(F.sum("sum_value"), 2)},
    )


def q_session_30m(spark, sf_dir):
    _utc(spark)
    from scotty_window_processor_spark.operators import SessionWindow, WindowMeasure
    from scotty_window_processor_spark.plans.windowed import window_aggregate

    return window_aggregate(
        _events(spark, sf_dir), "user_id", "ts", SessionWindow(WindowMeasure.TIME, 30 * 60_000),
        {"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
    )


def q_presplit_session_30m(spark, sf_dir):
    """The session pre-split escape hatch (plans/skew.py::
    presplit_session_aggregate — intra-key parallelism for conv_ids past
    the single-task floor, BENCH/presplit_session.md) must emit EXACTLY
    the sessions of the unsalted path, so it shares session_30m's
    oracle. Day buckets; rounding applied at the final combine so the
    two-level sum matches the oracle's single-pass round."""
    _utc(spark)
    from scotty_window_processor_spark.plans.skew import presplit_session_aggregate

    return presplit_session_aggregate(
        _events(spark, sf_dir), "user_id", "ts", 30 * 60_000,
        partials={"n": F.count(F.lit(1)), "sum_value": F.sum("value")},
        finals={
            "n": F.sum("n"),
            "sum_value": F.round(F.sum("sum_value"), 2),
        },
    )


def q_routed_session_30m(spark, sf_dir):
    """Cost-based session routing (plans/skew.py::
    routed_session_aggregate): auto-detected hot keys go through the
    presplit hatch, the rest through the one-pass path, and the union
    must equal the plain session result — so it shares session_30m's
    oracle. min_hot_rows is set below the sf0.01 max per-key count so
    BOTH arms execute in the gate (at larger sf more keys route hot;
    parity is arm-independent)."""
    _utc(spark)
    from scotty_window_processor_spark.plans.skew import routed_session_aggregate

    return routed_session_aggregate(
        _events(spark, sf_dir), "user_id", "ts", 30 * 60_000,
        aggs={"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
        partials={"n": F.count(F.lit(1)), "sum_value": F.sum("value")},
        finals={"n": F.sum("n"), "sum_value": F.round(F.sum("sum_value"), 2)},
        min_hot_rows=80,
    )


def q_count_tumbling_25(spark, sf_dir):
    _utc(spark)
    from scotty_window_processor_spark.plans.windowed import count_tumbling_aggregate

    return count_tumbling_aggregate(
        _events(spark, sf_dir), "user_id", "ts", 25,
        {"sum_value": F.round(F.sum("value"), 2)},
        tiebreak="event_id",
    )


def q_scotty_multiwindow(spark, sf_dir):
    """Two concurrent tumbling windows through ONE kernel pass (shared
    slices) — the reference's aggregate-sharing headline. force_kernel
    pins tier 3: with two families and standard aggregates the planner
    would run them as two Catalyst subplans."""
    _utc(spark)
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    out = scotty_window_aggregate(
        _events(spark, sf_dir), key="user_id", ts="ts", value="value",
        windows=[
            TumblingWindow(WindowMeasure.TIME, SIZE_H, window_id=1),
            TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H, window_id=2),
        ],
        aggs=[("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)],
        force_kernel=True,
    )
    return out.select(
        "user_id", "window_id", "w_start", "w_end", "n", F.round("sum_value", 2).alias("sum_value")
    )


def q_scotty_session_kernel(spark, sf_dir):
    """Session windows through the slicing kernel itself (force_kernel pins
    tier 3: SessionContext surgery + slice split/merge + clone-before-merge
    for the mutable quantile partial — not the Catalyst or vectorized
    equivalents)."""
    _utc(spark)
    from scotty_window_processor_spark.functions import (
        CountAggregation,
        QuantileAggregation,
        SumAggregation,
    )
    from scotty_window_processor_spark.operators import SessionWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    out = scotty_window_aggregate(
        _events(spark, sf_dir), key="user_id", ts="ts", value="value",
        windows=[SessionWindow(WindowMeasure.TIME, GAP_30M)],
        aggs=[
            ("n", "long", CountAggregation),
            ("sum_value", "double", SumAggregation),
            ("median_value", "double", QuantileAggregation),
        ],
        force_kernel=True,
    )
    return out.select(
        "user_id", "w_start", "w_end", "n",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("median_value", 2).alias("median_value"),
    )


def q_scotty_quantile_kernel(spark, sf_dir):
    """Custom lift/combine/lower aggregate (exact median over a value→count
    histogram, QuantileWindowFunction analogue) — exercises the pure-Python
    kernel tier inside the oracle gate."""
    _utc(spark)
    from scotty_window_processor_spark.functions import CountAggregation, QuantileAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    out = scotty_window_aggregate(
        _events(spark, sf_dir), key="user_id", ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H)],
        aggs=[("n", "long", CountAggregation), ("median_value", "double", QuantileAggregation)],
        force_kernel=True,
    )
    return out.select("user_id", "w_start", "w_end", "n", F.round("median_value", 2).alias("median_value"))


def q_scotty_histq_kernel(spark, sf_dir):
    """BOUNDED-STATE histogram quantile (bin width 0.25) through the
    slicing kernel — the O(range/width) partial that replaces the exact
    O(distinct-values) quantile at 10^12-turn scale. Deterministic binning
    (binary width ⇒ identical IEEE floor in Python/numpy/DuckDB) makes the
    approximate answer exactly oracle-reproducible."""
    _utc(spark)
    from scotty_window_processor_spark.functions import (
        CountAggregation,
        HistogramQuantileAggregation,
    )
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    out = scotty_window_aggregate(
        _events(spark, sf_dir), key="user_id", ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H)],
        aggs=[
            ("n", "long", CountAggregation),
            ("p50_bin", "double", HistogramQuantileAggregation),
        ],
        force_kernel=True,
    )
    return out.select(
        "user_id", "w_start", "w_end", "n", F.round("p50_bin", 2).alias("p50_bin")
    )


def q_scotty_distinct_kernel(spark, sf_dir):
    """BOUNDED-STATE approximate distinct count (linear counting over the
    portable md5-60 hash) through the kernel's record path: occupied-
    position sets merge by union across slices, estimate −m·ln((m−occ)/m)
    — exactly reproducible in SQL from count(DISTINCT md5_60(props) % m).
    The O(m)-bit partial replaces O(distinct) exact state at 10^12-turn
    scale."""
    _utc(spark)
    from scotty_window_processor_spark.functions import (
        CountAggregation,
        LinearCountingAggregation,
    )
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    e = _events(spark, sf_dir).select("user_id", "ts", "props")
    out = scotty_window_aggregate(
        e, key="user_id", ts="ts", value=None,
        windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H)],
        aggs=[
            ("n", "long", CountAggregation),
            ("distinct_est", "double", LinearCountingAggregation),
        ],
        force_kernel=True,
    )
    return out.select(
        "user_id", "w_start", "w_end", "n", F.round("distinct_est", 2).alias("distinct_est")
    )


def q_scotty_payload_kernel(spark, sf_dir):
    """The north-star transcript payload aggregates (tool-call tally +
    per-role ordered text rollup) through the slicing KERNEL tier
    (value=None record path, custom lift/combine/lower), oracle-gated.
    The events table is projected into the transcript shape: event_type
    plays role/tool, event_id is the stable turn order."""
    _utc(spark)
    from scotty_window_processor_spark.functions import (
        CountAggregation,
        RoleTextRollupString,
        ToolTallyString,
    )
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    e = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        F.col("event_type").alias("role"),
        F.col("event_type").alias("tool"),
        F.col("event_id").alias("turn_idx"),
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("text"),
    )
    out = scotty_window_aggregate(
        e, key="user_id", ts="ts", value=None,
        windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H)],
        aggs=[
            ("n", "long", CountAggregation),
            ("tool_tally", "string", ToolTallyString),
            ("role_rollup", "string", RoleTextRollupString),
        ],
        force_kernel=True,
    )
    return out.select("user_id", "w_start", "w_end", "n", "tool_tally", "role_rollup")


def q_scotty_global_kernel(spark, sf_dir):
    """Global (non-keyed) operator — GlobalScottyWindowOperator analogue —
    with a custom quantile aggregate, so the single-kernel path itself is
    oracle-gated."""
    _utc(spark)
    from scotty_window_processor_spark.functions import CountAggregation, QuantileAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_global_aggregate

    out = scotty_global_aggregate(
        _events(spark, sf_dir), ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H)],
        aggs=[("n", "long", CountAggregation), ("median_value", "double", QuantileAggregation)],
        force_kernel=True,
    )
    return out.select("w_start", "w_end", "n", F.round("median_value", 2).alias("median_value"))


def q_count_sliding_50_25(spark, sf_dir):
    """Count-measure SLIDING windows (size 50, slide 25) through the
    kernel (count slices + positional trigger semantics, incl. the
    reference's partial-tail emission when start+size <= total+2)."""
    _utc(spark)
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import SlidingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    out = scotty_window_aggregate(
        _events(spark, sf_dir), key="user_id", ts="ts", value="value",
        windows=[SlidingWindow(WindowMeasure.COUNT, 50, 25)],
        aggs=[("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)],
        arrival_order="event_id",
    )
    return out.select(
        "user_id",
        F.col("w_start").alias("c_start"),
        F.col("w_end").alias("c_end"),
        "n",
        F.round("sum_value", 2).alias("sum_value"),
    )


def q_ordered_rollup(spark, sf_dir):
    """Ordered per-window rollup: event types concatenated in stable
    (ts, event_id) order — the RoleTextRollup shape ('per-turn text
    equality under stable turn_idx ordering'), pure Catalyst."""
    _utc(spark)
    e = _events(spark, sf_dir)
    w = F.window(F.col("ts"), "6 hours")
    return (
        e.groupBy("user_id", w.alias("w"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ":",
            ).alias("event_seq"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("w_start"),
            F.unix_millis(F.col("w.end").cast("timestamp")).alias("w_end"),
            "event_seq",
            "n",
        )
    )


def q_salted_tumbling(spark, sf_dir):
    """Skew-safe two-level (salt partial → final) tumbling aggregation."""
    _utc(spark)
    from scotty_window_processor_spark.plans.skew import salted_window_aggregate

    return salted_window_aggregate(
        _events(spark, sf_dir), "user_id", "ts", "1 hour",
        partials={"pn": F.count(F.lit(1)), "ps": F.sum("value")},
        finals={"n": F.sum("pn"), "sum_value": F.round(F.sum("ps"), 2)},
        n_salts=8,
    )


# --------------------------------------------------------------------------
# relational coverage (TPC-H-ish tables)


def q_pricing_summary(spark, sf_dir):
    from scotty_window_processor_spark.plans.relational import load, pricing_summary

    return pricing_summary(load(spark, sf_dir, "lineitem"))


def q_revenue_by_nation(spark, sf_dir):
    from scotty_window_processor_spark.plans.relational import load, revenue_by_nation

    return revenue_by_nation(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer"), load(spark, sf_dir, "nation")
    )


def q_revenue_cube(spark, sf_dir):
    """CUBE(nation, order year): all four grouping sets in one hash
    aggregate — one fact scan, one exchange (see plans.relational
    .revenue_cube). Oracle: DuckDB native CUBE with the same sentinels."""
    from scotty_window_processor_spark.plans.relational import load, revenue_cube

    return revenue_cube(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer"), load(spark, sf_dir, "nation")
    )


def q_interval_join_1h(spark, sf_dir):
    _utc(spark)
    from scotty_window_processor_spark.plans.relational import interval_self_join

    return interval_self_join(_events(spark, sf_dir), SIZE_H)


def q_top_purchase_users(spark, sf_dir):
    from scotty_window_processor_spark.plans.relational import top_event_users

    return top_event_users(_events(spark, sf_dir), 20)


# --------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)


def q_dedup_exact(spark, sf_dir):
    from scotty_window_processor_spark.plans.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by word-3-gram Jaccard. The shingle document-frequency
    cap (df ≤ 50, mirrored by the oracle's WHERE df <= 50) is ON — at
    scale a hot shingle otherwise generates O(df²) candidate pairs; the
    plan and the oracle prune identically by construction."""
    from scotty_window_processor_spark.plans.dedup import dedup_ngram_jaccard

    return dedup_ngram_jaccard(_docs(spark, sf_dir), threshold=0.35, max_shingle_df=50)


def q_dedup_minhash_lsh(spark, sf_dir):
    from scotty_window_processor_spark.plans.dedup import dedup_minhash_lsh

    return dedup_minhash_lsh(_docs(spark, sf_dir), k=32, bands=8, verify_threshold=0.35)


def q_dedup_simhash(spark, sf_dir):
    """max_hamming=3 matches the 4-table 15-bit-prefix pigeonhole recall
    guarantee — any pair within Hamming ≤ 3 of a 60-bit simhash shares at
    least one quarter, so recall is exact (not silently partial)."""
    from scotty_window_processor_spark.plans.dedup import dedup_simhash

    return dedup_simhash(_docs(spark, sf_dir), max_hamming=3)


def q_dedup_cluster_canonical(spark, sf_dir):
    """Transitive-closure dedup: fold the MinHash near-dup PAIRS into
    per-doc cluster assignments (connected components, min-id canon) —
    the "keep one doc per duplicate cluster" step a pair list alone
    doesn't give you. Oracle: recursive min-label CTE over the identical
    bit-exact pair SQL. The components loop runs Spark jobs at plan-build
    time (label propagation + pointer jumping, localCheckpoint-bounded
    lineage), same builder-executes pattern as the phased replay gates."""
    from scotty_window_processor_spark.plans.dedup import (
        dedup_cluster_canonical,
        dedup_minhash_lsh,
    )

    docs = _docs(spark, sf_dir)
    pairs = dedup_minhash_lsh(docs, k=32, bands=8, verify_threshold=0.35).select(
        "id_a", "id_b"
    )
    return dedup_cluster_canonical(docs, pairs)


def q_asof_view_purchase(spark, sf_dir):
    """Backward-inclusive as-of join: each purchase event picks the most
    recent preceding view by the same user (point-in-time lookup). The
    plan is union + ONE hash exchange on user_id + running last() — no
    join node at all (see plans/asof.py scale notes). Views are first
    deduped to one row per (user_id, ts) (max event_id wins) so the
    match is deterministic; the oracle is DuckDB's native ASOF LEFT
    JOIN, a genuinely independent implementation of the semantics.
    No-match sentinels (-1 / epoch-0) follow the repo's coalesce-nulls
    oracle convention."""
    from scotty_window_processor_spark.plans.asof import asof_join

    ev = _events(spark, sf_dir)
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("view_id"),
            F.max_by("value", "event_id").alias("view_value"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    j = asof_join(
        purchases, views, on=["user_id"], right_cols=["view_id", "view_value"]
    )
    return j.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.coalesce("r_view_id", F.lit(-1)).alias("view_id"),
        F.coalesce("r_ts", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")).alias(
            "view_ts"
        ),
        # events ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the cast
        # is UTC-stable (session tz pinned to UTC) and matches epoch_us
        F.coalesce(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("r_ts").cast("timestamp")),
            F.lit(-1),
        ).alias("lag_us"),
        F.coalesce(F.round("r_view_value", 6), F.lit(-1.0)).alias("view_value"),
    )


_ASOF_TOL_MS = 30 * 60 * 1000  # 30 min


def q_asof_tolerance(spark, sf_dir):
    """The tolerance_ms path of the as-of join: a match older than 30
    minutes is treated as no-match (pandas.merge_asof(tolerance=...)
    semantics). Same union+window plan as asof_view_purchase — the
    tolerance is one post-hoc null-out projection, NOT a join-condition
    change, so the shuffle shape is identical. Oracle: DuckDB native
    ASOF LEFT JOIN with the staleness filter applied after the match
    (the most recent row IS the closest, so nulling a stale best match
    equals matching within tolerance)."""
    from scotty_window_processor_spark.plans.asof import asof_join

    ev = _events(spark, sf_dir)
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    j = asof_join(
        purchases,
        views,
        on=["user_id"],
        right_cols=["view_id"],
        tolerance_ms=_ASOF_TOL_MS,
    )
    return j.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.coalesce("r_view_id", F.lit(-1)).alias("view_id"),
        F.coalesce(
            F.unix_millis(F.col("ts").cast("timestamp"))
            - F.unix_millis(F.col("r_ts").cast("timestamp")),
            F.lit(-1),
        ).alias("lag_ms"),
    )


def q_stream_asof_view_purchase(spark, sf_dir):
    """Streaming replay of the as-of enrichment (streaming/asof.py):
    views and purchases tagged onto one stream; per-key state is ONE
    remembered right row + the out-of-order buffer, so an unbounded
    backward as-of needs O(keys) state, not interval-join state. Rows
    finalize in event-time order under the watermark, so the emitted
    set equals the batch asof_join — gated against the SAME DuckDB
    native ASOF JOIN oracle as the batch twin."""
    from scotty_window_processor_spark.streaming.asof import asof_stream

    def project(events):
        side = (
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .when(F.col("event_type") == "view", F.lit(0))
        )
        return (
            events.select("user_id", "ts", side.alias("side"), "event_id", "value")
            .where(F.col("side").isNotNull())
        )

    def build(stream):
        return asof_stream(
            stream, key="user_id", ts="ts", side="side",
            left_cols=["event_id"], right_cols=["event_id", "value"],
            tiebreak="event_id",
        )

    return _replay_events_stream(
        spark, sf_dir, windows=None, aggs=None,
        select_cols=[
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").cast("timestamp_ntz").alias("purchase_ts"),
            F.coalesce("r_event_id", F.lit(-1)).alias("view_id"),
            F.coalesce(
                F.col("r_ts").cast("timestamp_ntz"),
                F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
            ).alias("view_ts"),
            F.coalesce(
                F.unix_micros("ts") - F.unix_micros("r_ts"), F.lit(-1)
            ).alias("lag_us"),
            F.coalesce(F.round("r_value", 6), F.lit(-1.0)).alias("view_value"),
        ],
        value=None, project=project, build=build,
    )


def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup: documents with doc_id % 4 == 0 play the "new
    ingest batch"; the rest are the "existing corpus", reduced to its
    persisted signature index (id, sig) — the only corpus state touched.
    The batch is shingled/hashed fresh, band-bucketed against the index,
    and verified by MinHash signature agreement with an integer cut, so
    the whole path (candidates AND estimate) is bit-exact vs the oracle's
    identical sig CTEs. Pairs orient (new, corpus) or (new_lo, new_hi)."""
    from scotty_window_processor_spark.plans.dedup import (
        dedup_incremental,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    new = docs.where(F.col("doc_id") % _INCR_NEW_MOD == 0)
    old = docs.where(F.col("doc_id") % _INCR_NEW_MOD != 0)
    index = minhash_signatures(old, "doc_id", "text", k=32, n=3)
    return dedup_incremental(new, index, k=32, bands=8, threshold=0.35)


_CHUNK_W, _CHUNK_OV = 64, 16


def q_chunk_documents(spark, sf_dir):
    """Per-doc overlapping context-window chunking (plans/chunk.py): one
    narrow projection + one explode, NO shuffle — a pure map stage at any
    scale. Every offset is integer arithmetic over the word count, so the
    DuckDB oracle re-derives the exact layout (same normalized split
    chain as the dedup oracles)."""
    from scotty_window_processor_spark.plans.chunk import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), chunk_words=_CHUNK_W, overlap_words=_CHUNK_OV
    )


def q_text_quality(spark, sf_dir):
    from scotty_window_processor_spark.plans.text import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_token_count(spark, sf_dir):
    from scotty_window_processor_spark.plans.text import token_count

    return token_count(_docs(spark, sf_dir))


def q_language_id(spark, sf_dir):
    from scotty_window_processor_spark.plans.text import language_id

    return language_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    from scotty_window_processor_spark.plans.text import fingerprint

    return fingerprint(_docs(spark, sf_dir))


_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
_DECON_THRESHOLD = 0.2
_SHUF_SHARDS = 16
_SAMPLE_CAP = 8
_MIX_WEIGHTS = {"en": 0.4, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15}
_EXACT_K = 3
_PACK_CTX = 2048
_PACK_SHARDS = 16
_WSAMPLE_SCALE = 4000  # weight = min(1, n_chars/4000) in exact millionths


def q_dataset_split(spark, sf_dir):
    """Deterministic content-addressed train/val/test split — the
    leakage-control primitive of a training-data pipeline. The gate
    aggregates per (split, lang) so the value hash depends on every
    row's assignment while the output stays tiny. The split itself is a
    zero-shuffle narrow projection (the CASE folds into the scan)."""
    from scotty_window_processor_spark.plans.sampling import deterministic_split

    return (
        deterministic_split(_docs(spark, sf_dir), "doc_id", _SPLITS)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum cap sampling over (lang, source): one
    tiny stratum-size aggregation broadcast back onto the corpus, then a
    hash-threshold filter — the 100 TB side never shuffles. Aggregated
    per stratum so the hash pins exact row membership."""
    from scotty_window_processor_spark.plans.sampling import stratified_sample_cap

    return (
        stratified_sample_cap(
            _docs(spark, sf_dir), ["lang", "source"], "doc_id", cap=_SAMPLE_CAP
        )
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("sum_chars"))
    )


def q_mixture_by_lang(spark, sf_dir):
    """Domain-mixing downsample: reweight the corpus's lang composition
    to target weights (largest subsample with no upsampling; bottleneck
    lang passes whole). One tiny size agg + broadcast thresholds — the
    corpus side never shuffles. Aggregated per lang so the value hash
    pins exact row membership."""
    from scotty_window_processor_spark.plans.sampling import downsample_to_mixture

    return (
        downsample_to_mixture(_docs(spark, sf_dir), "lang", _MIX_WEIGHTS, "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("sum_chars"))
    )


def q_stratified_sample_exact(spark, sf_dir):
    """Exactly-k-per-stratum sample (eval-set construction): rank within
    (lang, source) by (md5-60 bucket, doc_id) and keep rank <= k. The
    hash-threshold prefilter bounds the rank shuffle to ~margin*k rows
    per stratum; exactness is guaranteed by the fallback union. Emits
    the sampled rows themselves — the strongest membership gate."""
    from scotty_window_processor_spark.plans.sampling import stratified_sample_exact

    return stratified_sample_exact(
        _docs(spark, sf_dir), ["lang", "source"], "doc_id", k=_EXACT_K
    ).select("lang", "source", "doc_id", "sample_rank", "n_chars")


def q_pack_documents(spark, sf_dir):
    """Deterministic concatenate-then-chunk sequence packing: hash-shard
    the corpus, lay documents out per shard in content-addressed order,
    and cut every _PACK_CTX length units. Emits the doc-level layout
    (start offset, chunk index, boundary-cross flag) — membership AND
    position gated row-for-row."""
    from scotty_window_processor_spark.plans.packing import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), "doc_id", "n_chars", _PACK_CTX, n_shards=_PACK_SHARDS
    ).select("doc_id", "pack_shard", "pack_start", "pack_seq", "pack_cross")


def q_weighted_sample(spark, sf_dir):
    """Quality-weighted downsample: keep probability min(1, n_chars /
    _WSAMPLE_SCALE), computed in exact integer millionths so membership
    is engine-independent. Stateless zero-shuffle filter; aggregated per
    (lang, source) so the hash pins exact membership."""
    from scotty_window_processor_spark.plans.sampling import DENOM, weighted_sample

    docs = _docs(spark, sf_dir)
    w = F.least(
        F.lit(DENOM).cast("long"), F.expr(f"n_chars * {DENOM} div {_WSAMPLE_SCALE}")
    )
    return (
        weighted_sample(docs, "doc_id", w)
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("sum_chars"))
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: score every train-split document's
    word-trigram overlap against the held-out test split (the
    contamination check run before any LLM training job). Composes the
    deterministic content-addressed split with the broadcast n-gram
    probe; per-doc output (not aggregated) so the hash pins every
    document's exact contamination score and flag."""
    from scotty_window_processor_spark.plans.hygiene import decontaminate
    from scotty_window_processor_spark.plans.sampling import deterministic_split

    docs = deterministic_split(_docs(spark, sf_dir), "doc_id", _SPLITS)
    ev = docs.where(F.col("split") == "test").select("doc_id", "text")
    tr = docs.where(F.col("split") == "train").select("doc_id", "text")
    out = decontaminate(tr, ev, n=3, threshold=_DECON_THRESHOLD)
    return out.select(
        "doc_id",
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        F.col("n_matched").cast("long").alias("n_matched"),
        "contamination",
        "contaminated",
    )


def _augmented_docs(spark, sf_dir):
    """documents with PII-shaped spans deterministically injected as a
    pure function of doc_id — the synthetic corpus has none, and the
    identical concat runs in the oracle (_AUG_TEXT_SQL), so the scrubber
    is exercised on non-trivial input without external data."""
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 200).cast("string"),
                F.lit(".0."),
                (did % 250).cast("string"),
            ),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-0199"),
            ),
        ).otherwise(""),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0")
            ),
        ).otherwise(""),
    )
    return _docs(spark, sf_dir).select("doc_id", aug.alias("text"))


def q_pii_scrub(spark, sf_dir):
    """PII counting + redaction over the deterministically augmented
    corpus. Per-row output INCLUDING the redacted text, so the value
    hash pins byte-exact redaction (the per-row text-equality bar the
    north rule sets for transcripts, applied to the scrubber)."""
    from scotty_window_processor_spark.plans.hygiene import pii_scrub

    out = pii_scrub(_augmented_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        *[F.col(c).cast("long").alias(c) for c in ("n_email", "n_ssn", "n_phone", "n_ipv4")],
        "clean_text",
    )


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition metrics per document (duplicate-word
    fraction, modal word/bigram mass) — the quality-filter signals a
    pretraining pipeline thresholds on. Per-doc output pins every
    metric and both modal tokens (ties broken lexicographically on both
    sides)."""
    from scotty_window_processor_spark.plans.hygiene import repetition_signals

    out = repetition_signals(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct_words").cast("long").alias("n_distinct_words"),
        "dup_word_frac",
        "top_word",
        "top_word_frac",
        "top_bigram",
        "top_bigram_frac",
    )


def q_global_shuffle(spark, sf_dir):
    """Deterministic content-addressed global training order: every doc
    gets a (shard, pos) coordinate from the md5-60 order key. Per-row
    output pins the entire permutation — shard assignment AND the exact
    rank within every shard."""
    from scotty_window_processor_spark.plans.sampling import global_shuffle

    return global_shuffle(_docs(spark, sf_dir), "doc_id", n_shards=_SHUF_SHARDS).select(
        "doc_id", "shard", "pos"
    )


def q_transcript_audit(spark, sf_dir):
    """Per-conversation ingestion-integrity audit (events as
    transcripts: user_id plays conv_id, event_id the stable turn order,
    event_type the role): timestamp inversions/duplicates, largest gap,
    implied session count, same-role repeats — the validation pass that
    certifies "stable turn ordering" before per-turn text equality can
    be claimed downstream."""
    from scotty_window_processor_spark.plans.relational import (
        transcript_integrity_audit,
    )

    return transcript_integrity_audit(_events(spark, sf_dir))


def q_ann_cosine_topk(spark, sf_dir):
    from scotty_window_processor_spark.plans.similarity import cosine_topk_bruteforce

    emb = _emb(spark, sf_dir)
    return cosine_topk_bruteforce(emb, emb.where(F.col("vec_id") < 5), k=10)


EMB_DIM = 64  # embeddings-table contract (TESTDATA.md): array<float> of 64


def q_ann_cosine_lsh(spark, sf_dir):
    from scotty_window_processor_spark.plans.similarity import cosine_topk_lsh

    emb = _emb(spark, sf_dir)
    return cosine_topk_lsh(emb, emb.where(F.col("vec_id") < 5), k=10, dim=EMB_DIM)


def q_ann_cosine_ivf(spark, sf_dir):
    """IVF-bucketed ANN (coarse quantizer + inverted lists): the scale
    path named alongside LSH in the build brief. Deterministic corpus-head
    centroids make the whole index DuckDB-reproducible; assignment is one
    shuffle-free Arrow-batched matmul, candidates come from the
    centroid-id equi-join."""
    from scotty_window_processor_spark.plans.similarity import ann_cosine_ivf

    emb = _emb(spark, sf_dir)
    return ann_cosine_ivf(
        emb, emb.where(F.col("vec_id") < 5), k=10, n_centroids=16, n_probe=2
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: LSH candidate generation +
    exact cosine verify (same hyperplane family as ann_cosine_lsh, so the
    oracle replays it bit-for-bit). max_bucket_size=128 is the measured
    default from the r5 cap/recall sweep (BENCH/neardup_cap.md): recall
    1.0 vs uncapped at sf1.0 (20k vecs) while bounding any bucket's
    candidate contribution to 128^2/2 pairs; the cap is a deterministic
    function of the bucket assignment, replicated in the oracle SQL."""
    from scotty_window_processor_spark.plans.similarity import embedding_near_dup

    return embedding_near_dup(
        _emb(spark, sf_dir), threshold=0.2, dim=EMB_DIM, max_bucket_size=128
    )


def q_multimodal_decode(spark, sf_dir):
    from scotty_window_processor_spark.plans.multimodal import attach_binary_payload, decode_metadata

    return decode_metadata(attach_binary_payload(_docs(spark, sf_dir)))


def q_multimodal_resize(spark, sf_dir):
    """Image-resize plumbing (brief: decode / feature-extract / resize /
    frame-sample): Arrow-batched mapInPandas over the image rows, binary
    in → resized binary + target dims out, no shuffle. The resizer is the
    documented deterministic stub (no PIL in this container) behind the
    same swap seam as the decode codec; the gate hashes the resized bytes
    so the whole byte-level contract is oracle-checked."""
    from scotty_window_processor_spark.plans.multimodal import (
        attach_binary_payload,
        resize_images,
    )

    out = resize_images(attach_binary_payload(_docs(spark, sf_dir)))
    return out.select(
        "doc_id", "width", "height", F.md5(F.col("resized")).alias("resized_md5")
    )


def q_multimodal_features(spark, sf_dir):
    """Feature-extraction plumbing: binary payload → fixed-dim vector per
    row in one Arrow-batched mapInPandas stage (where an ONNX/torch
    session would run per batch on a real cluster). Deterministic integer
    stub features derived from the decoded metadata keep the gate exact;
    the vector is CSV-flattened on both sides for a type-stable hash."""
    from scotty_window_processor_spark.plans.multimodal import (
        attach_binary_payload,
        extract_features,
    )

    out = extract_features(attach_binary_payload(_docs(spark, sf_dir)))
    return out.select(
        "doc_id",
        "media_type",
        F.concat_ws(
            ",", F.transform(F.col("features"), lambda x: x.cast("string"))
        ).alias("features_csv"),
    )


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling fan-out over the decoded metadata (one row per
    sampled frame index, partition-local explode)."""
    from scotty_window_processor_spark.plans.multimodal import (
        attach_binary_payload,
        decode_metadata,
        frame_sample,
    )

    return frame_sample(decode_metadata(attach_binary_payload(_docs(spark, sf_dir))), every_n=10)


# --------------------------------------------------------------------------
# streaming replay gates: the events table replayed file-per-trigger through
# the STREAMING operator (applyInPandasWithState slicing kernel), emitted
# windows gated against the SAME DuckDB oracles as the batch queries — so
# the structured-streaming path itself carries correctness weight, not just
# pytest parity.

_STREAM_SEQ = [0]


def _ts_span_ms(df, ts="ts"):
    """(min, max) epoch-ms of the ts column — one cheap partial-combine
    aggregation, no driver-side data movement beyond two longs."""
    row = df.agg(
        F.unix_millis(F.min(ts).cast("timestamp")).alias("mn"),
        F.unix_millis(F.max(ts).cast("timestamp")).alias("mx"),
    ).collect()[0]
    return row["mn"], row["mx"]


def _sentinel_frame(batch, sentinel_ts):
    """One far-future watermark-advancer row with the batch's schema:
    user_id=-1, ts=sentinel, value zeroed, other columns from an
    arbitrary source row (filtered out of the gate output by key)."""
    cols = []
    for f in batch.schema.fields:
        if f.name == "user_id":
            cols.append(F.lit(-1).cast(f.dataType).alias(f.name))
        elif f.name == "ts":
            cols.append(F.lit(sentinel_ts).cast(f.dataType).alias(f.name))
        elif f.name == "value":
            cols.append(F.lit(0.0).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return batch.limit(1).select(*cols)


def _write_range_files(df, ts, n_files, src, idx0):
    """Distributed replay-file builder (no ``.toPandas()`` round-trip —
    runs at any SF): repartitionByRange(ts) + sortWithinPartitions gives
    disjoint, ordered ts ranges, one parquet file per range, renamed into
    ``src`` with strictly increasing mtimes so the file stream delivers
    them in event-time order (nothing ever arrives late). Returns the
    next file index."""
    import glob
    import os as _os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="scotty_gate_chunks_")
    # secondary sort on event_id (when present): for ts-tied duplicates
    # the row stream_dedup_exact keeps is otherwise arrival-order
    # dependent, while the oracle breaks ties by (ts, event_id) — current
    # testdata has no such ties, but the stable key removes the hazard at
    # any scale factor (ADVICE r5)
    sort_cols = [ts] + (["event_id"] if "event_id" in df.columns else [])
    (
        df.repartitionByRange(n_files, F.col(ts))
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite").parquet(tmp)
    )
    mtime = 1_000_000_000
    i = idx0
    for p in sorted(glob.glob(f"{tmp}/part-*.parquet")):
        dst_tmp = f"{src}/.tmp-{i:04d}"
        shutil.move(p, dst_tmp)
        _os.utime(dst_tmp, (mtime + i, mtime + i))  # strictly increasing
        _os.rename(dst_tmp, f"{src}/{i:04d}.parquet")
        i += 1
    shutil.rmtree(tmp, ignore_errors=True)
    return i


def _replay_events_stream(spark, sf_dir, windows, aggs, select_cols,
                          value="value", project=None, build=None,
                          out_filter=None, sentinel_days=1):
    """Write events as 6 ts-range parquet files + one far-future
    sentinel row, replay with maxFilesPerTrigger=1 through scotty_stream,
    block until drained, return the emitted windows as a batch DataFrame.

    The sentinel (user_id=-1, ts = max+1 day) advances the event-time
    watermark past every real window end + gap + lateness, so the final
    no-data micro-batch's timers flush ALL windows — making the emitted
    set comparable to a batch oracle instead of only "closed so far".

    ``value=None`` runs the operator in RECORD mode (full-row elements for
    payload lift/combine/lower aggregates); ``project(df)`` reshapes the
    events table (e.g. into the transcript payload shape) before replay.
    """
    import shutil
    import tempfile

    from scotty_window_processor_spark.streaming.processor import scotty_stream

    _utc(spark)
    batch = _events(spark, sf_dir)
    if project is not None:
        batch = project(batch)
    else:
        batch = batch.select("user_id", "ts", "value", "event_id")
    schema = batch.schema
    # sentinel_days must exceed every horizon the operator waits on (window
    # end + gap + lateness; for quantified CEP, within_ms past the last
    # possible start) or the final flush leaves tail state undecided
    _, mx_ms = _ts_span_ms(batch)
    sentinel_ts = __import__("datetime").datetime.utcfromtimestamp(
        (mx_ms + sentinel_days * 86_400_000) / 1000.0
    )

    src = tempfile.mkdtemp(prefix="scotty_gate_stream_")
    ckpt = tempfile.mkdtemp(prefix="scotty_gate_ckpt_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    _STREAM_SEQ[0] += 1
    table = f"stream_gate_out_{_STREAM_SEQ[0]}"
    try:
        nxt = _write_range_files(batch, "ts", 6, src, 0)
        _write_range_files(_sentinel_frame(batch, sentinel_ts), "ts", 1, src, nxt)

        # state tasks = shuffle partitions: pin small at gate scale so the
        # per-micro-batch state-store fan-in doesn't dominate (restored in
        # finally so the rest of the gate session is untouched)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
            # events.ts is TIMESTAMP_NTZ in the driver parquet; watermarks
            # need TIMESTAMP (session tz pinned to UTC, values unchanged)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        if build is not None:
            # custom streaming operator under the same replay harness
            # (e.g. cep_stream); windows/aggs are unused
            result = build(stream)
        else:
            result = scotty_stream(
                stream, key="user_id", ts="ts", value=value,
                windows=windows, aggs=aggs,
                watermark_delay="30 seconds", lateness_ms=30_000,
            )
        q = (
            result.writeStream.format("memory").queryName(table)
            .option("checkpointLocation", ckpt).outputMode("append").start()
        )
        q.processAllAvailable()
        q.stop()
        out = spark.table(table)
        # drop the sentinel's own contribution: by key when the output is
        # keyed, by a caller-supplied predicate otherwise (e.g. global
        # windows exclude the sentinel's far-future bucket)
        out = out_filter(out) if out_filter is not None else out.where(F.col("user_id") >= 0)
        return out.select(*select_cols)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _phase_split_ms(mn_ms, mx_ms):
    """The deterministic phase-boundary instant both engines recompute:
    the midpoint of the event-time span (integer arithmetic). Phase 1 is
    every row with ts <= this; no row-count math, so it holds at any SF
    without a global sort."""
    return mn_ms + (mx_ms - mn_ms) // 2


def _replay_events_stream_phased(spark, sf_dir, build, select_cols,
                                 project=None, restart=False, mid_hook=None,
                                 n_files=4, split=2, sentinel_days=1):
    """Two-phase replay for RESTART and LIVE-CONTROL gates: deliver phase
    1 (rows with ts <= the span midpoint, as ``split`` ts-range files),
    drain, then either STOP the query (restart=True — kill-mid-stream)
    and/or run ``mid_hook()`` (e.g. a live registry window add), deliver
    phase 2 (+ the far-future sentinel), and drain again — restarting
    from the SAME checkpoint when restart=True. Uses foreachBatch +
    ExactlyOnceParquetSink because the memory sink cannot resume from a
    checkpoint; returns the sink's committed rows as a batch DataFrame.

    The phase boundary is a ts VALUE (span midpoint), not a row count, so
    the DuckDB oracle recomputes it with two aggregates and the whole
    builder is distributed (repartitionByRange writes, no ``.toPandas()``
    round-trip) — the gate runs unchanged at sf1.0+."""
    import shutil
    import tempfile

    from scotty_window_processor_spark.streaming.sink import ExactlyOnceParquetSink

    _utc(spark)
    batch = _events(spark, sf_dir)
    if project is not None:
        batch = project(batch)
    else:
        batch = batch.select("user_id", "ts", "value", "event_id")
    schema = batch.schema
    mn_ms, mx_ms = _ts_span_ms(batch)
    t_split = _phase_split_ms(mn_ms, mx_ms)
    sentinel_ts = __import__("datetime").datetime.utcfromtimestamp(
        (mx_ms + sentinel_days * 86_400_000) / 1000.0
    )
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    phase1 = batch.where(ts_ms <= F.lit(t_split))
    phase2 = batch.where(ts_ms > F.lit(t_split))

    src = tempfile.mkdtemp(prefix="scotty_gate_phased_")
    ckpt = tempfile.mkdtemp(prefix="scotty_gate_phased_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="scotty_gate_phased_out_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")

    sink = ExactlyOnceParquetSink(out_dir)

    def start_query():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        return (
            build(stream).writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt).outputMode("append").start()
        )

    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        nxt = _write_range_files(phase1, "ts", split, src, 0)
        q = start_query()
        q.processAllAvailable()
        if restart:
            q.stop()  # kill mid-stream; state lives only in the checkpoint
        if mid_hook is not None:
            mid_hook()
        nxt = _write_range_files(phase2, "ts", n_files - split, src, nxt)
        _write_range_files(_sentinel_frame(batch, sentinel_ts), "ts", 1, src, nxt)
        if restart:
            q = start_query()  # resume from the same checkpoint
        q.processAllAvailable()
        q.stop()
        out = sink.read_committed(spark).where(F.col("user_id") >= 0)
        return out.select(*select_cols)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        # out_dir must outlive this call: read_committed is lazy, and the
        # driver's gate collects AFTER we return. Leak a tempdir per gate
        # run (harness-only, cleaned by the OS tmp reaper).


def q_stream_tumbling_restart(spark, sf_dir):
    """CHECKPOINT-RESTART gate (exactly-once, north_rule): tumbling(1h)
    replay KILLED after the first 2 of 5 files, resumed from the same
    checkpoint with the exactly-once parquet sink, drained, and the
    committed rows gated against the same DuckDB oracle as the batch
    tumbling query — kill/resume must lose nothing and duplicate
    nothing."""
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.streaming.processor import scotty_stream

    def build(stream):
        return scotty_stream(
            stream, key="user_id", ts="ts", value="value",
            windows=[TumblingWindow(WindowMeasure.TIME, SIZE_H, window_id=1)],
            aggs=[("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)],
            watermark_delay="30 seconds", lateness_ms=30_000,
        )

    return _replay_events_stream_phased(
        spark, sf_dir, build,
        select_cols=[
            F.col("user_id"), F.col("w_start"), F.col("w_end"), F.col("n"),
            F.round("sum_value", 2).alias("sum_value"),
        ],
        restart=True,
    )


def q_stream_payload_restart(spark, sf_dir):
    """CHECKPOINT-RESTART gate for the NORTH-STAR payload aggregates in
    RECORD mode: the pickled-kernel state tier (tool tally + ordered role
    rollup partials, per-slice record buffers) must survive a
    kill-mid-stream + resume byte-for-byte — committed rows vs the same
    _PAYLOAD_KERNEL oracle as the batch and single-run streaming gates."""
    from scotty_window_processor_spark.functions import (
        CountAggregation,
        RoleTextRollupString,
        ToolTallyString,
    )
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.streaming.processor import scotty_stream

    def project(events):
        return events.select(
            "user_id",
            "ts",
            F.col("event_type").alias("role"),
            F.col("event_type").alias("tool"),
            F.col("event_id").alias("turn_idx"),
            F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("text"),
        )

    def build(stream):
        return scotty_stream(
            stream, key="user_id", ts="ts", value=None,
            windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H, window_id=1)],
            aggs=[
                ("n", "long", CountAggregation),
                ("tool_tally", "string", ToolTallyString),
                ("role_rollup", "string", RoleTextRollupString),
            ],
            watermark_delay="30 seconds", lateness_ms=30_000,
        )

    return _replay_events_stream_phased(
        spark, sf_dir, build,
        select_cols=["user_id", "w_start", "w_end", "n", "tool_tally", "role_rollup"],
        project=project, restart=True,
    )


def q_stream_live_add(spark, sf_dir):
    """LIVE WINDOW ADDITION gate (the reference's addWindow on a RUNNING
    operator, WindowManager.java:124-143): tumbling(1h) runs as the base
    window; after phase 1 drains (rows up to the event-time span
    midpoint), registry_add_window puts tumbling(30m) into the control
    file while the query KEEPS RUNNING.
    Emitted rows: window 1 in full, window 2 filtered to instances fully
    past the phase-boundary watermark (earlier instances legitimately see
    only retained slices — reference add-mid-stream visibility; pinned
    exact by test_streaming.py::test_live_window_addition_via_registry).
    The oracle recomputes the boundary watermark from the deterministic
    ts-midpoint split: max ts among rows <= midpoint, − 30 s."""
    import tempfile

    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.streaming.processor import scotty_stream
    from scotty_window_processor_spark.streaming.registry import (
        registry_add_window,
        write_registry,
    )

    fd, registry = tempfile.mkstemp(prefix="scotty_gate_registry_", suffix=".json")
    __import__("os").close(fd)
    write_registry(registry, [])

    def build(stream):
        return scotty_stream(
            stream, key="user_id", ts="ts", value="value",
            windows=[TumblingWindow(WindowMeasure.TIME, SIZE_H, window_id=1)],
            aggs=[("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)],
            watermark_delay="30 seconds", lateness_ms=30_000,
            window_registry=registry, registry_poll_s=0.0,
        )

    def add_window():
        registry_add_window(
            registry, TumblingWindow(WindowMeasure.TIME, 1_800_000, window_id=2)
        )

    try:
        out = _replay_events_stream_phased(
            spark, sf_dir, build,
            select_cols=[
                F.col("user_id"), F.col("window_id"), F.col("w_start"), F.col("w_end"),
                F.col("n"), F.round("sum_value", 2).alias("sum_value"),
            ],
            restart=False, mid_hook=add_window,
        )
    finally:
        # the query has fully drained by now — the registry control file
        # (and its lock sibling) are dead; the committed sink rows the
        # lazy `out` reads live in the phased out_dir, not here
        for p in (registry, f"{registry}.lock"):
            try:
                __import__("os").unlink(p)
            except OSError:
                pass
    # the add-boundary watermark, recomputed exactly as the oracle does
    ev = _events(spark, sf_dir)
    mn_ms, mx_ms = _ts_span_ms(ev)
    t_split = _phase_split_ms(mn_ms, mx_ms)
    add_wm = (
        ev.where(F.unix_millis(F.col("ts").cast("timestamp")) <= F.lit(t_split))
        .agg(F.unix_millis(F.max("ts").cast("timestamp"))).collect()[0][0]
        - 30_000
    )
    return out.where(
        (F.col("window_id") == 1) | (F.col("w_start") >= F.lit(add_wm))
    )


def q_stream_tumbling_1h(spark, sf_dir):
    """Structured-streaming replay gate: tumbling(1h) per user through the
    stateful slicing operator, emitted rows vs the batch _TUMBLING_1H
    oracle (same rows the batch query produces)."""
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure

    return _replay_events_stream(
        spark, sf_dir,
        windows=[TumblingWindow(WindowMeasure.TIME, SIZE_H, window_id=1)],
        aggs=[("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)],
        select_cols=[
            F.col("user_id"), F.col("w_start"), F.col("w_end"), F.col("n"),
            F.round("sum_value", 2).alias("sum_value"),
        ],
    )


def q_stream_session_30m(spark, sf_dir):
    """Structured-streaming replay gate: session(30m) windows — slice
    surgery + session merge under micro-batch watermarks — vs the batch
    _SESSION_30M gaps-and-islands oracle."""
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import SessionWindow, WindowMeasure

    return _replay_events_stream(
        spark, sf_dir,
        windows=[SessionWindow(WindowMeasure.TIME, GAP_30M, window_id=3)],
        aggs=[("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)],
        select_cols=[
            F.col("user_id"), F.col("w_start"), F.col("w_end"), F.col("n"),
            F.round("sum_value", 2).alias("sum_value"),
        ],
    )


def q_stream_quantile_6h(spark, sf_dir):
    """Streaming replay with a CUSTOM lift/combine/lower aggregate
    (QuantileAggregation, the QuantileWindowFunction analogue): exercises
    the pickled-kernel state tier of the streaming operator — typed Arrow
    state only covers numpy-reducible functions — against the same DuckDB
    oracle as the batch scotty_quantile_kernel gate."""
    from scotty_window_processor_spark.functions import CountAggregation, QuantileAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure

    return _replay_events_stream(
        spark, sf_dir,
        windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H, window_id=1)],
        aggs=[
            ("n", "long", CountAggregation),
            ("median_value", "double", QuantileAggregation),
        ],
        select_cols=[
            F.col("user_id"), F.col("w_start"), F.col("w_end"), F.col("n"),
            F.round("median_value", 2).alias("median_value"),
        ],
    )


def q_stream_payload_6h(spark, sf_dir):
    """Streaming replay of the NORTH-STAR payload aggregates (tool-call
    tally + per-role ordered text rollup) in RECORD mode: full-row
    elements flow through the stateful slicing operator's pickled-kernel
    state tier with custom lift/combine/lower functions — the streaming
    twin of scotty_payload_kernel, gated against the same _PAYLOAD_KERNEL
    DuckDB oracle. Rollup order is (ts, turn_idx), so micro-batch
    boundaries cannot reorder the concatenation."""
    from scotty_window_processor_spark.functions import (
        CountAggregation,
        RoleTextRollupString,
        ToolTallyString,
    )
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure

    def project(events):
        return events.select(
            "user_id",
            "ts",
            F.col("event_type").alias("role"),
            F.col("event_type").alias("tool"),
            F.col("event_id").alias("turn_idx"),
            F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("text"),
        )

    return _replay_events_stream(
        spark, sf_dir,
        windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H, window_id=1)],
        aggs=[
            ("n", "long", CountAggregation),
            ("tool_tally", "string", ToolTallyString),
            ("role_rollup", "string", RoleTextRollupString),
        ],
        select_cols=["user_id", "w_start", "w_end", "n", "tool_tally", "role_rollup"],
        value=None, project=project,
    )


def q_stream_sliding_1h_15m(spark, sf_dir):
    """Streaming replay gate: SLIDING windows (1h size, 15m slide) —
    four overlapping instances share each slice in the streaming kernel —
    vs the batch _SLIDING_1H_15M oracle."""
    from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
    from scotty_window_processor_spark.operators import SlidingWindow, WindowMeasure

    return _replay_events_stream(
        spark, sf_dir,
        windows=[SlidingWindow(WindowMeasure.TIME, SIZE_H, 900_000, window_id=2)],
        aggs=[("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)],
        select_cols=[
            F.col("user_id"), F.col("w_start"), F.col("w_end"), F.col("n"),
            F.round("sum_value", 2).alias("sum_value"),
        ],
    )


def q_stream_count_tumbling_25(spark, sf_dir):
    """Streaming replay gate: COUNT-measure tumbling windows (size 25) —
    per-key positional slice counters must survive micro-batch boundaries
    in the pickled-kernel state tier; only full windows trigger (the
    count edge), matching the oracle's HAVING count(*) = 25."""
    from scotty_window_processor_spark.functions import SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure

    return _replay_events_stream(
        spark, sf_dir,
        windows=[TumblingWindow(WindowMeasure.COUNT, 25, window_id=4)],
        aggs=[("sum_value", "double", SumAggregation)],
        select_cols=[
            F.col("user_id"),
            F.col("w_start").alias("c_start"),
            F.col("w_end").alias("c_end"),
            F.round("sum_value", 2).alias("sum_value"),
        ],
    )


def q_stream_interval_join(spark, sf_dir):
    """Streaming STATEFUL JOIN gate (north_rule names it explicitly):
    events replayed through the watermarked stream-stream interval join
    (streaming/join.py error_followup_join — state expires at
    O(rate × interval)), emitted pairs vs a plain SQL interval join."""
    from scotty_window_processor_spark.streaming.join import error_followup_join

    def build(stream):
        j = error_followup_join(stream, window_seconds=3600, watermark_delay="30 seconds")
        return j.select(
            "user_id", "err_id",
            F.unix_millis(F.col("pur_ts").cast("timestamp")).alias("pur_ts_ms"),
            F.round("pur_value", 2).alias("pur_value"),
        )

    def project(events):
        return events.select("user_id", "ts", "value", "event_id", "event_type")

    return _replay_events_stream(
        spark, sf_dir, windows=None, aggs=None,
        select_cols=["user_id", "err_id", "pur_ts_ms", "pur_value"],
        value=None, project=project, build=build,
    )


def q_stream_global_6h(spark, sf_dir):
    """Streaming GLOBAL (non-keyed) operator gate: the whole stream
    through one slicing kernel via a constant grouping key
    (scotty_stream_global), tumbling 6h with count + exact-median custom
    aggregate, vs the same oracle as the batch scotty_global_kernel gate.
    The sentinel's far-future bucket is excluded by event-time bound."""
    from scotty_window_processor_spark.functions import CountAggregation, QuantileAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.streaming.processor import scotty_stream_global

    real_max_ms = _events(spark, sf_dir).agg(
        F.unix_millis(F.max("ts").cast("timestamp"))
    ).collect()[0][0]

    def build(stream):
        return scotty_stream_global(
            stream, ts="ts", value="value",
            windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H, window_id=1)],
            aggs=[
                ("n", "long", CountAggregation),
                ("median_value", "double", QuantileAggregation),
            ],
            watermark_delay="30 seconds", lateness_ms=30_000,
        )

    return _replay_events_stream(
        spark, sf_dir, windows=None, aggs=None,
        select_cols=[
            F.col("w_start"), F.col("w_end"), F.col("n"),
            F.round("median_value", 2).alias("median_value"),
        ],
        value=None,
        project=lambda ev: ev.select("user_id", "ts", "value", "event_id"),
        build=build,
        out_filter=lambda df: df.where(F.col("w_start") <= real_max_ms),
    )


def q_stream_distinct_6h(spark, sf_dir):
    """Streaming replay of the linear-counting distinct sketch — a
    NON-INVERTIBLE custom aggregate in record mode, so the streaming
    kernel's slice record buffers (needed for out-of-order recompute)
    must survive micro-batch state round-trips. Same oracle as the batch
    scotty_distinct_kernel gate."""
    from scotty_window_processor_spark.functions import (
        CountAggregation,
        LinearCountingAggregation,
    )
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure

    return _replay_events_stream(
        spark, sf_dir,
        windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H, window_id=1)],
        aggs=[
            ("n", "long", CountAggregation),
            ("distinct_est", "double", LinearCountingAggregation),
        ],
        select_cols=[
            F.col("user_id"), F.col("w_start"), F.col("w_end"), F.col("n"),
            F.round("distinct_est", 2).alias("distinct_est"),
        ],
        value=None,
        project=lambda ev: ev.select("user_id", "ts", "props", "event_id"),
    )


_CEP_WITHIN_MS = 7 * 86_400_000  # events are sparse per user (median same-
# user gap ≈ 7 h), so the funnel span bound is a week


def q_cep_funnel(spark, sf_dir):
    """CEP sequence detection (MATCH_RECOGNIZE core): view → click →
    purchase on strictly consecutive per-user events ordered by
    (ts, event_id), overlapping matches allowed, whole run within 7 days.
    One exchange + one sort feed the whole lead() family; predicate and
    span bound are whole-stage codegen (plans/cep.py)."""
    _utc(spark)
    from scotty_window_processor_spark.plans.cep import match_pattern

    return match_pattern(
        _events(spark, sf_dir), key="user_id", ts="ts",
        steps=[
            lambda c: c["event_type"] == "view",
            lambda c: c["event_type"] == "click",
            lambda c: c["event_type"] == "purchase",
        ],
        step_cols=["event_type"], within_ms=_CEP_WITHIN_MS,
        tiebreak="event_id", capture=["event_id"],
    )


def q_stream_dedup_exact(spark, sf_dir):
    """Streaming first-wins dedup on (user_id, event_type): Structured
    Streaming's watermark-TTL'd dedup state replayed over the ts-ordered
    range files, with the TTL spanning the whole stream so the kept set
    equals the batch first-occurrence oracle (row_number() = 1 per key
    by ts). State ∝ distinct keys in the horizon, not stream length."""
    from scotty_window_processor_spark.streaming.dedup import stream_dedup_exact

    def build(stream):
        return stream_dedup_exact(stream, ["user_id", "event_type"], ts="ts")

    def project(events):
        return events.select("user_id", "ts", "event_type", "event_id")

    return _replay_events_stream(
        spark, sf_dir, windows=None, aggs=None,
        select_cols=[
            F.col("user_id"),
            F.col("event_type"),
            F.col("event_id").alias("first_event_id"),
        ],
        project=project, build=build,
    )


def q_stream_cep_funnel(spark, sf_dir):
    """Streaming replay of the same funnel through the stateful CEP
    operator (streaming/cep.py): per-key tail state carries partial
    matches across micro-batches; each match is emitted exactly once when
    its last row is finalized by the watermark. Gated against the same
    lead()-based DuckDB oracle as the batch query."""
    from scotty_window_processor_spark.streaming.cep import cep_stream

    def build(stream):
        return cep_stream(
            stream, key="user_id", ts="ts",
            steps=[
                lambda d: d["event_type"].to_numpy() == "view",
                lambda d: d["event_type"].to_numpy() == "click",
                lambda d: d["event_type"].to_numpy() == "purchase",
            ],
            step_cols=["event_type"], within_ms=_CEP_WITHIN_MS,
            tiebreak="event_id", capture=["event_id"],
            watermark_delay="30 seconds",
        )

    def project(events):
        return events.select("user_id", "ts", "event_type", "event_id")

    return _replay_events_stream(
        spark, sf_dir, windows=None, aggs=None,
        select_cols=["user_id", "w_start", "w_end",
                     "s0_event_id", "s1_event_id", "s2_event_id"],
        value=None, project=project, build=build,
    )


def q_cep_retry_funnel(spark, sf_dir):
    """CEP with BOUNDED QUANTIFIERS (MATCH_RECOGNIZE {m,n}): view →
    click{1,3} → purchase on strictly consecutive per-user events, greedy
    priority (longest click run wins per start), whole run within 7 days.
    Compiles to ONE lead() family sized by the longest expansion with the
    per-expansion predicates chained into a single CASE
    (plans/cep.py match_pattern_quantified)."""
    _utc(spark)
    from scotty_window_processor_spark.plans.cep import match_pattern_quantified

    return match_pattern_quantified(
        _events(spark, sf_dir), key="user_id", ts="ts",
        steps=[
            (lambda c: c["event_type"] == "view", 1, 1),
            (lambda c: c["event_type"] == "click", 1, 3),
            (lambda c: c["event_type"] == "purchase", 1, 1),
        ],
        step_cols=["event_type"], within_ms=_CEP_WITHIN_MS,
        tiebreak="event_id", greedy=True,
    ).select(
        "user_id", "w_start", "w_end", "match_len",
        F.col("s1_n").alias("n_clicks"),
    )


def q_stream_cep_retry_funnel(spark, sf_dir):
    """Streaming replay of the quantified retry funnel
    (streaming/cep.py cep_stream_quantified): per-start greedy decisions
    under the span-bound refutation protocol — a tail start whose longer
    expansions would need rows that never come is decided once the
    watermark passes start + within_ms, matching batch lead()-null
    semantics. Gated against the same DuckDB oracle as the batch query."""
    from scotty_window_processor_spark.streaming.cep import cep_stream_quantified

    def build(stream):
        return cep_stream_quantified(
            stream, key="user_id", ts="ts",
            steps=[
                (lambda d: d["event_type"].to_numpy() == "view", 1, 1),
                (lambda d: d["event_type"].to_numpy() == "click", 1, 3),
                (lambda d: d["event_type"].to_numpy() == "purchase", 1, 1),
            ],
            step_cols=["event_type"], within_ms=_CEP_WITHIN_MS,
            tiebreak="event_id", greedy=True,
            watermark_delay="30 seconds",
        ).select(
            "user_id", "w_start", "w_end", "match_len",
            F.col("s1_n").alias("n_clicks"),
        )

    def project(events):
        return events.select("user_id", "ts", "event_type", "event_id")

    return _replay_events_stream(
        spark, sf_dir, windows=None, aggs=None,
        select_cols=["user_id", "w_start", "w_end", "match_len", "n_clicks"],
        value=None, project=project, build=build,
        # a tail start is only decidable once the watermark passes
        # start + within_ms (7 d): push the sentinel past that horizon
        sentinel_days=8,
    )


_CEP_CAPTURE_STEPS_COL = [
    (lambda c: c["event_type"] == "view", 1, 1),
    (lambda c: c["event_type"] == "click", 1, 3),
    (lambda c: c["event_type"] == "purchase", 1, 1),
]
_CEP_CAPTURE_STEPS_NP = [
    (lambda d: d["event_type"].to_numpy() == "view", 1, 1),
    (lambda d: d["event_type"].to_numpy() == "click", 1, 3),
    (lambda d: d["event_type"].to_numpy() == "purchase", 1, 1),
]


def q_cep_retry_funnel_capture(spark, sf_dir):
    """CEP CAPTURES UNDER QUANTIFIERS (MATCH_RECOGNIZE MEASURES): the
    retry funnel (view → click{1,3} → purchase, greedy, 7-day span) with
    per-consumed-row payload recovery — one output row per matched source
    row carrying offset / step_idx / repeat_idx and the captured
    event_type + event_id. Join-free: the captured values ride the SAME
    lead() family the matcher builds (arrays in the CASE chain), then one
    posexplode — no second sort, no self-join back to the source
    (plans/cep.py match_pattern_quantified_rows)."""
    _utc(spark)
    from scotty_window_processor_spark.plans.cep import (
        match_pattern_quantified_rows,
    )

    return match_pattern_quantified_rows(
        _events(spark, sf_dir), key="user_id", ts="ts",
        steps=_CEP_CAPTURE_STEPS_COL, step_cols=["event_type"],
        capture=["event_type", "event_id"],
        within_ms=_CEP_WITHIN_MS, tiebreak="event_id", greedy=True,
    )


def q_stream_cep_retry_funnel_capture(spark, sf_dir):
    """Streaming twin of the capture gate: cep_stream_quantified emits
    the match stream with capture ARRAYS from the key's finalized row
    sequence (no extra state), and the offset/step_idx/repeat_idx explode
    is a stateless projection over the append stream — same rows, same
    oracle as the batch gate."""
    from scotty_window_processor_spark.streaming.cep import (
        cep_stream_quantified_rows,
    )

    def build(stream):
        return cep_stream_quantified_rows(
            stream, key="user_id", ts="ts",
            steps=_CEP_CAPTURE_STEPS_NP, step_cols=["event_type"],
            within_ms=_CEP_WITHIN_MS, capture=["event_type", "event_id"],
            tiebreak="event_id", greedy=True, watermark_delay="30 seconds",
        )

    def project(events):
        return events.select("user_id", "ts", "event_type", "event_id")

    return _replay_events_stream(
        spark, sf_dir, windows=None, aggs=None,
        select_cols=[
            "user_id", "w_start", "w_end", "match_len", "s0_n", "s1_n",
            "s2_n", "offset", "step_idx", "repeat_idx", "event_type",
            "event_id",
        ],
        value=None, project=project, build=build,
        sentinel_days=8,
    )


def q_cep_unbounded_retry(spark, sf_dir):
    """CEP with UNBOUNDED possessive repetition — PATTERN (view click+
    purchase), the `A+` shape MATCH_RECOGNIZE users reach for: a view
    start consumes the maximal contiguous click run, then the first
    non-click row must be a purchase, all within 7 days. Single-pass
    gaps-and-islands (one exchange + one sort, no joins, no per-length
    expansion — plans/cep.py match_pattern_plus)."""
    _utc(spark)
    from scotty_window_processor_spark.plans.cep import match_pattern_plus

    return match_pattern_plus(
        _events(spark, sf_dir), key="user_id", ts="ts",
        pre=lambda c: c["event_type"] == "view",
        plus=lambda c: c["event_type"] == "click",
        post=lambda c: c["event_type"] == "purchase",
        step_cols=["event_type"], within_ms=_CEP_WITHIN_MS,
        tiebreak="event_id", min_repeats=1,
    ).withColumnRenamed("n_mid", "n_clicks")


def q_stream_cep_unbounded_retry(spark, sf_dir):
    """Streaming replay of the unbounded possessive retry funnel
    (streaming/cep.py cep_stream_plus): a run that reaches the finalized
    frontier defers until its terminator finalizes or the span bound
    refutes it, then the start is decided exactly once — emissions equal
    the batch gaps-and-islands result. Same DuckDB oracle as the batch
    gate."""
    from scotty_window_processor_spark.streaming.cep import cep_stream_plus

    def build(stream):
        return cep_stream_plus(
            stream, key="user_id", ts="ts",
            pre=lambda d: d["event_type"].to_numpy() == "view",
            plus=lambda d: d["event_type"].to_numpy() == "click",
            post=lambda d: d["event_type"].to_numpy() == "purchase",
            step_cols=["event_type"], within_ms=_CEP_WITHIN_MS,
            tiebreak="event_id", min_repeats=1,
            watermark_delay="30 seconds",
        ).withColumnRenamed("n_mid", "n_clicks")

    def project(events):
        return events.select("user_id", "ts", "event_type", "event_id")

    return _replay_events_stream(
        spark, sf_dir, windows=None, aggs=None,
        select_cols=["user_id", "w_start", "w_end", "n_clicks"],
        value=None, project=project, build=build,
        sentinel_days=8,  # span-bound decidability horizon, as retry funnel
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness harness walks this dict in
    # insertion order and CORRECTNESS_r04 recorded exactly the first 50
    # entries — whatever the limit is (entry cap or wall-clock budget),
    # the tail is what gets dropped. The three phased streaming gates
    # (kill-mid-stream restart ×2, live window add — the operationally
    # critical exactly-once evidence) therefore sit right after the core
    # kernel gates, and the two gates whose coverage is most redundant
    # (multimodal resize/features: same mapInPandas plumbing contract as
    # the decode/frame_sample gates that DO have driver rows, plus
    # pytest seam tests) sit last.
    return {
        "tumbling_1h": q_tumbling_1h,
        "sliding_1h_15m": q_sliding_1h_15m,
        "session_30m": q_session_30m,
        "presplit_session_30m": q_presplit_session_30m,
        "routed_session_30m": q_routed_session_30m,
        "count_tumbling_25": q_count_tumbling_25,
        "scotty_multiwindow": q_scotty_multiwindow,
        "scotty_session_kernel": q_scotty_session_kernel,
        "scotty_quantile_kernel": q_scotty_quantile_kernel,
        "scotty_histq_kernel": q_scotty_histq_kernel,
        "scotty_distinct_kernel": q_scotty_distinct_kernel,
        "scotty_payload_kernel": q_scotty_payload_kernel,
        "scotty_global_kernel": q_scotty_global_kernel,
        "stream_tumbling_restart": q_stream_tumbling_restart,
        "stream_payload_restart": q_stream_payload_restart,
        "stream_live_add": q_stream_live_add,
        "count_sliding_50_25": q_count_sliding_50_25,
        "ordered_rollup": q_ordered_rollup,
        "salted_tumbling": q_salted_tumbling,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "revenue_cube": q_revenue_cube,
        "interval_join_1h": q_interval_join_1h,
        "top_purchase_users": q_top_purchase_users,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_cluster_canonical": q_dedup_cluster_canonical,
        "dedup_incremental": q_dedup_incremental,
        "asof_view_purchase": q_asof_view_purchase,
        "asof_tolerance": q_asof_tolerance,
        "stream_asof_view_purchase": q_stream_asof_view_purchase,
        "chunk_documents": q_chunk_documents,
        "text_quality": q_text_quality,
        "token_count": q_token_count,
        "language_id": q_language_id,
        "doc_fingerprint": q_fingerprint,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_cosine_lsh": q_ann_cosine_lsh,
        "ann_cosine_ivf": q_ann_cosine_ivf,
        "embedding_near_dup": q_embedding_near_dup,
        "multimodal_decode": q_multimodal_decode,
        "frame_sample": q_frame_sample,
        "stream_tumbling_1h": q_stream_tumbling_1h,
        "stream_session_30m": q_stream_session_30m,
        "stream_quantile_6h": q_stream_quantile_6h,
        "stream_payload_6h": q_stream_payload_6h,
        "cep_funnel": q_cep_funnel,
        "stream_dedup_exact": q_stream_dedup_exact,
        "stream_cep_funnel": q_stream_cep_funnel,
        "cep_retry_funnel": q_cep_retry_funnel,
        "stream_cep_retry_funnel": q_stream_cep_retry_funnel,
        "cep_retry_funnel_capture": q_cep_retry_funnel_capture,
        "cep_unbounded_retry": q_cep_unbounded_retry,
        "stream_cep_unbounded_retry": q_stream_cep_unbounded_retry,
        "stream_interval_join": q_stream_interval_join,
        "stream_global_6h": q_stream_global_6h,
        "stream_sliding_1h_15m": q_stream_sliding_1h_15m,
        "stream_count_tumbling_25": q_stream_count_tumbling_25,
        "stream_distinct_6h": q_stream_distinct_6h,
        "stream_cep_retry_funnel_capture": q_stream_cep_retry_funnel_capture,
        "dataset_split": q_dataset_split,
        "stratified_sample": q_stratified_sample,
        "mixture_by_lang": q_mixture_by_lang,
        "stratified_sample_exact": q_stratified_sample_exact,
        "pack_documents": q_pack_documents,
        "weighted_sample": q_weighted_sample,
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "repetition_signals": q_repetition_signals,
        "global_shuffle": q_global_shuffle,
        "transcript_audit": q_transcript_audit,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_features": q_multimodal_features,
    }


# --------------------------------------------------------------------------
# DuckDB oracles

_TUMBLING_1H = """
SELECT user_id,
       epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS w_start,
       epoch_ms(time_bucket(INTERVAL '1 hour', ts)) + 3600000 AS w_end,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY user_id, time_bucket(INTERVAL '1 hour', ts)
"""

_SLIDING_1H_15M = """
SELECT user_id,
       epoch_ms(time_bucket(INTERVAL '15 minutes', ts)) - i * 900000 AS w_start,
       epoch_ms(time_bucket(INTERVAL '15 minutes', ts)) - i * 900000 + 3600000 AS w_end,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events, (SELECT unnest(range(4)) AS i)
GROUP BY user_id, w_start
"""

_SESSION_30M = """
WITH marks AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
)
SELECT user_id,
       epoch_ms(min(ts)) AS w_start,
       epoch_ms(max(ts)) + 1800000 AS w_end,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM sess GROUP BY user_id, sid
"""

_SESSION_KERNEL = """
WITH marks AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
)
SELECT user_id,
       epoch_ms(min(ts)) AS w_start,
       epoch_ms(max(ts)) + 1800000 AS w_end,
       count(*) AS n,
       round(sum(value), 2) AS sum_value,
       round(quantile_disc(value, 0.5), 2) AS median_value
FROM sess GROUP BY user_id, sid
"""

_COUNT_TUMBLING_25 = """
WITH r AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
  FROM events
)
SELECT user_id,
       (rn - rn % 25) AS c_start,
       (rn - rn % 25) + 25 AS c_end,
       round(sum(value), 2) AS sum_value
FROM r GROUP BY user_id, c_start HAVING count(*) = 25
"""

_MULTIWINDOW = """
SELECT user_id, 1 AS window_id,
       epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS w_start,
       epoch_ms(time_bucket(INTERVAL '1 hour', ts)) + 3600000 AS w_end,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id, time_bucket(INTERVAL '1 hour', ts)
UNION ALL
SELECT user_id, 2 AS window_id,
       epoch_ms(time_bucket(INTERVAL '6 hours', ts)) AS w_start,
       epoch_ms(time_bucket(INTERVAL '6 hours', ts)) + 21600000 AS w_end,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id, time_bucket(INTERVAL '6 hours', ts)
"""

_QUANTILE_KERNEL = """
SELECT user_id,
       epoch_ms(time_bucket(INTERVAL '6 hours', ts)) AS w_start,
       epoch_ms(time_bucket(INTERVAL '6 hours', ts)) + 21600000 AS w_end,
       count(*) AS n,
       round(quantile_disc(value, 0.5), 2) AS median_value
FROM events
GROUP BY user_id, time_bucket(INTERVAL '6 hours', ts)
"""

_PAYLOAD_KERNEL = """
WITH t AS (
  SELECT user_id, ts, event_type AS role, event_id AS turn_idx,
         'e' || CAST(event_id AS VARCHAR) AS text,
         epoch_ms(time_bucket(INTERVAL '6 hours', ts)) AS w_start
  FROM events
), per_role AS (
  SELECT user_id, w_start, role,
         string_agg(text, ';' ORDER BY turn_idx) AS seq,
         count(*) AS cnt
  FROM t GROUP BY user_id, w_start, role
)
SELECT user_id, w_start, w_start + 21600000 AS w_end,
       CAST(sum(cnt) AS BIGINT) AS n,
       string_agg(role || '=' || CAST(cnt AS VARCHAR), ',' ORDER BY role) AS tool_tally,
       string_agg(role || ':' || seq, '|' ORDER BY role) AS role_rollup
FROM per_role GROUP BY user_id, w_start
"""

_HISTQ_KERNEL = """
WITH b AS (
  SELECT user_id,
         epoch_ms(time_bucket(INTERVAL '6 hours', ts)) AS w_start,
         CAST(floor(value / 0.25) AS BIGINT) AS bin
  FROM events
), c AS (
  SELECT user_id, w_start, bin, count(*) AS cnt FROM b GROUP BY 1, 2, 3
), t AS (
  SELECT user_id, w_start, bin, cnt,
         sum(cnt) OVER (PARTITION BY user_id, w_start ORDER BY bin) AS cume,
         sum(cnt) OVER (PARTITION BY user_id, w_start) AS total
  FROM c
)
SELECT user_id, w_start, w_start + 21600000 AS w_end,
       CAST(max(total) AS BIGINT) AS n,
       round(min(CASE WHEN cume >= CAST(ceil(0.5 * total) AS BIGINT) THEN bin END) * 0.25, 2) AS p50_bin
FROM t GROUP BY user_id, w_start
"""

_DISTINCT_KERNEL = """
WITH p AS (
  SELECT user_id,
         epoch_ms(time_bucket(INTERVAL '6 hours', ts)) AS w_start,
         (('0x' || left(md5(props), 15))::BIGINT) % 1024 AS pos
  FROM events
), g AS (
  SELECT user_id, w_start,
         CAST(count(*) AS BIGINT) AS n,
         count(DISTINCT pos) AS occ
  FROM p GROUP BY 1, 2
)
SELECT user_id, w_start, w_start + 21600000 AS w_end, n,
       CASE WHEN occ >= 1024 THEN 1024.0
            ELSE round(-1024 * ln((1024 - occ) / 1024.0), 2)
       END AS distinct_est
FROM g
"""

_GLOBAL_KERNEL = """
SELECT epoch_ms(time_bucket(INTERVAL '6 hours', ts)) AS w_start,
       epoch_ms(time_bucket(INTERVAL '6 hours', ts)) + 21600000 AS w_end,
       count(*) AS n,
       round(quantile_disc(value, 0.5), 2) AS median_value
FROM events GROUP BY 1
"""

_COUNT_SLIDING_50_25 = """
WITH r AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn,
         count(*) OVER (PARTITION BY user_id) AS total
  FROM events
), e AS (
  SELECT user_id, value, (rn // 25 - j.j) AS k
  FROM r, (SELECT unnest(range(2)) AS j) j
  WHERE (rn // 25 - j.j) >= 0
    -- full windows only: a count window triggers once its end count has
    -- arrived (kernel divergence fix #7 removed the reference's cend+1
    -- horizon, which leaked one partial tail per residue-24 user)
    AND (rn // 25 - j.j) * 25 + 50 <= total
)
SELECT user_id, k * 25 AS c_start, k * 25 + 50 AS c_end,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM e GROUP BY user_id, k
"""

_ORDERED_ROLLUP = """
SELECT user_id,
       epoch_ms(time_bucket(INTERVAL '6 hours', ts)) AS w_start,
       epoch_ms(time_bucket(INTERVAL '6 hours', ts)) + 21600000 AS w_end,
       string_agg(event_type, ':' ORDER BY ts, event_id) AS event_seq,
       count(*) AS n
FROM events
GROUP BY user_id, time_bucket(INTERVAL '6 hours', ts)
"""

_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

_REVENUE_BY_NATION = """
SELECT n_name,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

_REVENUE_CUBE = """
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(year(o_orderdate), -1) AS o_year,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, year(o_orderdate))
"""

_INTERVAL_JOIN_1H = """
SELECT e.user_id AS user_id, e.event_id AS err_id,
       count(p.ts) AS n_purchases,
       round(coalesce(sum(p.value), 0.0), 2) AS purchase_value
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND p.ts > e.ts
     AND p.ts <= e.ts + INTERVAL '1 hour'
GROUP BY e.user_id, e.event_id
"""

_TOP_PURCHASE_USERS = """
WITH per_user AS (
  SELECT user_id, round(sum(value), 2) AS total_value, count(*) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY total_value DESC, user_id) AS rnk FROM per_user
)
SELECT user_id, total_value, n, rnk FROM ranked WHERE rnk <= 20
"""

_DEDUP_EXACT = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
       min(doc_id) AS keep_id,
       count(*) AS dupes
FROM documents
GROUP BY content_hash
"""

_NGRAM_JACCARD = """
WITH docs AS (
  SELECT doc_id AS id,
         list_distinct([
           array_to_string(words[i:i+2], ' ')
           FOR i IN range(1, greatest(len(words) - 2, 1) + 1)
         ]) AS shingles
  FROM (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
    FROM documents
  )
), expl AS (
  SELECT id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM docs
), freq AS (
  SELECT sh, count(*) AS df FROM expl GROUP BY sh
), kept AS (
  SELECT e.id, e.n_sh, e.sh FROM expl e JOIN freq USING (sh) WHERE df <= 50
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
  FROM kept a JOIN kept b USING (sh)
  WHERE a.id < b.id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(inter * 1.0 / (n_a + n_b - inter), 6) AS jaccard
FROM pairs
WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.35
"""

_TEXT_QUALITY = """
WITH t AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
             w -> w IN ('the','and','of','to','a','in','is','it','that','for'))) AS stop,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, n_chars, n_words,
       round((n_chars - n_words + 1) * 1.0 / n_words, 4) AS avg_word_len,
       round(stop * 1.0 / n_words, 4) AS stopword_ratio,
       round(n_digits * 1.0 / n_chars, 4) AS digit_ratio,
       round(n_punct * 1.0 / n_chars, 4) AS punct_ratio,
       CASE WHEN n_words >= 10
             AND (n_chars - n_words + 1) * 1.0 / n_words >= 2
             AND (n_chars - n_words + 1) * 1.0 / n_words <= 12
             AND n_digits * 1.0 / n_chars < 0.3
        THEN 1 ELSE 0 END AS passes_quality
FROM t
"""

_TOKEN_COUNT = """
SELECT doc_id,
       len(string_split_regex(lower(trim(text)), '\\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS regex_tokens,
       CAST(ceil(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) * 1.3) AS BIGINT) AS est_bpe_tokens
FROM documents
"""

_LANGUAGE_ID = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words FROM documents
), s AS (
  SELECT doc_id,
    len(list_filter(words, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS score_en,
    len(list_filter(words, x -> x IN ('der','die','und','das','ist','ein','nicht','mit','ich','auf'))) AS score_de,
    len(list_filter(words, x -> x IN ('le','la','et','les','des','est','un','une','dans','que'))) AS score_fr
  FROM w
)
SELECT doc_id, score_en, score_de, score_fr,
       CASE WHEN score_fr > greatest(score_en, score_de) THEN 'fr'
            WHEN score_de > score_en THEN 'de'
            WHEN score_en > 0 THEN 'en'
            ELSE 'und' END AS pred_lang
FROM s
"""

# --- portable-hash oracles -------------------------------------------------
# Every hash below is md5-based (plans.portable_hash.md5_60) so DuckDB can
# reproduce it bit-exactly: Spark conv(substring(md5(x),1,15),16,10) ==
# DuckDB ('0x' || left(md5(x),15))::BIGINT.


def _md5_60_sql(expr: str) -> str:
    from scotty_window_processor_spark.plans.portable_hash import md5_60_sql

    return md5_60_sql(expr)  # single source of truth for the hash formula


_FINGERPRINT = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words FROM documents
), g AS (
  SELECT doc_id,
         [{_md5_60_sql("array_to_string(words[i:i+4], ' ')")}
          FOR i IN range(1, greatest(len(words) - 4, 1) + 1)] AS grams
  FROM w
)
SELECT doc_id,
       list_aggregate(grams, 'min') AS fp_min,
       list_aggregate(grams, 'max') AS fp_max,
       len(grams) AS n_grams
FROM g
"""


def _simhash_sql() -> str:
    """60-bit simhash + 4×15-bit-quarter bucketing, generated column-wise
    (60 vote aggregates → one simhash expression), mirroring
    plans.dedup.simhash/dedup_simhash exactly."""
    votes = ",\n         ".join(
        f"sum(CASE WHEN (wh >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(60)
    )
    bits = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(60))
    return f"""
WITH w AS (
  SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
), h AS (
  SELECT id, {_md5_60_sql('word')} AS wh FROM w
), v AS (
  SELECT id,
         {votes}
  FROM h GROUP BY id
), s AS (
  SELECT id, {bits} AS simhash FROM v
), bkt AS (
  SELECT id, simhash, t.tbl, (simhash >> (t.tbl * 15)) & 32767 AS bucket
  FROM s, (SELECT unnest(range(4)) AS tbl) t
), pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""


def _dataset_split_sql() -> str:
    """Oracle for q_dataset_split: the CASE over cumulative integer
    thresholds is emitted by the SAME helper the operator's docstring
    pins (plans.sampling.split_thresholds_sql), so the two can never
    drift — identical salt, identical md5-60 bucket, identical
    threshold rounding."""
    from scotty_window_processor_spark.plans.sampling import split_thresholds_sql

    case = split_thresholds_sql("doc_id", _SPLITS)
    return f"""
SELECT {case} AS split, lang,
       count(*) AS n_docs, sum(n_chars) AS sum_chars
FROM documents GROUP BY 1, 2
"""


def _decontaminate_sql() -> str:
    """Oracle for q_decontaminate: the split CASE comes from the SAME
    helper the operator pins (plans.sampling.split_thresholds_sql), and
    the trigram shingles are the string twins of the xxhash64 keys the
    Spark side joins on (distinct-set cardinalities are 1:1 up to 64-bit
    collisions, as in the ngram-Jaccard gate)."""
    from scotty_window_processor_spark.plans.sampling import split_thresholds_sql

    case = split_thresholds_sql("doc_id", _SPLITS)
    return f"""
WITH assigned AS (
  SELECT doc_id, text, {case} AS split FROM documents
), sh AS (
  SELECT doc_id, split,
         list_distinct([
           array_to_string(words[i:i+2], ' ')
           FOR i IN range(1, greatest(len(words) - 2, 1) + 1)
         ]) AS shingles
  FROM (
    SELECT doc_id, split,
           string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
    FROM assigned
  )
), ev AS (
  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE split = 'test'
), expl AS (
  SELECT doc_id, len(shingles) AS n_ngrams, unnest(shingles) AS sh
  FROM sh WHERE split = 'train'
), m AS (
  SELECT e.doc_id, e.n_ngrams, count(v.s) AS n_matched
  FROM expl e LEFT JOIN ev v ON e.sh = v.s
  GROUP BY 1, 2
)
SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
       CAST(n_matched AS BIGINT) AS n_matched,
       round(n_matched * 1.0 / n_ngrams, 6) AS contamination,
       (n_matched * 1.0 / n_ngrams) >= {_DECON_THRESHOLD} AS contaminated
FROM m
"""


# the PII-injection concat, shared textually by the pii_scrub oracle; the
# Spark twin is _augmented_docs (same arms, same lpad widths, same order)
_AUG_TEXT_SQL = """text
  || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END
  || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"""


def _pii_scrub_sql() -> str:
    """Oracle for q_pii_scrub: patterns interpolated from the SAME
    PII_PATTERNS tuple the operator compiles (restricted to syntax with
    identical Java-regex/RE2 semantics), counts on the original text,
    redaction applied in the same declaration order."""
    from scotty_window_processor_spark.plans.hygiene import PII_PATTERNS

    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    clean = "text"
    for _, pat, token in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{token}', 'g')"
    return f"""
WITH aug AS (
  SELECT doc_id, {_AUG_TEXT_SQL} AS text FROM documents
)
SELECT doc_id,
       {counts},
       {clean} AS clean_text
FROM aug
"""


_REPETITION_SIGNALS = """
WITH w AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
  FROM documents
), wc AS (
  SELECT doc_id, tok, count(*) AS cnt FROM w GROUP BY 1, 2
), wr AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok ASC) AS rk FROM wc
), ws AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct_words,
         max(CASE WHEN rk = 1 THEN tok END) AS top_word,
         max(CASE WHEN rk = 1 THEN cnt END) AS topc
  FROM wr GROUP BY 1
), b AS (
  SELECT doc_id,
         unnest([array_to_string(words[i:i+1], ' ') FOR i IN range(1, len(words))]) AS tok
  FROM (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
    FROM documents
  )
), bc AS (
  SELECT doc_id, tok, count(*) AS cnt FROM b GROUP BY 1, 2
), br AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok ASC) AS rk FROM bc
), bs AS (
  SELECT doc_id, sum(cnt) AS bi_total,
         max(CASE WHEN rk = 1 THEN tok END) AS top_bigram,
         max(CASE WHEN rk = 1 THEN cnt END) AS bc_top
  FROM br GROUP BY 1
)
SELECT ws.doc_id, n_words, n_distinct_words,
       round(1 - n_distinct_words * 1.0 / n_words, 6) AS dup_word_frac,
       top_word, round(topc * 1.0 / n_words, 6) AS top_word_frac,
       top_bigram,
       coalesce(round(bc_top * 1.0 / bi_total, 6), 0.0) AS top_bigram_frac
FROM ws LEFT JOIN bs USING (doc_id)
"""


_STREAM_DEDUP_EXACT = """
SELECT user_id, event_type, event_id AS first_event_id
FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
"""


_TRANSCRIPT_AUDIT = """
WITH t AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms,
         lag(epoch_ms(ts)) OVER w AS prev_ts,
         lag(event_type) OVER w AS prev_kind
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_kinds,
       CAST(max(ts_ms) - min(ts_ms) AS BIGINT) AS span_ms,
       CAST(sum(CASE WHEN ts_ms - prev_ts < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_inversions,
       CAST(sum(CASE WHEN ts_ms - prev_ts = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_dups,
       CAST(max(CASE WHEN ts_ms - prev_ts > 0 THEN ts_ms - prev_ts END) AS BIGINT) AS max_gap_ms,
       CAST(sum(CASE WHEN ts_ms - prev_ts > 1800000 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN event_type = prev_kind THEN 1 ELSE 0 END) AS BIGINT) AS n_kind_repeats
FROM t GROUP BY user_id
"""


def _global_shuffle_sql() -> str:
    """Oracle for q_global_shuffle: the identical md5-60 order key
    (plans.portable_hash contract), shard = key mod n_shards, pos =
    rank within shard by (key, doc_id)."""
    key = _md5_60_sql("'shuffle-v1' || cast(doc_id as varchar)")
    return f"""
SELECT doc_id,
       CAST(({key}) % {_SHUF_SHARDS} AS INTEGER) AS shard,
       CAST(row_number() OVER (
            PARTITION BY ({key}) % {_SHUF_SHARDS}
            ORDER BY ({key}), doc_id) AS BIGINT) AS pos
FROM documents
"""


def _stratified_sample_sql() -> str:
    """Oracle for q_stratified_sample: per-stratum keep-rate by exact
    integer division (DuckDB ``//`` == Spark ``div``), same salt and
    md5-60 bucket as plans.sampling.stratified_sample_cap."""
    from scotty_window_processor_spark.plans.sampling import DENOM

    salted = "'sample-v1' || cast(doc_id as varchar)"
    bucket = f"(({_md5_60_sql(salted)}) % {DENOM})"
    return f"""
WITH sizes AS (
  SELECT lang, source, count(*) AS sz FROM documents GROUP BY 1, 2
)
SELECT d.lang, d.source,
       count(*) AS n_kept, sum(d.n_chars) AS sum_chars
FROM documents d JOIN sizes s USING (lang, source)
WHERE {bucket} < least({DENOM}, {_SAMPLE_CAP * DENOM} // s.sz)
GROUP BY 1, 2
"""


def _mixture_by_lang_sql() -> str:
    """Oracle for q_mixture_by_lang: kept-row membership SQL is emitted
    by the SAME helper the operator pins (plans.sampling.
    mixture_kept_sql) — identical salt, bucket, and 64-bit integer
    threshold arithmetic — then aggregated per lang."""
    from scotty_window_processor_spark.plans.sampling import mixture_kept_sql

    kept = mixture_kept_sql("documents", "lang", _MIX_WEIGHTS, "doc_id")
    return f"""
SELECT lang, count(*) AS n_kept, sum(n_chars) AS sum_chars
FROM ({kept}) kept GROUP BY 1
"""


def _stratified_sample_exact_sql() -> str:
    """Oracle for q_stratified_sample_exact: the same stable total order
    (md5-60 bucket, doc_id) ranked per (lang, source) — row_number is
    deterministic because doc_id is unique within a stratum."""
    from scotty_window_processor_spark.plans.sampling import DENOM

    salted = "'sample-v1' || cast(doc_id as varchar)"
    bucket = f"(({_md5_60_sql(salted)}) % {DENOM})"
    return f"""
SELECT lang, source, doc_id, sample_rank, n_chars FROM (
  SELECT lang, source, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY {bucket}, doc_id) AS sample_rank
  FROM documents
) ranked WHERE sample_rank <= {_EXACT_K}
"""


def _pack_documents_sql() -> str:
    """Oracle for q_pack_documents: the layout SQL is emitted by the
    SAME helper the operator pins (plans.packing.pack_sequences_sql) —
    identical shard hash, layout order, and chunk arithmetic."""
    from scotty_window_processor_spark.plans.packing import pack_sequences_sql

    laid = pack_sequences_sql(
        "documents", "doc_id", "n_chars", _PACK_CTX, n_shards=_PACK_SHARDS
    )
    return f"""
SELECT doc_id, pack_shard, pack_start, pack_seq, pack_cross
FROM ({laid}) packed
"""


def _weighted_sample_sql() -> str:
    """Oracle for q_weighted_sample: identical integer-millionths weight
    (DuckDB ``//`` == Spark ``div`` on the non-negative operands) over
    the identical md5-60 bucket."""
    from scotty_window_processor_spark.plans.sampling import DENOM

    salted = "'wsample-v1' || cast(doc_id as varchar)"
    bucket = f"(({_md5_60_sql(salted)}) % {DENOM})"
    w = f"least({DENOM}, (n_chars * {DENOM}) // {_WSAMPLE_SCALE})"
    return f"""
SELECT lang, source, count(*) AS n_kept, sum(n_chars) AS sum_chars
FROM documents WHERE {bucket} < {w}
GROUP BY 1, 2
"""


def _gram_chain_sql(arr: str, i: str, n: int, a: int, p: int) -> str:
    """The portable polynomial shingle chain (plans.dedup._chain_step) as
    SQL: NULL (past-the-end) words are skipped, all intermediates < 2^62."""
    x = "0"
    for k in range(n):
        e = f"{arr}[{i}+{k}]"
        x = f"(CASE WHEN {e} IS NULL THEN {x} ELSE (({x}) * {a} % {p} + {e}) % {p} END)"
    return x


def _minhash_sig_ctes(k: int, n: int) -> str:
    """The shared CTE chain computing per-doc MinHash signatures in SQL —
    identical shingle-key chains and (a,b) hash family constants as
    plans.dedup.minhash_signatures. Yields CTEs w/docs/expl/sig where
    sig is (id, h0..h{k-1})."""
    from scotty_window_processor_spark.plans.dedup import CHAIN_A1, CHAIN_A2, PACK
    from scotty_window_processor_spark.plans.portable_hash import MINHASH_P, minhash_params

    params = minhash_params(k)
    mins = ",\n         ".join(
        f"min((hm * {a} + {b}) % {MINHASH_P}) AS h{i}" for i, (a, b) in enumerate(params)
    )
    gram = (
        f"({_gram_chain_sql('wh', 'i', n, CHAIN_A1, MINHASH_P)}) * {PACK} "
        f"+ ({_gram_chain_sql('wh', 'i', n, CHAIN_A2, MINHASH_P)})"
    )
    return f"""w AS (
  SELECT doc_id AS id,
         [{_md5_60_sql('x')} % {MINHASH_P}
          FOR x IN string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')] AS wh
  FROM documents
), docs AS (
  SELECT id,
         list_distinct([
           {gram}
           FOR i IN range(1, greatest(len(wh) - {n} + 1, 1) + 1)
         ]) AS sh
  FROM w
), expl AS (
  SELECT id, unnest(sh) % {MINHASH_P} AS hm FROM docs
), sig AS (
  SELECT id,
         {mins}
  FROM expl GROUP BY id
)"""


def _band_selects_sql(k: int, bands: int, src: str = "sig", extra: str = "") -> str:
    """UNION ALL of one SELECT per band producing (id[, extra], band,
    bucket) — the SQL twin of plans.dedup._band_buckets (bucket is the
    comma-joined value string; the Spark side xxhash64s the same string,
    collision structure identical)."""
    rows = k // bands
    return "\n  UNION ALL\n".join(
        "  SELECT id, {extra}{b} AS band, concat_ws(',', {cols}) AS bucket FROM {src}".format(
            b=b,
            extra=extra,
            src=src,
            cols=", ".join(f"h{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )


def _minhash_lsh_sql(k: int = 32, bands: int = 8, threshold: float = 0.35, n: int = 3) -> str:
    """Full MinHash+LSH+verify pipeline in SQL with the same shingle-key
    chains and (a,b) hash family constants as plans.dedup."""
    return f"""
WITH {_minhash_sig_ctes(k, n)}, bkt AS (
{_band_selects_sql(k, bands)}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bkt a JOIN bkt b USING (band, bucket)
  WHERE a.id < b.id
), verify AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(da.sh, db.sh)) AS inter,
         len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)) AS uni
  FROM cand c JOIN docs da ON c.id_a = da.id JOIN docs db ON c.id_b = db.id
)
SELECT id_a, id_b, round(inter * 1.0 / uni, 6) AS jaccard
FROM verify WHERE inter * 1.0 / uni >= {threshold}
"""


_ANN_TOPK = """
WITH c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT query_id, neighbor_id,
         round(list_inner_product(cvec, qvec)
               / (sqrt(list_inner_product(cvec, cvec)) * sqrt(list_inner_product(qvec, qvec))),
               6) AS cos
  FROM c, q WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS "rank"
  FROM scored
)
SELECT query_id, neighbor_id, "rank" FROM ranked WHERE "rank" <= 10
"""


def _ann_lsh_sql(k: int = 10, dim: int = 64, planes_per_table: int = 10, tables: int = 6) -> str:
    """Random-hyperplane LSH + exact rescoring in SQL, embedding the same
    deterministic hyperplane constants as plans.similarity._hyperplane."""
    from scotty_window_processor_spark.plans.similarity import _hyperplane

    sig_terms = []
    for t in range(tables):
        bits = " + ".join(
            f"(CASE WHEN list_inner_product(v, {_hyperplane(dim, t * planes_per_table + p)!r}"
            f"::DOUBLE[]) > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(planes_per_table)
        )
        sig_terms.append(f"SELECT id, v, {t} AS tbl, {bits} AS bucket FROM vecs")
    buckets = "\n  UNION ALL\n  ".join(sig_terms)
    return f"""
WITH vecs AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), buckets AS (
  {buckets}
), qb AS (
  SELECT * FROM buckets WHERE id < 5
), cand AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
  FROM buckets c JOIN qb q ON c.tbl = q.tbl AND c.bucket = q.bucket
  WHERE c.id <> q.id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_inner_product(cv.v, qv.v)
               / (sqrt(list_inner_product(cv.v, cv.v)) * sqrt(list_inner_product(qv.v, qv.v))),
               6) AS cos
  FROM cand JOIN vecs cv ON cand.neighbor_id = cv.id JOIN vecs qv ON cand.query_id = qv.id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS "rank"
  FROM scored
)
SELECT query_id, neighbor_id, "rank" FROM ranked WHERE "rank" <= {k}
"""


def _near_dup_sql(threshold: float = 0.2, dim: int = 64, planes_per_table: int = 10,
                  tables: int = 6, max_bucket_size: int = 128) -> str:
    """embedding_near_dup replay: same hyperplanes, all-pairs-in-bucket
    candidates restricted to buckets at or under the density cap (the
    same deterministic exclusion the Spark side applies), exact cosine
    verify."""
    from scotty_window_processor_spark.plans.similarity import _hyperplane

    sig_terms = []
    for t in range(tables):
        bits = " + ".join(
            f"(CASE WHEN list_inner_product(v, {_hyperplane(dim, t * planes_per_table + p)!r}"
            f"::DOUBLE[]) > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(planes_per_table)
        )
        sig_terms.append(f"SELECT id, {t} AS tbl, {bits} AS bucket FROM vecs")
    buckets = "\n  UNION ALL\n  ".join(sig_terms)
    return f"""
WITH vecs AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), buckets AS (
  {buckets}
), kept AS (
  SELECT tbl, bucket FROM buckets
  GROUP BY tbl, bucket HAVING count(*) <= {max_bucket_size}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a
  JOIN kept k ON a.tbl = k.tbl AND a.bucket = k.bucket
  JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.id < b.id
), scored AS (
  SELECT cand.id_a, cand.id_b,
         round(list_inner_product(va.v, vb.v)
               / (sqrt(list_inner_product(va.v, va.v)) * sqrt(list_inner_product(vb.v, vb.v))),
               6) AS cos
  FROM cand JOIN vecs va ON cand.id_a = va.id JOIN vecs vb ON cand.id_b = vb.id
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= {threshold}
"""


_FRAME_SAMPLE = f"""
WITH t AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         CASE ({_md5_60_sql('doc_id::VARCHAR')} % 3) + 1
              WHEN 1 THEN 'image/png' WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media
  FROM documents
)
SELECT doc_id, unnest(range(0, 1 + n % 120, 10)) AS frame_idx
FROM t WHERE media = 'video/mp4'
"""


_MULTIMODAL = f"""
WITH t AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         CASE ({_md5_60_sql('doc_id::VARCHAR')} % 3) + 1
              WHEN 1 THEN 'image/png' WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media
  FROM documents
)
SELECT doc_id,
       n AS byte_len,
       CASE WHEN media = 'image/png' THEN 64 + n % 640
            WHEN media = 'video/mp4' THEN 320 END AS width,
       CASE WHEN media = 'image/png' THEN 64 + (n * 7) % 480
            WHEN media = 'video/mp4' THEN 240 END AS height,
       CASE WHEN media = 'video/mp4' THEN 1 + n % 120 END AS n_frames,
       CASE media WHEN 'image/png' THEN 'png-stub'
                  WHEN 'audio/wav' THEN 'pcm-stub'
                  ELSE 'h264-stub' END AS codec
FROM t
"""

# resize stub: payload[:max(16, n//4)] at the target dims; documents are
# ASCII (verified across all SFs), so byte truncation == char truncation
# and DuckDB's VARCHAR md5 reproduces Spark's binary md5 exactly
_MULTIMODAL_RESIZE = f"""
WITH t AS (
  SELECT doc_id, text,
         octet_length(encode(text)) AS n,
         CASE ({_md5_60_sql('doc_id::VARCHAR')} % 3) + 1
              WHEN 1 THEN 'image/png' WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media
  FROM documents
)
SELECT doc_id,
       224 AS width, 224 AS height,
       md5(substr(text, 1, greatest(16, n // 4))) AS resized_md5
FROM t WHERE media = 'image/png'
"""

_MULTIMODAL_FEATURES = f"""
WITH t AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         CASE ({_md5_60_sql('doc_id::VARCHAR')} % 3) + 1
              WHEN 1 THEN 'image/png' WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media
  FROM documents
), d AS (
  SELECT doc_id, media, n,
         COALESCE(CASE WHEN media = 'image/png' THEN 64 + n % 640
                       WHEN media = 'video/mp4' THEN 320 END, 0) AS w0,
         COALESCE(CASE WHEN media = 'image/png' THEN 64 + (n * 7) % 480
                       WHEN media = 'video/mp4' THEN 240 END, 0) AS h0,
         COALESCE(CASE WHEN media = 'video/mp4' THEN 1 + n % 120 END, 0) AS nf0
  FROM t
)
SELECT doc_id, media AS media_type,
       array_to_string(list_transform(range(16), j ->
         ((n*(j+1) + w0*(j+2) + h0*(j+3) + nf0*(j+4)) % 997)::VARCHAR), ',') AS features_csv
FROM d
"""


_STREAM_JOIN_PAIRS = """
SELECT e.user_id AS user_id, e.event_id AS err_id,
       epoch_ms(p.ts) AS pur_ts_ms, round(p.value, 2) AS pur_value
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND p.ts > e.ts
     AND p.ts <= e.ts + INTERVAL '1 hour'
"""


def _ann_ivf_sql(k: int = 10, n_centroids: int = 16, n_probe: int = 2) -> str:
    """IVF replay: identical centroid set (corpus head), assignment
    (round-6 cosine, ties to smallest cid) and probe selection as
    plans.similarity.ann_cosine_ivf."""
    cos = (
        "round(list_inner_product({v}, cv)"
        " / (sqrt(list_inner_product({v}, {v})) * sqrt(list_inner_product(cv, cv))), 6)"
    )
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < {n_centroids}
), corp AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec FROM embeddings
), assign AS (
  SELECT neighbor_id, cid,
         row_number() OVER (PARTITION BY neighbor_id
                            ORDER BY {cos.format(v='cvec')} DESC, cid) AS rn
  FROM corp, cent
), a1 AS (
  SELECT neighbor_id, cid FROM assign WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5
), probe AS (
  SELECT query_id, cid,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {cos.format(v='qvec')} DESC, cid) AS rn
  FROM q, cent
), p1 AS (
  SELECT query_id, cid FROM probe WHERE rn <= {n_probe}
), scored AS (
  SELECT p1.query_id, a1.neighbor_id,
         round(list_inner_product(c.cvec, qq.qvec)
               / (sqrt(list_inner_product(c.cvec, c.cvec))
                  * sqrt(list_inner_product(qq.qvec, qq.qvec))), 6) AS cos
  FROM p1 JOIN a1 USING (cid)
       JOIN corp c ON c.neighbor_id = a1.neighbor_id
       JOIN q qq ON qq.query_id = p1.query_id
  WHERE a1.neighbor_id <> p1.query_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS "rank"
  FROM scored
)
SELECT query_id, neighbor_id, "rank" FROM ranked WHERE "rank" <= {k}
"""


_CEP_FUNNEL = """
WITH o AS (
  SELECT user_id, epoch_ms(ts) AS t0, event_type AS y0, event_id AS e0,
         lead(event_type, 1) OVER w AS y1, lead(event_id, 1) OVER w AS e1,
         lead(event_type, 2) OVER w AS y2, lead(event_id, 2) OVER w AS e2,
         lead(epoch_ms(ts), 2) OVER w AS t2
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, t0 AS w_start, t2 AS w_end,
       e0 AS s0_event_id, e1 AS s1_event_id, e2 AS s2_event_id
FROM o
WHERE y0 = 'view' AND y1 = 'click' AND y2 = 'purchase'
  AND t2 - t0 <= 604800000
"""

# live-add gate: window 1 (tumbling 1h) in full; window 2 (tumbling 30m,
# added to the RUNNING query after phase 1 drains) for instances fully
# past the phase-boundary watermark — recomputed here from the same
# deterministic ts-midpoint split the harness uses (a pure ts-value
# predicate: no row ordering or tie-break enters the boundary)
_LIVE_ADD = """
WITH span AS (
  SELECT epoch_ms(min(ts)) AS mn, epoch_ms(max(ts)) AS mx FROM events
), wmv AS (
  SELECT epoch_ms(max(ts)) - 30000 AS add_wm
  FROM events
  WHERE epoch_ms(ts) <= (SELECT mn + (mx - mn) // 2 FROM span)
)
SELECT user_id, CAST(1 AS BIGINT) AS window_id,
       epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS w_start,
       epoch_ms(time_bucket(INTERVAL '1 hour', ts)) + 3600000 AS w_end,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id, time_bucket(INTERVAL '1 hour', ts)
UNION ALL
SELECT user_id, CAST(2 AS BIGINT) AS window_id,
       epoch_ms(time_bucket(INTERVAL '30 minutes', ts)) AS w_start,
       epoch_ms(time_bucket(INTERVAL '30 minutes', ts)) + 1800000 AS w_end,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY user_id, time_bucket(INTERVAL '30 minutes', ts)
HAVING epoch_ms(time_bucket(INTERVAL '30 minutes', ts)) >= (SELECT add_wm FROM wmv)
"""

# quantified funnel view -> click{1,3} -> purchase, GREEDY priority: the
# CASE tries the longest expansion first, so per start row the most clicks
# win — the same total order match_pattern_quantified's chained whens induce
_CEP_RETRY_FUNNEL = """
WITH o AS (
  SELECT user_id, epoch_ms(ts) AS t0, event_type AS y0,
         lead(event_type, 1) OVER w AS y1, lead(epoch_ms(ts), 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS y2, lead(epoch_ms(ts), 2) OVER w AS t2,
         lead(event_type, 3) OVER w AS y3, lead(epoch_ms(ts), 3) OVER w AS t3,
         lead(event_type, 4) OVER w AS y4, lead(epoch_ms(ts), 4) OVER w AS t4
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), m AS (
  SELECT user_id, t0, t2, t3, t4,
    CASE
      WHEN y0='view' AND y1='click' AND y2='click' AND y3='click'
           AND y4='purchase' AND t4 - t0 <= 604800000 THEN 5
      WHEN y0='view' AND y1='click' AND y2='click'
           AND y3='purchase' AND t3 - t0 <= 604800000 THEN 4
      WHEN y0='view' AND y1='click'
           AND y2='purchase' AND t2 - t0 <= 604800000 THEN 3
    END AS match_len
  FROM o
)
SELECT user_id, t0 AS w_start,
       CASE match_len WHEN 5 THEN t4 WHEN 4 THEN t3 ELSE t2 END AS w_end,
       CAST(match_len AS BIGINT) AS match_len,
       CAST(match_len - 2 AS BIGINT) AS n_clicks
FROM m WHERE match_len IS NOT NULL
"""

# capture variant: the oracle recovers per-consumed-row payloads by a
# positional self-join (rn BETWEEN start AND start+len-1) — the Spark
# plan does it join-free (capture arrays inside the lead()-family CASE,
# then one posexplode). step attribution for (view, click{1,3},
# purchase): offset 0 is step 0, the last offset is step 2, everything
# between is step 1 with repeat_idx = offset-1.
_CEP_RETRY_CAPTURE = """
WITH r AS (
  SELECT user_id, event_type, event_id, epoch_ms(ts) AS tms,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events
), o AS (
  SELECT user_id, pos, tms AS t0, event_type AS y0,
         lead(event_type, 1) OVER w AS y1, lead(tms, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS y2, lead(tms, 2) OVER w AS t2,
         lead(event_type, 3) OVER w AS y3, lead(tms, 3) OVER w AS t3,
         lead(event_type, 4) OVER w AS y4, lead(tms, 4) OVER w AS t4
  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY pos)
), m AS (
  SELECT user_id, pos, t0, t2, t3, t4,
    CASE
      WHEN y0='view' AND y1='click' AND y2='click' AND y3='click'
           AND y4='purchase' AND t4 - t0 <= 604800000 THEN 5
      WHEN y0='view' AND y1='click' AND y2='click'
           AND y3='purchase' AND t3 - t0 <= 604800000 THEN 4
      WHEN y0='view' AND y1='click'
           AND y2='purchase' AND t2 - t0 <= 604800000 THEN 3
    END AS match_len
  FROM o
), mm AS (
  SELECT user_id, pos, t0 AS w_start,
         CASE match_len WHEN 5 THEN t4 WHEN 4 THEN t3 ELSE t2 END AS w_end,
         match_len
  FROM m WHERE match_len IS NOT NULL
)
SELECT mm.user_id, mm.w_start, mm.w_end,
       CAST(mm.match_len AS BIGINT) AS match_len,
       CAST(1 AS BIGINT) AS s0_n,
       CAST(mm.match_len - 2 AS BIGINT) AS s1_n,
       CAST(1 AS BIGINT) AS s2_n,
       CAST(e.pos - mm.pos AS BIGINT) AS offset,
       CAST(CASE WHEN e.pos = mm.pos THEN 0
                 WHEN e.pos = mm.pos + mm.match_len - 1 THEN 2
                 ELSE 1 END AS BIGINT) AS step_idx,
       CAST(CASE WHEN e.pos = mm.pos THEN 0
                 WHEN e.pos = mm.pos + mm.match_len - 1 THEN 0
                 ELSE e.pos - mm.pos - 1 END AS BIGINT) AS repeat_idx,
       e.event_type, e.event_id
FROM mm JOIN r e
  ON e.user_id = mm.user_id
 AND e.pos BETWEEN mm.pos AND mm.pos + mm.match_len - 1
"""


# unbounded possessive retry funnel: view click+ purchase. The run
# terminator is the first non-click position after each row (running min
# over the UNBOUNDED FOLLOWING frame), fetched back by a pos self-join —
# the oracle may join; the Spark plan does it join-free with min(struct)
_CEP_UNBOUNDED = """
WITH o AS (
  SELECT user_id, event_type, epoch_ms(ts) AS tms,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events
), nxt AS (
  SELECT user_id, pos, tms, event_type,
         min(CASE WHEN event_type <> 'click' THEN pos END)
           OVER (PARTITION BY user_id ORDER BY pos
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS q
  FROM o
)
SELECT s.user_id, s.tms AS w_start, p.tms AS w_end,
       CAST(p.pos - s.pos - 1 AS BIGINT) AS n_clicks
FROM nxt s JOIN o p ON p.user_id = s.user_id AND p.pos = s.q
WHERE s.event_type = 'view' AND p.event_type = 'purchase'
  AND p.pos - s.pos - 1 >= 1 AND p.tms - s.tms <= 604800000
"""


_INCR_NEW_MOD = 4  # doc_id % 4 == 0 → "new batch", else "existing corpus"


def _incremental_sql(k: int = 32, bands: int = 8, threshold: float = 0.35, n: int = 3) -> str:
    """Oracle for q_dedup_incremental: identical signature CTEs, band
    split, new/old orientation, and INTEGER agreement cut (matching
    components >= ceil(threshold*k)) as plans.dedup.dedup_incremental."""
    min_match = -(-int(threshold * k * 1_000_000) // 1_000_000)
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
WITH {_minhash_sig_ctes(k, n)}, tagged AS (
  SELECT *, CASE WHEN id % {_INCR_NEW_MOD} = 0 THEN 1 ELSE 0 END AS is_new FROM sig
), bkt AS (
{_band_selects_sql(k, bands, src="tagged", extra="is_new, ")}
), cand AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_match,
         CASE WHEN b.is_new = 1 THEN 'batch' ELSE 'index' END AS match_src
  FROM bkt a JOIN bkt b USING (band, bucket)
  WHERE a.is_new = 1
    AND (b.is_new = 0 OR a.id < b.id)
), ver AS (
  SELECT c.id_new, c.id_match, c.match_src,
         ({agree}) AS mc
  FROM cand c JOIN sig sa ON c.id_new = sa.id JOIN sig sb ON c.id_match = sb.id
)
SELECT id_new, id_match, match_src, round(mc * 1.0 / {k}, 6) AS est_jaccard
FROM ver WHERE mc >= {min_match}
"""


def _chunk_documents_sql(cw: int = _CHUNK_W, ov: int = _CHUNK_OV) -> str:
    """Oracle for q_chunk_documents: identical normalized split, identical
    integer ceil-div chunk count and offsets (DuckDB // is integer
    division; list slicing is 1-based inclusive and clamps at len, same
    as Spark's slice(start, length) on a shorter tail)."""
    st = cw - ov
    return f"""
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
  FROM documents
), m AS (
  SELECT doc_id, words, len(words) AS n,
         greatest(1, (len(words) - {ov} + {st - 1}) // {st}) AS n_chunks
  FROM w
), e AS (
  SELECT doc_id, words, n, n_chunks,
         unnest(range(n_chunks)) AS chunk_idx
  FROM m
)
SELECT doc_id, chunk_idx, n_chunks,
       chunk_idx * {st} AS chunk_start_word,
       least({cw}, n - chunk_idx * {st}) AS chunk_n_words,
       array_to_string(words[chunk_idx * {st} + 1 : chunk_idx * {st} + {cw}], ' ') AS chunk_text
FROM e
"""


_ASOF_TOLERANCE = f"""
WITH views AS (
  SELECT user_id, ts AS view_ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
), purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), matched AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ts, v.view_id,
         epoch_ms(p.purchase_ts) - epoch_ms(v.view_ts) AS lag_ms
  FROM purchases p
  ASOF LEFT JOIN views v
    ON p.user_id = v.user_id AND p.purchase_ts >= v.view_ts
)
SELECT purchase_id, user_id, purchase_ts,
       CASE WHEN lag_ms <= {_ASOF_TOL_MS} THEN view_id ELSE -1 END AS view_id,
       CASE WHEN lag_ms <= {_ASOF_TOL_MS} THEN lag_ms ELSE -1 END AS lag_ms
FROM matched
"""


def _cluster_canonical_sql() -> str:
    """Connected components over the bit-exact MinHash pair SQL via a
    recursive min-label CTE (reach(id, label): label is reachable from
    id; min per id = component representative), then the same
    assignment/size/canonical projection as plans.dedup."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.id
),
cc AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
assigned AS (
  SELECT d.doc_id, coalesce(cc.label, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM assigned GROUP BY cluster_id)
SELECT a.doc_id, a.cluster_id, s.cluster_size,
       CASE WHEN a.doc_id = a.cluster_id THEN 1 ELSE 0 END AS is_canonical
FROM assigned a JOIN sizes s USING (cluster_id)
"""


_ASOF_VIEW_PURCHASE = """
WITH views AS (
  SELECT user_id, ts AS view_ts, max(event_id) AS view_id,
         arg_max(value, event_id) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
), purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, p.purchase_ts,
       coalesce(v.view_id, -1) AS view_id,
       coalesce(v.view_ts, TIMESTAMP '1970-01-01') AS view_ts,
       coalesce(epoch_us(p.purchase_ts) - epoch_us(v.view_ts), -1) AS lag_us,
       coalesce(round(v.view_value, 6), -1.0) AS view_value
FROM purchases p
ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND p.purchase_ts >= v.view_ts
"""


def oracle_sql() -> dict[str, str]:
    return {
        "tumbling_1h": _TUMBLING_1H,
        "sliding_1h_15m": _SLIDING_1H_15M,
        "session_30m": _SESSION_30M,
        "presplit_session_30m": _SESSION_30M,
        "routed_session_30m": _SESSION_30M,
        "count_tumbling_25": _COUNT_TUMBLING_25,
        "scotty_multiwindow": _MULTIWINDOW,
        "scotty_session_kernel": _SESSION_KERNEL,
        "scotty_quantile_kernel": _QUANTILE_KERNEL,
        "scotty_histq_kernel": _HISTQ_KERNEL,
        "scotty_distinct_kernel": _DISTINCT_KERNEL,
        "scotty_payload_kernel": _PAYLOAD_KERNEL,
        "scotty_global_kernel": _GLOBAL_KERNEL,
        "count_sliding_50_25": _COUNT_SLIDING_50_25,
        "ordered_rollup": _ORDERED_ROLLUP,
        "salted_tumbling": _TUMBLING_1H,
        "pricing_summary": _PRICING_SUMMARY,
        "revenue_by_nation": _REVENUE_BY_NATION,
        "revenue_cube": _REVENUE_CUBE,
        "interval_join_1h": _INTERVAL_JOIN_1H,
        "top_purchase_users": _TOP_PURCHASE_USERS,
        "dedup_exact": _DEDUP_EXACT,
        "dedup_ngram_jaccard": _NGRAM_JACCARD,
        "dedup_minhash_lsh": _minhash_lsh_sql(),
        "dedup_simhash": _simhash_sql(),
        "dedup_cluster_canonical": _cluster_canonical_sql(),
        "dedup_incremental": _incremental_sql(),
        "asof_view_purchase": _ASOF_VIEW_PURCHASE,
        "asof_tolerance": _ASOF_TOLERANCE,
        "stream_asof_view_purchase": _ASOF_VIEW_PURCHASE,
        "dataset_split": _dataset_split_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "mixture_by_lang": _mixture_by_lang_sql(),
        "stratified_sample_exact": _stratified_sample_exact_sql(),
        "pack_documents": _pack_documents_sql(),
        "weighted_sample": _weighted_sample_sql(),
        "decontaminate": _decontaminate_sql(),
        "pii_scrub": _pii_scrub_sql(),
        "repetition_signals": _REPETITION_SIGNALS,
        "global_shuffle": _global_shuffle_sql(),
        "transcript_audit": _TRANSCRIPT_AUDIT,
        "chunk_documents": _chunk_documents_sql(),
        "text_quality": _TEXT_QUALITY,
        "token_count": _TOKEN_COUNT,
        "language_id": _LANGUAGE_ID,
        "doc_fingerprint": _FINGERPRINT,
        "ann_cosine_topk": _ANN_TOPK,
        "ann_cosine_lsh": _ann_lsh_sql(),
        "ann_cosine_ivf": _ann_ivf_sql(),
        "embedding_near_dup": _near_dup_sql(),
        "multimodal_decode": _MULTIMODAL,
        "multimodal_resize": _MULTIMODAL_RESIZE,
        "multimodal_features": _MULTIMODAL_FEATURES,
        "frame_sample": _FRAME_SAMPLE,
        # the streaming replays must emit EXACTLY the batch oracle rows
        # (sentinel-flushed final watermark covers every window)
        "stream_tumbling_1h": _TUMBLING_1H,
        "stream_session_30m": _SESSION_30M,
        "stream_quantile_6h": _QUANTILE_KERNEL,
        "stream_payload_6h": _PAYLOAD_KERNEL,
        "cep_funnel": _CEP_FUNNEL,
        "stream_dedup_exact": _STREAM_DEDUP_EXACT,
        "stream_cep_funnel": _CEP_FUNNEL,
        "cep_retry_funnel": _CEP_RETRY_FUNNEL,
        "stream_cep_retry_funnel": _CEP_RETRY_FUNNEL,
        "cep_retry_funnel_capture": _CEP_RETRY_CAPTURE,
        "stream_cep_retry_funnel_capture": _CEP_RETRY_CAPTURE,
        "cep_unbounded_retry": _CEP_UNBOUNDED,
        "stream_cep_unbounded_retry": _CEP_UNBOUNDED,
        "stream_tumbling_restart": _TUMBLING_1H,
        "stream_payload_restart": _PAYLOAD_KERNEL,
        "stream_live_add": _LIVE_ADD,
        "stream_interval_join": _STREAM_JOIN_PAIRS,
        "stream_global_6h": _GLOBAL_KERNEL,
        "stream_sliding_1h_15m": _SLIDING_1H_15M,
        "stream_count_tumbling_25": _COUNT_TUMBLING_25,
        "stream_distinct_6h": _DISTINCT_KERNEL,
    }

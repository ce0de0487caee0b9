"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: multi-window shared-slice aggregation over the
                 synthesized transcripts table (the engine's core workload).
queries()      — one entry per implemented operator (SURVEY.md §2), each
                 (spark, sf_dir) → DataFrame over the driver testdata
                 tables.
oracle_sql()   — DuckDB-checkable ANSI SQL equivalents, one per query.
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
    _utc(spark)
    from scotty_window_processor_spark.operators import SlidingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.windowed import window_aggregate

    return window_aggregate(
        _events(spark, sf_dir), "user_id", "ts", SlidingWindow(WindowMeasure.TIME, 3_600_000, 900_000),
        {"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
    )


def q_session_30m(spark, sf_dir):
    _utc(spark)
    from scotty_window_processor_spark.operators import SessionWindow, WindowMeasure
    from scotty_window_processor_spark.plans.windowed import window_aggregate

    return window_aggregate(
        _events(spark, sf_dir), "user_id", "ts", SessionWindow(WindowMeasure.TIME, 30 * 60_000),
        {"n": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)},
    )


def q_count_tumbling_25(spark, sf_dir):
    """Count-measure TUMBLING windows (size 25) through the engine: each
    key's rows in (ts, event_id) order, and only full windows fire."""
    _utc(spark)
    from scotty_window_processor_spark.functions import SumAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    out = scotty_window_aggregate(
        _events(spark, sf_dir), key="user_id", ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.COUNT, 25)],
        aggs=[("sum_value", "double", SumAggregation)],
        arrival_order="event_id",
    )
    return out.select(
        "user_id",
        F.col("w_start").alias("c_start"),
        F.col("w_end").alias("c_end"),
        F.round("sum_value", 2).alias("sum_value"),
    )


def q_scotty_multiwindow(spark, sf_dir):
    """Two concurrent tumbling windows through ONE pass of the batch
    slicer (shared slices) — the reference's aggregate-sharing headline.
    prefer_catalyst=False keeps it there: with two families and standard
    aggregates the planner would run them as two Catalyst subplans."""
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
        prefer_catalyst=False,
    )
    return out.select(
        "user_id", "window_id", "w_start", "w_end", "n", F.round("sum_value", 2).alias("sum_value")
    )


def q_scotty_session_kernel(spark, sf_dir):
    """Session windows through the batch slicer (gaps-and-islands; the
    exact quantile's value→count partial lifted once per session), not
    Catalyst's F.session_window: prefer_catalyst=False, since every
    aggregate here has a built-in."""
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
        prefer_catalyst=False,
    )
    return out.select(
        "user_id", "w_start", "w_end", "n",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("median_value", 2).alias("median_value"),
    )


def q_scotty_quantile_kernel(spark, sf_dir):
    """Custom lift/combine/lower aggregate (exact median over a value→count
    histogram, QuantileWindowFunction analogue) through the batch slicer
    (one partial per shared slice, cloned before combining), not its
    Catalyst expression: prefer_catalyst=False."""
    _utc(spark)
    from scotty_window_processor_spark.functions import CountAggregation, QuantileAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate

    out = scotty_window_aggregate(
        _events(spark, sf_dir), key="user_id", ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H)],
        aggs=[("n", "long", CountAggregation), ("median_value", "double", QuantileAggregation)],
        prefer_catalyst=False,
    )
    return out.select("user_id", "w_start", "w_end", "n", F.round("median_value", 2).alias("median_value"))


def q_scotty_histq_kernel(spark, sf_dir):
    """BOUNDED-STATE histogram quantile (bin width 0.25) through the
    batch slicer — the O(range/width) partial that replaces the exact
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
    )
    return out.select(
        "user_id", "w_start", "w_end", "n", F.round("p50_bin", 2).alias("p50_bin")
    )


def q_scotty_distinct_kernel(spark, sf_dir):
    """BOUNDED-STATE approximate distinct count (linear counting, position
    ``int(md5(str(v)).hexdigest()[:15], 16) % m``) through the batch
    slicer's record mode: occupied-position sets merge by union across slices,
    estimate −m·ln((m−occ)/m) — exactly reproducible in SQL from the
    oracle's count(DISTINCT ('0x' || left(md5(props), 15))::BIGINT % 1024).
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
    )
    return out.select(
        "user_id", "w_start", "w_end", "n", F.round("distinct_est", 2).alias("distinct_est")
    )


def q_scotty_payload_kernel(spark, sf_dir):
    """The north-star transcript payload aggregates (tool-call tally +
    per-role ordered text rollup) through the batch slicer's record mode
    (value=None, bulk record lifts per shared slice), oracle-gated.
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
    )
    return out.select("user_id", "w_start", "w_end", "n", "tool_tally", "role_rollup")


def q_scotty_global_kernel(spark, sf_dir):
    """Global (non-keyed) operator — GlobalScottyWindowOperator analogue —
    with the exact quantile, through the batch slicer over one constant
    key rather than the quantile's Catalyst expression
    (prefer_catalyst=False)."""
    _utc(spark)
    from scotty_window_processor_spark.functions import CountAggregation, QuantileAggregation
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.scotty_batch import scotty_global_aggregate

    out = scotty_global_aggregate(
        _events(spark, sf_dir), ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H)],
        aggs=[("n", "long", CountAggregation), ("median_value", "double", QuantileAggregation)],
        prefer_catalyst=False,
    )
    return out.select("w_start", "w_end", "n", F.round("median_value", 2).alias("median_value"))


def q_count_sliding_50_25(spark, sf_dir):
    """Count-measure SLIDING windows (size 50, slide 25) through the
    engine (count slices + positional trigger semantics). Only full
    windows fire: a window fires once its end count has arrived."""
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
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.windowed import window_aggregate

    event_seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ),
        ":",
    )
    return window_aggregate(
        _events(spark, sf_dir), "user_id", "ts", TumblingWindow(WindowMeasure.TIME, 6 * SIZE_H),
        {"event_seq": event_seq, "n": F.count(F.lit(1))},
    )


def q_salted_tumbling(spark, sf_dir):
    """Skew-safe two-level tumbling aggregation: the Catalyst window plan
    per (key, salt) partial, then one combine per (key, window)."""
    _utc(spark)
    from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure
    from scotty_window_processor_spark.plans.skew import salted_window_aggregate

    return salted_window_aggregate(
        _events(spark, sf_dir), "user_id", "ts", TumblingWindow(WindowMeasure.TIME, 3_600_000),
        partials={"pn": F.count(F.lit(1)), "ps": F.sum("value")},
        finals={"n": F.sum("pn"), "sum_value": F.round(F.sum("ps"), 2)},
        n_salts=8,
    )


# --------------------------------------------------------------------------
# joins and the transcript audit over `events`


def q_interval_join_1h(spark, sf_dir):
    _utc(spark)
    from scotty_window_processor_spark.plans.relational import interval_self_join

    return interval_self_join(_events(spark, sf_dir), SIZE_H)


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
    # secondary sort on event_id (when present): ts-tied rows otherwise
    # arrive in an arbitrary order, while the oracles break ties by
    # (ts, event_id) — current testdata has no such ties, but the stable
    # key removes the hazard at any scale factor (ADVICE r5)
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
    The {1,1} case of the quantified matcher: one exchange + one sort
    feed the whole lead() family; predicate and span bound are
    whole-stage codegen (plans/cep.py)."""
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


def q_stream_cep_funnel(spark, sf_dir):
    """Streaming replay of the same funnel through the stateful CEP
    operator (streaming/cep.py, the bounded-pattern handler on {1,1}
    steps): per-key state carries undecided starts across micro-batches;
    each match is emitted exactly once when its last row is finalized by
    the watermark. Gated against the same lead()-based DuckDB oracle as
    the batch query."""
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
    # Every gate has an oracle_sql() entry of the same name. The
    # correctness record keeps only the first 50 entries of this dict
    # (CORRECTNESS_r06.json has exactly 50), so it stays at 50 or fewer
    # and every gate is recorded; tests/test_imports.py pins both.
    return {
        "tumbling_1h": q_tumbling_1h,
        "sliding_1h_15m": q_sliding_1h_15m,
        "session_30m": q_session_30m,
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
        "interval_join_1h": q_interval_join_1h,
        "asof_view_purchase": q_asof_view_purchase,
        "asof_tolerance": q_asof_tolerance,
        "stream_asof_view_purchase": q_stream_asof_view_purchase,
        "stream_tumbling_1h": q_stream_tumbling_1h,
        "stream_session_30m": q_stream_session_30m,
        "stream_quantile_6h": q_stream_quantile_6h,
        "stream_payload_6h": q_stream_payload_6h,
        "cep_funnel": q_cep_funnel,
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
        "transcript_audit": q_transcript_audit,
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


_STREAM_JOIN_PAIRS = """
SELECT e.user_id AS user_id, e.event_id AS err_id,
       epoch_ms(p.ts) AS pur_ts_ms, round(p.value, 2) AS pur_value
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND p.ts > e.ts
     AND p.ts <= e.ts + INTERVAL '1 hour'
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
        "interval_join_1h": _INTERVAL_JOIN_1H,
        "asof_view_purchase": _ASOF_VIEW_PURCHASE,
        "asof_tolerance": _ASOF_TOLERANCE,
        "stream_asof_view_purchase": _ASOF_VIEW_PURCHASE,
        "transcript_audit": _TRANSCRIPT_AUDIT,
        # the streaming replays must emit EXACTLY the batch oracle rows
        # (sentinel-flushed final watermark covers every window)
        "stream_tumbling_1h": _TUMBLING_1H,
        "stream_session_30m": _SESSION_30M,
        "stream_quantile_6h": _QUANTILE_KERNEL,
        "stream_payload_6h": _PAYLOAD_KERNEL,
        "cep_funnel": _CEP_FUNNEL,
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

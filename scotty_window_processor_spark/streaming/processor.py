"""Structured Streaming stateful operator: the slicing kernel per key.

Pipeline shape (the Spark-native equivalent of the reference's
KeyedScottyWindowOperator, flink-connector/.../KeyedScottyWindowOperator.java:15-88):

    readStream → max event-time stamp (mapInArrow) → withWatermark("ts", delay)
      → groupBy(conv_id).applyInPandasWithState(handler)
      → exactly-once sink (streaming.sink)

Per micro-batch, each key's new rows arrive as one Arrow batch; the handler
restores the key's kernel from the Spark state store, drops late rows
(below), feeds the rest in event-time order, fires the kernel at the
key's frontier and emits the triggered windows. The kernel is built and
fed by `kernel.new_operator` and `kernel.feed_sorted` (which the batch
reference `scotty_batch._kernel_run` also calls): rows before the key's
event-time frontier take the
exact per-element path, the in-order rest the segment bulk path — in
value mode and in record mode (value=None: dict-of-columns rows, custom
``bulk_lift_records`` lifts) alike.
Spark's watermark (`GroupState.getCurrentWatermarkMs`) replaces Flink's
`ctx.timerService().currentWatermark()`; an event-time timer wakes keys
with no new rows, and state removal cleans up idle keys.

Frontier. Scotty emits a window as soon as the watermark passes its end.
`getCurrentWatermarkMs()` is the watermark the PREVIOUS micro-batch set,
so firing only there makes every window a file closes wait for the next
micro-batch, which carries no data. With the query's watermark delay `d`
known, a key fires in the batch that carries its rows, at

    frontier = max(W, s − d)

where `W` is Spark's current watermark and `s` a lower bound on this
micro-batch's max event time over ALL keys. The map-side stamp pass
(`_stamp_max_event_time`) appends to every row the running max event
time its task had read by then; the handler takes `s` as the max of the
stamps on the key's rows and the key's own max event time (the kernel's
`_max_event_time`, which covers its earlier batches). Every stamped row
reaches `withWatermark`, and the query has one input, so Spark's next
watermark is the batch's max event time minus `d`, at least `s − d`: the
frontier never runs ahead of the watermark Spark itself sets after this
batch. A key with no rows in the batch (a timer-only call) fires at
`max(W, key max − d)`; frames without the stamp column (handler tests,
the benchmark's handler probe) use the key's own max event time for `s`.

Late-row contract. Once a key has fired at frontier `f` (kept as the
kernel's `last_watermark`), a row with `ts > f` can only fall into windows
that have not fired: tumbling and sliding windows fire at `end ≤ f`,
sessions at `end + gap < f`, and a row above `f` cannot join a fired
session. A row with `ts ≤ f` may fall into one that has. So the handler
drops every later row with `ts_ms ≤ f` (Spark's own `ts <= watermark`
rule, at the kernel's ms grain) and counts it in the `late_rows`
accumulator, instead of folding it into a slice whose windows were
already emitted. Such a row arrives in a later micro-batch, which runs
under a watermark of at least `f`, and trails a max event time the
stream had already seen by at least `d`; Spark's watermark contract
already says it "may or may not be aggregated". A key that has not fired
yet drops nothing: its kernel is seeded at its earliest row only when it
first fires.

Why Spark does not drop these rows itself: Spark 4.1 runs with
`spark.sql.streaming.statefulOperator.allowMultiple=true`, whose
watermark propagation filters late rows in batch `N` against the
watermark of batch `N − 1`, not against `W` of batch `N`. When data
batches run back to back, batch `N + 1` can therefore deliver a row with
`ts ∈ (W, f]`. With `frontier = W` (no delay given) the filter is a
no-op: in batch `N` a key fires at most at `W_N`, and the late-row filter
of every later batch uses a watermark of at least `W_N`, so no row at or
below it reaches the handler.

State encoding: TYPED Arrow structs (streaming.state_codec) whenever the
function/window mix allows — scalars + array<struct> slices/sessions in
the state column, no Python object graph in the state store. Custom
lift/combine/lower functions and count-measure windows (which need raw
record buffers) keep the single pickled BinaryType cell — the same
eager/lazy footprint switch as the reference (SliceFactory.java:17-22),
made explicit by `typed_state_eligible`.
"""

from __future__ import annotations

import pickle
from typing import Any, Iterator, List, Sequence, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions import AggSpec
from ..operators.kernel import bulk_lift_kinds, feed_sorted, lower_windows, new_operator
from ..operators.windows import JLONG_MIN, Window, WindowMeasure
from ..plans import window_output_schema

STATE_SCHEMA = "kernel binary"  # pickle fallback (custom fns / count windows)

# internal long column: the running max event time (ms) of the rows the
# map task had read up to and including the row's Arrow batch
STAMP_COL = "_scotty_seen_max_ms"

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def apply_state_store_defaults(spark) -> None:
    """Engine default: the RocksDB state-store provider. It won every r5
    measurement over the HDFS-backed default (BENCH/latency_floor.md:
    p99 −23%, wall −11% on the flagship probe; the r4/r5 scaling runs
    agree) because its per-batch commit writes a delta instead of the
    full-file checkpoint. Applied at query-build time and ONLY when the
    user has not picked a provider explicitly (conf unset), so
    deployments that configure their own provider are untouched."""
    key = "spark.sql.streaming.stateStore.providerClass"
    if not spark.conf.get(key, None):
        spark.conf.set(key, ROCKSDB_PROVIDER)


def parse_watermark_delay_ms(spark, delay: str) -> int:
    """`withWatermark`'s delay string in ms, parsed by Spark's own interval
    parser and converted as EventTimeWatermark.getDelayMs does (a month
    counts as 31 days)."""
    jvm = spark.sparkContext._jvm
    interval = jvm.org.apache.spark.sql.catalyst.util.IntervalUtils.fromIntervalString(delay)
    return int(jvm.org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark.getDelayMs(interval))


def output_schema(key_name: str, key_type: T.DataType, aggs: Sequence[AggSpec]) -> T.StructType:
    """The batch tiers' window schema with ``emit_ts`` after ``w_end``."""
    fields = window_output_schema(key_name, key_type, aggs).fields
    return T.StructType(fields[:5] + [T.StructField("emit_ts", T.LongType(), False)] + fields[5:])


def typed_state_eligible(windows: Sequence[Window], aggs: Sequence[AggSpec], value_col) -> bool:
    """Typed (Arrow-struct) state covers time-measure windows with
    numpy-reducible functions (every segment lift a reduction name) over
    a value column — the hot path. Count windows (per-slice record
    buffers) and custom lift/combine/lower partials keep the
    pickled-kernel state cell, explicitly."""
    if value_col is None:
        return False
    kinds = bulk_lift_kinds([factory() for _, _, factory in aggs])
    return (
        kinds is not None
        and all(isinstance(k, str) for k in kinds)
        and all(w.measure == WindowMeasure.TIME for w in windows)
    )


def typed_state_schema(n_fns: int) -> T.StructType:
    from .state_codec import SCALARS_DDL, SESSION_DDL, slice_ddl

    return T.StructType(
        [
            T.StructField("scalars", T._parse_datatype_string(SCALARS_DDL)),
            T.StructField("sessions", T.ArrayType(T._parse_datatype_string(SESSION_DDL))),
            T.StructField("slices", T.ArrayType(T._parse_datatype_string(slice_ddl(n_fns)))),
        ]
    )


def make_handler(
    key_name: str,
    ts_col: str,
    value_col: str | None,
    windows: Sequence[Window],
    aggs: Sequence[AggSpec],
    lateness_ms: int,
    out_fields: List[str],
    window_registry: str | None = None,
    registry_poll_s: float = 10.0,
    watermark_delay_ms: int | None = None,
    late_rows=None,
):
    """Build the applyInPandasWithState handler (pure function of config —
    shippable to executors via --py-files). With `window_registry`, the
    handler also merges the registry file's windows into every kernel it
    touches — the live mid-stream addWindow path (streaming.registry).

    `watermark_delay_ms` is the query's watermark delay: given, each key
    fires at the frontier (module docstring), from the max event-time
    stamp when its frames carry `STAMP_COL` and from its own max event
    time otherwise; None fires at Spark's watermark only. `late_rows` is
    an accumulator that receives the number of rows dropped by the
    late-row contract."""
    from .state_codec import decode_op, encode_op

    window_defs = list(windows)
    agg_specs = list(aggs)

    # segment lifts for feed_sorted; with typed state they are all
    # reduction names, which the state codec encodes partials by
    feed_kinds = bulk_lift_kinds([factory() for _, _, factory in agg_specs], value_col is not None)
    typed = typed_state_eligible(window_defs, agg_specs, value_col)

    def handler(
        key: Tuple[Any], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Invoked when this key has new rows OR its event-time timer fired
        # (hasTimedOut): the timer is how watermark-only progress reaches
        # keys with no fresh data — the reference instead loops over all
        # keys on every watermark advance (KeyedScottyWindowOperator
        # .java:65-78), which a distributed state store cannot do.
        if window_registry is not None:
            from .registry import read_registry

            base_ids = {w.window_id for w in window_defs}
            dyn = [w for w in read_registry(window_registry, registry_poll_s)
                   if w.window_id not in base_ids]
        else:
            dyn = []
        # registry windows strictly AFTER the base list (new_operator)
        op = new_operator(window_defs + dyn, agg_specs, lateness_ms)
        if state.exists:
            if typed:
                scalars, sessions, slices = state.get
                try:
                    decode_op(op, feed_kinds, scalars, sessions, slices)
                except IndexError:
                    # stale registry cache race: this state was encoded by
                    # a worker that had already picked up a newly added
                    # SessionWindow (positional ctx_idx beyond our context
                    # list). Force a registry refresh (poll 0) and retry
                    # instead of failing the task for up to poll_interval.
                    if window_registry is None:
                        raise
                    from .registry import read_registry as _rr

                    dyn = [w for w in _rr(window_registry, 0.0)
                           if w.window_id not in base_ids]
                    op = new_operator(window_defs + dyn, agg_specs, lateness_ms)
                    decode_op(op, feed_kinds, scalars, sessions, slices)
            else:
                op = pickle.loads(state.get[0])
                known = op.registered_window_ids
                for w in dyn:
                    if w.window_id not in known:
                        op.add_window(w)

        import time as _time

        emit_ms = int(_time.time() * 1000)
        # Materialize the key's WHOLE micro-batch before sorting: Spark
        # delivers a large group as MULTIPLE Arrow chunks in arrival order
        # (bounded by arrow.maxRecordsPerBatch), so sorting per chunk would
        # send a later chunk's earlier timestamps through the out-of-order
        # surgery the single sort avoids.
        parts = [p for p in pdfs if not p.empty]
        stamp = JLONG_MIN
        if parts:
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            if STAMP_COL in pdf.columns:
                stamp = int(pdf[STAMP_COL].max())
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            ts_ms = pdf[ts_col].to_numpy().astype("datetime64[ms]").astype("int64")
            if op.last_watermark != JLONG_MIN:
                # late-row contract (module docstring): a row at or below
                # the frontier the key fired at may fall into an emitted
                # window, so it is dropped and counted
                late = int(ts_ms.searchsorted(op.last_watermark, side="right"))
                if late:
                    if late_rows is not None:
                        late_rows.add(late)
                    pdf, ts_ms = pdf.iloc[late:], ts_ms[late:]
            if len(ts_ms):
                if value_col is not None:
                    data = pdf[value_col].to_numpy()
                else:
                    data = {c: pdf[c].tolist() for c in pdf.columns if c != STAMP_COL}
                feed_sorted(op, data, ts_ms, feed_kinds)

        wm = state.getCurrentWatermarkMs()
        frontier = wm
        if watermark_delay_ms is not None:
            frontier = max(wm, max(op._max_event_time, stamp) - watermark_delay_ms)
        rows = []
        if frontier > 0:
            if op.last_watermark == JLONG_MIN and not op.store.is_empty:
                # first firing: enumerate windows from the key's earliest row
                op.seed_watermark(min(s.t_first for s in op.store.slices) - 1)
            rows = [[key[0], *r[:4], emit_ms, *r[4:]]
                    for r in lower_windows(op.process_watermark(frontier))]

        nxt = op.next_emission_ts()
        if (nxt is None and op.store.is_empty and not op.has_count_measure) or op.quiesced(wm):
            # nothing pending — or the kernel is QUIESCED: only the open
            # slice remains and it is past every window horizon, so the key
            # can never emit again without new input. Dropping the state
            # cell here keeps the store ∝ active keys, not ever-seen keys
            # (and stops the idle key's timer from re-arming forever).
            state.remove()
        else:
            if typed:
                state.update(encode_op(op, feed_kinds))
            else:
                state.update((pickle.dumps(op),))
            # wake when the watermark reaches the next possible emission:
            # Spark times a key out once the watermark EXCEEDS its timestamp
            state.setTimeoutTimestamp(max(nxt - 1 if nxt is not None else wm + 1, wm + 1))

        if rows:
            yield pd.DataFrame(rows, columns=out_fields)

    return handler


def _stamp_max_event_time(df: DataFrame, ts: str) -> DataFrame:
    """Append ``STAMP_COL``: per map task, the running max of ``ts`` in ms
    over the rows read so far, the current Arrow batch included. Nothing
    is buffered. Every stamped row reaches ``withWatermark``, so a stamp
    never exceeds the batch's max event time that Spark's next watermark
    is computed from (module docstring)."""

    def stamp(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        seen = JLONG_MIN
        for b in batches:
            top = pc.max(b.column(ts)).value
            if top is not None:
                # Spark ships timestamps as µs; ms as EventTimeWatermarkExec
                # takes them (floor, so never above Spark's value)
                seen = max(seen, top // 1000)
            yield b.append_column(STAMP_COL, pa.repeat(pa.scalar(seen, pa.int64()), b.num_rows))

    schema = T.StructType(df.schema.fields + [T.StructField(STAMP_COL, T.LongType(), False)])
    return df.mapInArrow(stamp, schema)


def scotty_stream(
    stream_df: DataFrame,
    key: str,
    ts: str,
    value: str | None,
    windows: Sequence[Window],
    aggs: Sequence[AggSpec],
    watermark_delay: str = "30 seconds",
    lateness_ms: int = 30_000,
    window_registry: str | None = None,
    registry_poll_s: float = 10.0,
) -> DataFrame:
    """Streaming windowed aggregation with slice sharing across all
    `windows`. Returns the streaming result DataFrame (attach a sink with
    streaming.sink.exactly_once_parquet_sink or .writeStream). Its
    `late_rows` attribute is an accumulator that counts the rows the
    operator dropped by the late-row contract (module docstring); read
    `.value` on the driver.

    `window_registry` names a control file (streaming.registry) whose
    TIME-measure windows are merged into every key's kernel at runtime —
    `registry_add_window(path, w)` adds a window to the RUNNING query
    (the reference's live addWindow, WindowManager.java:124-143), no
    restart or state loss; executors re-stat the file at most every
    `registry_poll_s` seconds."""
    spark = stream_df.sparkSession
    apply_state_store_defaults(spark)
    late_rows = spark.sparkContext.accumulator(0)
    if value is not None:
        # column-prune BEFORE the state shuffle: in value mode the handler
        # reads only (key, ts, value), so payload columns (transcript text
        # etc.) must not cross the shuffle or the Arrow boundary — and the
        # select pushes the pruning all the way into the source scan
        stream_df = stream_df.select(*dict.fromkeys([key, ts, value]))
    key_field = stream_df.schema[key]
    schema = output_schema(key, key_field.dataType, aggs)
    handler = make_handler(
        key, ts, value, windows, aggs, lateness_ms, [f.name for f in schema.fields],
        window_registry=window_registry, registry_poll_s=registry_poll_s,
        watermark_delay_ms=parse_watermark_delay_ms(spark, watermark_delay),
        late_rows=late_rows,
    )
    state_schema = (
        typed_state_schema(len(aggs))
        if typed_state_eligible(windows, aggs, value)
        else STATE_SCHEMA
    )
    result = (
        _stamp_max_event_time(stream_df, ts)
        .withWatermark(ts, watermark_delay)
        .groupBy(key)
        .applyInPandasWithState(
            handler,
            outputStructType=schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    result.late_rows = late_rows
    return result


def scotty_stream_global(
    stream_df: DataFrame,
    ts: str,
    value: str | None,
    windows: Sequence[Window],
    aggs: Sequence[AggSpec],
    watermark_delay: str = "30 seconds",
    lateness_ms: int = 30_000,
) -> DataFrame:
    """Non-keyed streaming aggregation — the GlobalScottyWindowOperator
    analogue (flink-connector/.../GlobalScottyWindowOperator.java:15-71):
    every element flows through ONE slicing kernel via a constant grouping
    key. Exactly like the reference's operator (a single ProcessFunction
    instance), global state lives on one task; for high-rate global
    windows with associative functions prefer the keyed operator plus a
    downstream window-level combine."""
    tagged = stream_df.withColumn("_g", F.lit(1))
    keyed = scotty_stream(tagged, "_g", ts, value, windows, aggs, watermark_delay, lateness_ms)
    result = keyed.drop("_g")
    result.late_rows = keyed.late_rows
    return result

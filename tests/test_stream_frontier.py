"""Frontier of the stream operator (streaming.processor): a key fires, in
the call that carries its rows, every window that its own rows or the
micro-batch's max event-time stamp close; it drops and counts rows below
the frontier it fired at, and still fires its tail windows at Spark's
watermark on a timer-only call.

The handler tests drive ``make_handler`` with a fake GroupState, like
tests/test_stream_asof.py; the Spark tests pin the late-row accumulator
and the batch each window is emitted in on a real query."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from scotty_window_processor_spark.functions import (
    CountAggregation,
    RoleTextRollupString,
    SumAggregation,
    ToolTallyString,
)
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlicingWindowOperator,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.operators.kernel import MIN_BULK_CUSTOM, lower_windows, new_operator
from scotty_window_processor_spark.streaming.processor import (
    STAMP_COL,
    make_handler,
    typed_state_eligible,
)

from spark_fixtures import get_spark

SEC, MIN = 1_000, 60_000
BASE = 472_223 * 3_600_000  # an hour-aligned epoch ms (Nov 2023)
DELAY = 30 * SEC
FLUSH = 3_600_000  # a watermark this far past the data fires every window
TIME_WINDOWS = [
    TumblingWindow(WindowMeasure.TIME, MIN, window_id=1),
    TumblingWindow(WindowMeasure.TIME, 5 * MIN, window_id=2),
    SessionWindow(WindowMeasure.TIME, MIN, window_id=3),
]
AGGS = [("n", "long", CountAggregation), ("total", "double", SumAggregation)]


class FakeGroupState:
    """The GroupState surface make_handler touches."""

    def __init__(self):
        self._v = None
        self.wm = 0
        self.timeout = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return self.wm

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


class Counter:
    """Accumulator stand-in: the handler only calls ``add``."""

    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def _handler(windows=TIME_WINDOWS, delay_ms=DELAY, late_rows=None):
    fields = ["k", "window_id", "measure", "w_start", "w_end", "emit_ts", "n", "total"]
    return make_handler("k", "ts", "value", windows, AGGS, DELAY, fields,
                        watermark_delay_ms=delay_ms, late_rows=late_rows)


def _relative(rows):
    """(window_id, measure, start, end, n) → (window_id, start, end, n),
    time bounds relative to BASE."""
    return [(int(w), int(s) - BASE, int(e) - BASE, int(n)) if m == "time"
            else (int(w), int(s), int(e), int(n)) for w, m, s, e, n in rows]


def _call(handler, state, offsets_ms, key="a", stamp_ms=None):
    """One handler call with the key's rows at BASE + offsets (value 1.0
    each), stamped with BASE + ``stamp_ms`` when given; returns the emitted
    rows as (window_id, w_start, w_end, n)."""
    parts = []
    if offsets_ms:
        ts = BASE + np.asarray(offsets_ms, dtype="int64")
        parts.append(pd.DataFrame({"ts": pd.to_datetime(ts, unit="ms"),
                                   "value": np.ones(len(ts))}))
        if stamp_ms is not None:
            parts[0][STAMP_COL] = BASE + stamp_ms
    cols = ["window_id", "measure", "w_start", "w_end", "n"]
    return _relative(r for pdf in handler((key,), iter(parts), state)
                     for r in pdf[cols].itertuples(index=False))


def test_windows_closed_by_own_rows_emit_in_that_call():
    rows = list(range(0, 151 * SEC, 10 * SEC))  # 0 s .. 150 s, every 10 s
    early = _call(_handler(), FakeGroupState(), rows)
    # frontier = 150 s − 30 s: both 1-minute windows below it fire now
    assert sorted(early) == [(1, 0, MIN, 6), (1, MIN, 2 * MIN, 6)]

    # without the delay the key waits for Spark's watermark (still 0)
    assert _call(_handler(delay_ms=None), FakeGroupState(), rows) == []


def test_stamp_fires_windows_other_keys_close_in_that_call():
    """The key's own rows (0-40 s) close nothing at its key-local frontier
    (10 s); the batch's stamp (200 s) bounds Spark's next watermark from
    below at 170 s, so the same call fires every window below that."""
    rows = list(range(0, 41 * SEC, 10 * SEC))
    late = Counter()
    handler, st = _handler(late_rows=late), FakeGroupState()
    fired = _call(handler, st, rows, stamp_ms=200 * SEC)
    assert sorted(fired) == [(1, 0, MIN, 5), (3, 0, 100 * SEC, 5)]

    # next batch: Spark's watermark is now 170 s, but its late-row filter
    # still used the watermark before the first batch (0), so a row at
    # 150 s reaches the handler although the key fired at 170 s
    st.wm = BASE + 170 * SEC
    assert _call(handler, st, [150 * SEC, 180 * SEC], stamp_ms=180 * SEC) == []
    assert late.value == 1

    st.wm = BASE + FLUSH
    tail = sorted(_call(handler, st, []))
    assert tail == [(1, 3 * MIN, 4 * MIN, 1), (2, 0, 5 * MIN, 6), (3, 3 * MIN, 4 * MIN, 1)]
    assert late.value == 1


def test_frames_without_stamp_keep_key_local_frontier():
    """No stamp column (the benchmark's handler probe), or a stamp below
    the key's own max (an earlier Arrow batch of the task): the key fires
    at its own max event time minus the delay."""
    rows = list(range(0, 151 * SEC, 10 * SEC))
    own = [(1, 0, MIN, 6), (1, MIN, 2 * MIN, 6)]
    assert sorted(_call(_handler(), FakeGroupState(), rows)) == own
    assert sorted(_call(_handler(), FakeGroupState(), rows, stamp_ms=100 * SEC)) == own
    assert _call(_handler(), FakeGroupState(), rows[:5]) == []


def test_back_to_back_row_below_frontier_is_dropped_and_counted():
    late = Counter()
    handler, st = _handler(late_rows=late), FakeGroupState()
    first = _call(handler, st, list(range(0, 151 * SEC, 10 * SEC)))
    assert st.get[0][0] == 120 * SEC + BASE  # fired at frontier 120 s

    # next batch: Spark's watermark is now the first batch's max − delay,
    # but its late-row filter still used the watermark before the first
    # batch (0), so a row at 100 s reaches the handler although its
    # minute [60 s, 120 s) has been emitted
    st.wm = BASE + 120 * SEC
    second = _call(handler, st, [100 * SEC, 160 * SEC])
    assert late.value == 1
    assert second == []

    st.wm = BASE + FLUSH
    tail = _call(handler, st, [])
    emitted = first + second + tail
    assert len(emitted) == len(set(emitted)), "a window was emitted twice"
    minutes = {(s, e): n for w, s, e, n in emitted if w == 1}
    assert minutes == {(0, MIN): 6, (MIN, 2 * MIN): 6, (2 * MIN, 3 * MIN): 5}
    five = [n for w, s, e, n in emitted if w == 2]
    assert five == [17]  # 17 rows of 18: the late row is in no window
    assert late.value == 1


def test_timer_only_call_fires_tail_windows_at_watermark():
    handler, st = _handler(), FakeGroupState()
    _call(handler, st, list(range(0, 151 * SEC, 10 * SEC)))
    # no rows: the frontier is Spark's watermark, so the minute
    # [120 s, 180 s) fires once W passes its end, and the 5-minute window
    # and the session only when W passes theirs
    st.wm = BASE + 200 * SEC
    assert _call(handler, st, []) == [(1, 2 * MIN, 3 * MIN, 4)]
    st.wm = BASE + 5 * MIN
    assert sorted(_call(handler, st, [])) == [(2, 0, 5 * MIN, 16), (3, 0, 210 * SEC, 16)]
    assert not st.exists or st.timeout > st.wm


def test_session_and_count_mix_takes_pickled_path_and_is_exact():
    windows = [
        SessionWindow(WindowMeasure.TIME, MIN, window_id=1),
        TumblingWindow(WindowMeasure.COUNT, 5, window_id=2),
    ]
    assert not typed_state_eligible(windows, AGGS, "value")
    rng = np.random.default_rng(7)
    # three sessions of in-order rows with up to 20 s of disorder, cut
    # into batches; the disorder stays under the 30 s delay, so nothing
    # is late and the stream must equal one kernel run over all rows
    ts = np.sort(np.concatenate([
        start + np.cumsum(rng.integers(1 * SEC, 15 * SEC, 25))
        for start in (0, 10 * MIN, 20 * MIN)
    ]))
    arrival = ts + np.where(rng.random(len(ts)) < 0.3, rng.integers(0, 20 * SEC, len(ts)), 0)
    ts = ts[np.argsort(arrival, kind="stable")]
    late = Counter()
    handler, st = _handler(windows, late_rows=late), FakeGroupState()
    emitted = []
    for batch in np.array_split(ts, 8):
        emitted += _call(handler, st, batch.tolist())
        assert isinstance(st.get[0], bytes)  # pickled kernel cell
        st.wm = max(st.wm, BASE + int(batch.max()) - DELAY)
    st.wm = BASE + int(ts.max()) + FLUSH
    emitted += _call(handler, st, [])
    assert late.value == 0

    op = new_operator(windows, AGGS, DELAY)
    ordered = BASE + np.sort(ts)
    op.seed_watermark(int(ordered[0]) - 1)
    for t in ordered.tolist():
        op.process_element(1.0, t)
    expected = _relative(r[:5] for r in lower_windows(op.process_watermark(int(ordered[-1]) + FLUSH)))
    assert sorted(emitted) == sorted(expected)
    assert {w for w, *_ in emitted} == {1, 2}


def test_record_mode_stream_takes_bulk_path_and_matches_batch_kernel_tier(monkeypatch):
    """value=None keys feed dict-of-columns rows through the same driver
    as the batch kernel tier: the in-order rest of each micro-batch takes
    the bulk path with the functions' record lifts, the out-of-order
    prefix goes element by element, and the rows equal one batch kernel
    run over all rows."""
    from scotty_window_processor_spark.plans.scotty_batch import _final_watermark, _kernel_run

    windows = TIME_WINDOWS + [SlidingWindow(WindowMeasure.TIME, 2 * MIN, 30 * SEC, window_id=4)]
    aggs = [("n", "long", CountAggregation), ("tools", "string", ToolTallyString),
            ("roles", "string", RoleTextRollupString)]
    rng = np.random.default_rng(11)
    offsets = np.cumsum(rng.integers(1 * SEC, 4 * SEC, 240))  # distinct, ~10 min
    first, second = offsets[:120], offsets[120:]
    # the second batch starts with rows below the first batch's max event
    # time but above the frontier (max − delay) the key fired at
    prefix = first[-1] - np.array([20 * SEC, 10 * SEC, 5 * SEC]) + 1
    assert len(second) >= MIN_BULK_CUSTOM and prefix.min() > first[-1] - DELAY

    def frame(offs, idx):
        return pd.DataFrame({
            "k": "a", "ts": pd.to_datetime(BASE + offs, unit="ms"), "turn_idx": idx,
            "role": [("user", "assistant")[i % 2] for i in idx],
            "tool": [(None, "", "search", "exec")[i % 4] for i in idx],
            "text": [f"t{i}" for i in idx],
        })

    batches = [frame(first, np.arange(120)),
               frame(np.concatenate([second, prefix]), np.arange(120, 243))]
    bulk_rows = []
    bulk = SlicingWindowOperator.process_in_order_bulk

    def counting_bulk(op, values, ts_arr, *args, **kwargs):
        assert isinstance(values, dict)
        bulk_rows.append(len(ts_arr))
        return bulk(op, values, ts_arr, *args, **kwargs)

    monkeypatch.setattr(SlicingWindowOperator, "process_in_order_bulk", counting_bulk)
    fields = ["k", "window_id", "measure", "w_start", "w_end", "emit_ts", "n", "tools", "roles"]
    late = Counter()
    handler = make_handler("k", "ts", None, windows, aggs, DELAY, fields,
                           watermark_delay_ms=DELAY, late_rows=late)
    # Spark's watermark before each call: none, the first batch's max −
    # delay, then far past the data (a timer-only flush)
    marks = [0, BASE + int(first[-1]) - DELAY, BASE + int(offsets[-1]) + FLUSH]
    st, emitted = FakeGroupState(), []
    for pdf, wm in zip(batches + [batches[0].iloc[:0]], marks):
        st.wm = wm
        emitted += [tuple(r) for out in handler(("a",), iter([pdf]), st)
                    for r in out.drop(columns=["k", "emit_ts"]).itertuples(index=False)]
    assert late.value == 0
    # the first batch in full, then the second batch's in-order rest
    assert bulk_rows == [120, 120]

    rows = pd.concat(batches).sort_values("ts", kind="mergesort")
    ts_ms = rows["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
    data = {c: rows[c].tolist() for c in rows.columns}
    expected = _kernel_run(data, ts_ms, None, windows, aggs, DELAY,
                           _final_watermark(int(ts_ms[-1]), windows, DELAY))
    assert sorted(emitted) == sorted(tuple(r) for r in expected)
    assert {r[0] for r in emitted} == {1, 2, 3, 4}


# ---------------------------------------------------------------------------
# the late-row accumulator on a real query


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _write_files(pdfs, src):
    os.makedirs(src)
    for i, part in enumerate(pdfs):
        tbl = pa.Table.from_pandas(part, preserve_index=False)
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts",
                             tbl.column("ts").cast(pa.timestamp("us")))
        path = os.path.join(src, f"{i:04d}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _run_query(spark, src, ckpt, name):
    from scotty_window_processor_spark.streaming.processor import scotty_stream

    stream = (spark.readStream.schema("k string, ts timestamp, value double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    result = scotty_stream(stream, key="k", ts="ts", value="value", windows=TIME_WINDOWS,
                           aggs=AGGS, watermark_delay="30 seconds", lateness_ms=DELAY)
    q = (result.writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt).outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    return result.late_rows.value, spark.table(name).toPandas()


def _rows(key, offsets_ms):
    ts = BASE + np.asarray(offsets_ms, dtype="int64")
    return pd.DataFrame({"k": key, "ts": pd.to_datetime(ts, unit="ms"),
                         "value": np.ones(len(ts))})


def test_late_row_counted_by_accumulator(spark, tmp_path):
    # both files are in place before the query starts, so their
    # micro-batches run back to back: the second one's late-row filter
    # still uses the watermark from before the first, and key "a"'s row
    # at 100 s reaches the handler below the frontier (120 s) it fired at
    first = _rows("a", list(range(0, 151 * SEC, 10 * SEC)))
    second = pd.concat([_rows("a", [100 * SEC, 170 * SEC]), _rows("b", [30 * MIN])])
    src = str(tmp_path / "src")
    _write_files([first, second], src)
    late, out = _run_query(spark, src, str(tmp_path / "ckpt"), "frontier_late")
    assert late == 1
    a = out[out["k"] == "a"]
    keys = a[["window_id", "w_start", "w_end"]].apply(tuple, axis=1)
    assert not keys.duplicated().any()
    minutes = {int(s) - BASE: int(n) for w, s, n in a[["window_id", "w_start", "n"]].itertuples(index=False)
               if w == 1}
    assert minutes == {0: 6, MIN: 6, 2 * MIN: 5}


def test_benchmark_shaped_stream_drops_nothing(spark, tmp_path):
    """Rows arrive up to 25 s after their event time (below the 30 s
    delay), files are cut in arrival order: no row is late, and the sink
    equals the batch path for every window the final watermark closed."""
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
    from scotty_window_processor_spark.sources import synthesize_transcripts

    pdf = (synthesize_transcripts(spark, n_convs=16, turns_per_conv=30, n_hot_convs=1,
                                  hot_factor=4, seed=3, straggler_pct=0)
           .select(F.col("conv_id").alias("k"), "ts", F.col("turn_idx").cast("double").alias("value"))
           .toPandas())
    ts_ms = pdf["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
    rng = np.random.default_rng(3)
    arrival = ts_ms + np.where(rng.random(len(pdf)) < 0.08, rng.integers(0, 25 * SEC, len(pdf)), 0)
    pdf = pdf.iloc[np.argsort(arrival, kind="stable")].reset_index(drop=True)
    src = str(tmp_path / "src")
    cuts = np.linspace(0, len(pdf), 6).astype(int)
    _write_files([pdf.iloc[i:j] for i, j in zip(cuts[:-1], cuts[1:])], src)

    late, out = _run_query(spark, src, str(tmp_path / "ckpt"), "frontier_bench")
    assert late == 0
    cols = ["k", "window_id", "w_start", "w_end", "n", "total"]
    got = out[cols]
    assert not got[cols[:4]].duplicated().any()

    final_wm = int(ts_ms.max()) - DELAY
    batch = scotty_window_aggregate(
        spark.read.parquet(src), key="k", ts="ts", value="value",
        windows=TIME_WINDOWS, aggs=AGGS, lateness_ms=DELAY,
    ).toPandas()
    closed = batch[batch["w_end"] < final_wm][cols]
    got_closed = got[got["w_end"] < final_wm]
    key = lambda df: sorted(map(tuple, df.astype({"total": float}).values.tolist()))
    assert key(got_closed) == key(closed)


def test_windows_fire_in_the_batch_whose_rows_close_them(spark, tmp_path):
    """One file holds keys a and b. a's rows (0-40 s) close nothing by
    their own max; only b's rows (to 190 s) push the watermark (160 s)
    past a's minute and session. a's windows still go out in the data
    batch: the no-data batch that runs under the new watermark emits
    nothing, and the rows equal the batch path over the same file."""
    from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
    from scotty_window_processor_spark.streaming.processor import scotty_stream
    from scotty_window_processor_spark.streaming.sink import write_stream_exactly_once

    src, out_dir = str(tmp_path / "src"), str(tmp_path / "out")
    _write_files([pd.concat([_rows("a", range(0, 41 * SEC, 10 * SEC)),
                             _rows("b", range(0, 191 * SEC, 10 * SEC))])], src)
    stream = spark.readStream.schema("k string, ts timestamp, value double").parquet(src)
    result = scotty_stream(stream, key="k", ts="ts", value="value", windows=TIME_WINDOWS,
                           aggs=AGGS, watermark_delay="30 seconds", lateness_ms=DELAY)
    sink, writer = write_stream_exactly_once(result, out_dir, str(tmp_path / "ckpt"))
    q = writer.start()
    q.processAllAvailable()
    progress = list(q.recentProgress)
    q.stop()

    (data_batch,) = [p["batchId"] for p in progress if p["numInputRows"]]
    lineage = {m["batch_id"]: m for m in sink.lineage()}
    assert lineage[data_batch + 1]["rows"] == 0  # the no-data batch
    out = spark.read.parquet(out_dir).toPandas()
    a = out[out["k"] == "a"]
    assert set(a["batch_id"]) == {data_batch}
    assert sorted(_relative(a[["window_id", "measure", "w_start", "w_end", "n"]]
                            .itertuples(index=False))) == [(1, 0, MIN, 5), (3, 0, 100 * SEC, 5)]

    final_wm = BASE + 160 * SEC
    cols = ["k", "window_id", "w_start", "w_end", "n", "total"]
    batch = scotty_window_aggregate(spark.read.parquet(src), key="k", ts="ts", value="value",
                                    windows=TIME_WINDOWS, aggs=AGGS, lateness_ms=DELAY).toPandas()
    key = lambda df: sorted(map(tuple, df[cols].astype({"total": float}).values.tolist()))
    assert (out["w_end"] < final_wm).all()
    assert key(out) == key(batch[batch["w_end"] < final_wm])

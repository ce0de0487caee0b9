"""Idle-key state lifecycle: a key whose retained data is past every
window horizon must have its state cell REMOVED (kernel.quiesced), so the
state store scales with ACTIVE keys, not ever-seen keys — at 10^9
conversations the difference between bounded and unbounded state."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
from scotty_window_processor_spark.operators import (
    SessionWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.operators.kernel import SlicingWindowOperator

from spark_fixtures import get_spark

HOUR = 3_600_000


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _op(windows, lateness=30_000):
    op = SlicingWindowOperator(max_lateness=lateness)
    op.add_aggregation(CountAggregation())
    for w in windows:
        op.add_window(w)
    return op


def test_quiesced_truth_table():
    # tumbling 1h, lateness 30s: horizon = max_event + 1h + 30s
    op = _op([TumblingWindow(WindowMeasure.TIME, HOUR, window_id=1)])
    op.seed_watermark(0)
    op.process_element(1.0, 600_000)
    op.process_watermark(700_000)
    assert not op.quiesced(700_000)                    # window still open
    op.process_watermark(HOUR + 1)                     # window fired
    assert not op.quiesced(HOUR + 1)                   # open slice inside horizon
    assert op.quiesced(600_000 + HOUR + 30_000 + 1)    # past horizon: dead state

    # count-measure windows never quiesce (positional counters persist)
    opc = _op([TumblingWindow(WindowMeasure.COUNT, 10, window_id=2)])
    opc.seed_watermark(0)
    opc.process_element(1.0, 1_000)
    assert not opc.quiesced(10**15)

    # an active session blocks quiescence; once emitted+evicted it clears
    ops = _op([SessionWindow(WindowMeasure.TIME, 300_000, window_id=3)])
    ops.seed_watermark(0)
    ops.process_element(1.0, 600_000)
    assert not ops.quiesced(10**15)                    # session still active
    ops.process_watermark(600_000 + 300_000 + 1)       # gap passed: emitted
    assert ops.quiesced(600_000 + HOUR + 30_000 + 1)


class FakeGroupState:
    """The GroupState surface streaming/processor.make_handler touches."""

    def __init__(self, wm):
        self._v = None
        self._wm = wm
        self.removed = False
        self.timeout = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)
        self.removed = False

    def remove(self):
        self._v = None
        self.removed = True

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


def _run_handler(handler, state, ts_ms, values):
    if ts_ms:
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime(np.asarray(ts_ms, dtype="int64"), unit="ms"),
             "value": np.asarray(values, dtype="float64")}
        )
        parts = iter([pdf])
    else:
        parts = iter([])
    return list(handler(("u1",), parts, state))


def test_handler_removes_quiesced_state(spark):
    from scotty_window_processor_spark.streaming.processor import make_handler, output_schema
    from pyspark.sql import types as T

    windows = [TumblingWindow(WindowMeasure.TIME, HOUR, window_id=1)]
    aggs = [("n", "long", CountAggregation), ("sum_value", "double", SumAggregation)]
    schema = output_schema("user_id", T.LongType(), aggs)
    handler = make_handler(
        "user_id", "ts", "value", windows, aggs, 30_000,
        [f.name for f in schema.fields],
    )

    st = FakeGroupState(wm=0)
    _run_handler(handler, st, [600_000, 1_200_000], [1.0, 2.0])
    assert st.exists and st.timeout is not None

    # watermark passes the window end but NOT the quiesce horizon: the
    # window flushes, the open slice stays, state persists
    st._wm = HOUR + 1
    out = _run_handler(handler, st, [], [])
    assert len(out) == 1 and len(out[0]) == 1
    assert st.exists

    # watermark passes max_event + window + lateness: state is removed
    st._wm = 1_200_000 + HOUR + 30_000 + 1
    _run_handler(handler, st, [], [])
    assert st.removed and not st.exists

    # a later element rebuilds a fresh kernel and emits its own window
    st._wm = 10 * HOUR
    _run_handler(handler, st, [11 * HOUR + 5], [7.0])
    st._wm = 13 * HOUR
    out = _run_handler(handler, st, [], [])
    assert [(r["w_start"], r["n"]) for _, r in out[0].iterrows()] == [(11 * HOUR, 1)]


def test_stream_state_shrinks_to_active_keys(spark, tmp_path):
    """End-to-end: wave A conversations (hours 1–2) go idle before wave
    B (hours 6–7) arrives; after the far-future sentinel flushes everything,
    the state store must hold at most the sentinel's own key — without the
    quiesce path it would hold every key ever seen (one open slice each),
    asserted via numRowsTotal."""
    from scotty_window_processor_spark.streaming.processor import scotty_stream

    rows = []
    for k in range(8):          # wave A (hours 1-2)
        for j in range(10):
            rows.append((k, HOUR + j * 360_000))
    for k in range(8, 12):      # wave B (hours 6-7)
        for j in range(10):
            rows.append((k, 6 * HOUR + j * 360_000))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_ms"])
    pdf["value"] = 1.0
    pdf["ts"] = pd.to_datetime(pdf.pop("ts_ms"), unit="ms")
    pdf = pdf.sort_values("ts", kind="mergesort")

    s1 = pdf.iloc[:1].copy(); s1["user_id"] = -1
    s1["ts"] = pdf["ts"].max() + pd.Timedelta(days=1)
    s2 = s1.copy(); s2["ts"] = s1["ts"] + pd.Timedelta(days=1)
    src = str(tmp_path / "src"); os.makedirs(src)
    half = len(pdf) // 2
    for i, part in enumerate([pdf.iloc[:half], pdf.iloc[half:], s1, s2]):
        tbl = pa.Table.from_pandas(part, preserve_index=False)
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts",
                             tbl.column("ts").cast(pa.timestamp("us")))
        pq.write_table(tbl, f"{src}/{i:04d}.parquet")
        os.utime(f"{src}/{i:04d}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(spark.createDataFrame(pdf).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    result = scotty_stream(
        stream, key="user_id", ts="ts", value="value",
        windows=[TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1)],
        aggs=[("n", "long", CountAggregation)],
        watermark_delay="30 seconds", lateness_ms=30_000,
    )
    ckpt = str(tmp_path / "ckpt")
    q = (result.writeStream.format("memory").queryName("quiesce_out")
         .option("checkpointLocation", ckpt).outputMode("append").start())
    q.processAllAvailable()
    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    q.stop()

    got = spark.table("quiesce_out").where(F.col("user_id") >= 0)
    # every wave's windows emitted in full: 10 turns per key, 6 turns per
    # 10m bucket boundary-dependent — just assert per-key totals
    totals = {r["user_id"]: r["s"] for r in
              got.groupBy("user_id").agg(F.sum("n").alias("s")).collect()}
    assert totals == {k: 10 for k in range(12)}
    assert state_rows <= 1, f"idle-key state not removed: {state_rows} rows"

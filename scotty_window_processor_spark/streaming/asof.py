"""Streaming as-of (point-in-time) enrichment — the stateful twin of
plans.asof.asof_join (backward-inclusive): each LEFT row is emitted once,
carrying the most recent RIGHT row with the same key whose timestamp is
<= the left timestamp. Reference parity: Scotty has no join operator of
any kind (SURVEY.md §2.3); this is the training/serving-pipeline
extension (streaming feature lookup, label attachment).

Why not Spark's built-in stream-stream join: an UNBOUNDED backward as-of
has no event-time range the watermark could expire join state with — the
most recent right row may be arbitrarily old, so the interval-join state
model (O(rate × interval)) does not apply. The correct state is exactly
ONE right row per key (the latest finalized one) plus the out-of-order
buffer; this operator keeps precisely that.

Semantics under disorder: rows are buffered per key until the watermark
passes their event time, then processed in (ts, side, tiebreak) order —
right rows before left rows at equal ts (inclusive match, mirroring
ASOF `>=`), later-tiebreak right rows winning equal-ts ties (matching
the batch gate's max-tiebreak pre-aggregated right side). The remembered
right row re-enters each scan as a synthetic row AT ITS OWN TIMESTAMP,
so a late-but-older right row can never shadow a newer remembered one —
a left row always matches the true event-time-latest right row within
the lateness horizon, and the streaming output equals the batch
asof_join on the same rows regardless of delivery order.

Scale: state per key = one right payload + the ≤ lateness-horizon
buffer — O(keys + rate × delay), independent of stream length.
``right_ttl_ms`` optionally expires an idle key's remembered right row
(and with it the state cell) once the watermark is that far past it,
for key spaces that churn (state ∝ ACTIVE keys, like the kernel
operator's quiesce drop).
"""

from __future__ import annotations

import pickle

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

STATE_SCHEMA = T.StructType([T.StructField("blob", T.BinaryType(), True)])


def _out_schema(stream: DataFrame, key: str, ts: str, left_cols, right_cols) -> T.StructType:
    f = {fld.name: fld for fld in stream.schema.fields}
    fields = [f[key], T.StructField(ts, f[ts].dataType, False)]
    fields += [f[c] for c in left_cols]
    fields.append(T.StructField(f"r_{ts}", f[ts].dataType, True))
    fields += [T.StructField(f"r_{c}", f[c].dataType, True) for c in right_cols]
    return T.StructType(fields)


def _make_handler(
    ts: str,
    side: str,
    left_cols: list[str],
    right_cols: list[str],
    tiebreak: str,
    right_ttl_ms: int | None,
    out_names: list[str],
    buf_cols: list[str],
):
    """Build the applyInPandasWithState handler. Module-level (rather than
    a closure inside asof_stream) so the microsecond finalization /
    timer arithmetic is unit-testable against a fake GroupState without a
    running streaming query (tests/test_stream_asof.py)."""

    def handler(key_tuple, pdfs, state):
        if state.exists:
            buf, last_r = pickle.loads(state.get[0])
        else:
            # last_r: a one-row DataFrame in buf layout (side=0) holding
            # the newest finalized right row, or None
            buf, last_r = None, None

        parts = [p for p in pdfs if not p.empty]
        if parts:
            new = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            buf = new if buf is None else pd.concat([buf, new], ignore_index=True)

        wm = state.getCurrentWatermarkMs()
        rows = []
        if buf is not None and len(buf):
            # microsecond-exact finalization (ADVICE r5): truncating to ms
            # would finalize a row at X.5 ms once wm == X, before an
            # equal-millisecond but later-microsecond row Spark still
            # admits — ordering differently than the microsecond-exact
            # batch oracle. Compare in us against wm*1000; ms-granular
            # data is bit-identical to the old mask.
            ts_us = buf[ts].to_numpy().astype("datetime64[us]").astype("int64")
            fin_mask = ts_us <= wm * 1000
            if fin_mask.any():
                fin = buf[fin_mask]
                if last_r is not None:
                    # the remembered right row joins the scan at its own
                    # event time, so an in-batch late-but-older right can
                    # never shadow it (and an equal-ts higher-tiebreak
                    # arrival legitimately beats it)
                    fin = pd.concat([last_r, fin], ignore_index=True)
                else:
                    fin = fin.reset_index(drop=True)
                # right-before-left at equal ts (inclusive); stable sort +
                # ffill make the LAST equal-ts right row (max tiebreak) win
                fin = fin.sort_values([ts, side, tiebreak], kind="mergesort")
                is_r = fin[side].to_numpy() == 0
                filled = {
                    c: fin[c].where(is_r).ffill() for c in [ts, *right_cols]
                }
                lefts_mask = fin[side].to_numpy() == 1
                for i in fin.index[lefts_mask]:
                    r_ts_v = filled[ts][i]
                    r_vals = (
                        [None] * (1 + len(right_cols))
                        if pd.isna(r_ts_v)
                        else [r_ts_v, *[filled[c][i] for c in right_cols]]
                    )
                    rows.append(
                        [key_tuple[0], fin[ts][i], *[fin[c][i] for c in left_cols], *r_vals]
                    )
                if is_r.any():
                    last_r = fin[is_r].iloc[[-1]][buf_cols].reset_index(drop=True)
                buf = buf[~fin_mask]
                if not len(buf):
                    buf = None

        has_buf = buf is not None and len(buf) > 0
        # keep us precision internally; truncate only where the GroupState
        # API requires ms (timers); the TTL comparison below is us-exact
        last_r_us = (
            int(last_r[ts].to_numpy().astype("datetime64[us]").astype("int64")[0])
            if last_r is not None
            else None
        )
        expired = (
            not has_buf
            and right_ttl_ms is not None
            and (last_r_us is None or wm * 1000 - last_r_us > right_ttl_ms * 1000)
        )
        if (not has_buf and last_r is None) or expired:
            if state.exists:
                state.remove()
        else:
            state.update((pickle.dumps((buf, last_r)),))
            if has_buf:
                # flush wake-up: fire once the watermark passes the oldest
                # pending row (pending ts_us > wm*1000 by construction).
                # Ceil to ms so the timer never fires before the row is
                # actually finalizable at us precision.
                nxt_us = int(buf[ts].to_numpy().astype("datetime64[us]").astype("int64").min())
                nxt = -(-nxt_us // 1000)
                state.setTimeoutTimestamp(max(nxt, wm + 1))
            elif right_ttl_ms is not None:
                ttl_at = -(-(last_r_us + right_ttl_ms * 1000) // 1000) + 1
                state.setTimeoutTimestamp(max(ttl_at, wm + 1))
            # no timer otherwise: nothing pending to flush; the remembered
            # right row only matters when a new left arrives, which invokes
            # the handler anyway

        if rows:
            yield pd.DataFrame(rows, columns=out_names)

    return handler


def asof_stream(
    stream: DataFrame,
    key: str,
    ts: str,
    side: str,
    left_cols: list[str],
    right_cols: list[str],
    tiebreak: str,
    watermark_delay: str = "30 seconds",
    right_ttl_ms: int | None = None,
) -> DataFrame:
    """`side` is an int column on the (single, pre-tagged) input stream:
    1 = left (emit one enriched output row), 0 = right (update the key's
    point-in-time state). Two physical streams union into this shape.

    Output: (key, ts, *left_cols, r_{ts}, *r_{right_cols}) — the right
    fields NULL when no right row precedes the left row.
    """
    cols = list(dict.fromkeys([key, ts, side, tiebreak, *left_cols, *right_cols]))
    pruned = stream.select(*cols)
    ts_is_ntz = isinstance(pruned.schema[ts].dataType, T.TimestampNTZType)
    if ts_is_ntz:
        # watermarks need TIMESTAMP; with the session tz pinned (UTC in
        # this repo's sessions) the values are unchanged
        pruned = pruned.withColumn(ts, F.col(ts).cast("timestamp"))
    out_schema = _out_schema(pruned, key, ts, left_cols, right_cols)
    out_names = [f.name for f in out_schema.fields]
    buf_cols = [c for c in pruned.columns]
    handler = _make_handler(
        ts, side, left_cols, right_cols, tiebreak, right_ttl_ms, out_names, buf_cols
    )

    from .processor import apply_state_store_defaults

    apply_state_store_defaults(stream.sparkSession)
    return (
        pruned.withWatermark(ts, watermark_delay)
        .groupBy(key)
        .applyInPandasWithState(
            handler,
            outputStructType=out_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )

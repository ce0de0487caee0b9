"""Correctness gates: each workload's output against an independent
recomputation, run outside the timed region.

- shared windows: one single-family Catalyst plan per window family
  (``F.window`` for tumbling/sliding, a lag-based gaps-and-islands plan
  for sessions), unioned and full-outer-joined with the engine's output
  in one distributed job;
- kernel rollup: pandas over the same generated rows for sampled keys;
- stream: the batch path over the same rows, for the windows the final
  watermark closed.

Session semantics follow the engine's documented rule: a row joins the
open session when it lies within ``gap`` of the session's last row
(``ts − prev ≤ gap``), and the session reports ``[first, last + gap)``.
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from scotty_window_processor_spark.operators import SessionWindow, SlidingWindow, WindowMeasure

REL_TOL = 1e-8
JOIN_KEYS = ["conv_id", "window_id", "w_start", "w_end"]


def key_sample(seed: int, share: int = 4):
    """Filter for about 1/``share`` of the conversations plus every hot
    one, chosen by a seeded hash of the key."""
    return (F.pmod(F.xxhash64("conv_id", F.lit(seed)), F.lit(share)) == 0) | F.col(
        "conv_id").startswith("hotconv_")


def _catalyst_family(df: DataFrame, w, value: str) -> DataFrame:
    ms = F.unix_millis(F.col("ts"))
    aggs = [F.count(F.lit(1)).alias("o_n"), F.sum(value).alias("o_sum"), F.avg(value).alias("o_mean")]
    if isinstance(w, SessionWindow):
        by_ts = W.partitionBy("conv_id").orderBy("ms")
        islands = (
            df.withColumn("ms", ms)
            .withColumn("prev", F.lag("ms").over(by_ts))
            .withColumn("new", F.when(F.col("prev").isNull() | (F.col("ms") - F.col("prev") > w.gap), 1)
                        .otherwise(0))
            .withColumn("sid", F.sum("new").over(by_ts.rowsBetween(W.unboundedPreceding, W.currentRow)))
        )
        return islands.groupBy("conv_id", "sid").agg(
            F.min("ms").alias("w_start"), (F.max("ms") + w.gap).alias("w_end"), *aggs
        ).select("conv_id", F.lit(w.window_id).cast("long").alias("window_id"),
                 "w_start", "w_end", "o_n", "o_sum", "o_mean")
    slide = w.slide if isinstance(w, SlidingWindow) else w.size
    win = F.window("ts", f"{w.size} milliseconds", f"{slide} milliseconds")
    return df.groupBy("conv_id", win.alias("w")).agg(*aggs).select(
        "conv_id", F.lit(w.window_id).cast("long").alias("window_id"),
        F.unix_millis(F.col("w.start")).alias("w_start"),
        F.unix_millis(F.col("w.end")).alias("w_end"), "o_n", "o_sum", "o_mean",
    )


def _close(a, b):
    return F.abs(a - b) <= F.lit(REL_TOL) * F.greatest(F.abs(a), F.abs(b))


def shared_windows_gate(df: DataFrame, engine_out: DataFrame, windows, value: str) -> Tuple[int, int]:
    """(engine rows, mismatching rows) of the engine's output against the
    per-family Catalyst plans; a row missing on either side mismatches."""
    oracle = None
    for w in windows:
        fam = _catalyst_family(df, w, value)
        oracle = fam if oracle is None else oracle.unionByName(fam)
    joined = engine_out.join(oracle, JOIN_KEYS, "full_outer")
    bad = (
        F.col("n").isNull() | F.col("o_n").isNull()
        | (F.col("n") != F.col("o_n"))
        | ~_close(F.col("sum_words"), F.col("o_sum"))
        | ~_close(F.col("mean_words"), F.col("o_mean"))
    )
    row = joined.agg(
        F.count(F.col("n")).alias("rows"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("bad"),
    ).collect()[0]
    return int(row["rows"]), int(row["bad"] or 0)


# -- kernel rollup (pandas) -------------------------------------------------


def _tally(tools) -> str:
    counts: Dict[str, int] = {}
    for t in tools:
        if t:
            counts[t] = counts.get(t, 0) + 1
    return ",".join(f"{k}={v}" for k, v in sorted(counts.items()))


def _rollup(group: pd.DataFrame) -> str:
    g = group.sort_values("turn_idx")
    by_role: Dict[str, List[str]] = {}
    for role, text in zip(g["role"], g["text"]):
        by_role.setdefault(role, []).append(text)
    return "|".join(f"{r}:{';'.join(t)}" for r, t in sorted(by_role.items()))


def rollup_oracle(rows: pd.DataFrame, windows) -> set:
    """Expected (conv_id, window_id, measure, w_start, w_end, n, tools,
    rollup) rows for the given keys' input rows."""
    out = set()
    for conv, g in rows.groupby("conv_id", sort=False):
        g = g.sort_values("ts_ms", kind="mergesort").reset_index(drop=True)
        ts = g["ts_ms"].to_numpy()
        for w in windows:
            if isinstance(w, SessionWindow):
                new = np.ones(len(ts), dtype=bool)
                new[1:] = np.diff(ts) > w.gap
                ids = np.cumsum(new)
                parts = [(g[ids == i], "time") for i in np.unique(ids)]
                spans = [(int(p["ts_ms"].min()), int(p["ts_ms"].max()) + w.gap) for p, _ in parts]
            elif w.measure == WindowMeasure.COUNT:
                full = len(ts) // w.size
                parts = [(g.iloc[k * w.size:(k + 1) * w.size], "count") for k in range(full)]
                spans = [(k * w.size, (k + 1) * w.size) for k in range(full)]
            else:
                k = ts // w.size
                parts = [(g[k == v], "time") for v in np.unique(k)]
                spans = [(int(v) * w.size, (int(v) + 1) * w.size) for v in np.unique(k)]
            for (p, measure), (s, e) in zip(parts, spans):
                out.add((conv, w.window_id, measure, s, e, len(p), _tally(p["tool"]), _rollup(p)))
    return out


def sample_unique_ts_keys(df: DataFrame, seed: int, n: int) -> List[str]:
    """``n`` keys (hot conversations first) whose event times are all
    distinct, so count windows have one correct membership."""
    cand = (
        df.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("c"), F.countDistinct("ts").alias("d"))
        .where(F.col("c") == F.col("d"))
        .orderBy(F.col("conv_id").startswith("hotconv_").desc(), F.xxhash64("conv_id", F.lit(seed)))
        .limit(n)
        .collect()
    )
    return [r["conv_id"] for r in cand]


def kernel_rollup_gate(df: DataFrame, engine_out: DataFrame, windows, keys: Sequence[str]) -> Tuple[int, int]:
    """(engine rows checked, mismatches) for the sampled keys; a mismatch
    is a row present on one side only."""
    rows = (
        df.where(F.col("conv_id").isin(list(keys)))
        .select("conv_id", "turn_idx", "role", "text", "tool", F.unix_millis("ts").alias("ts_ms"))
        .toPandas()
    )
    expected = rollup_oracle(rows, windows)
    got_pdf = engine_out.where(F.col("conv_id").isin(list(keys))).toPandas()
    got = {
        (r.conv_id, int(r.window_id), r.measure, int(r.w_start), int(r.w_end), int(r.n),
         r.tools or "", r.rollup or "")
        for r in got_pdf.itertuples(index=False)
    }
    return len(got_pdf), len(expected ^ got) + (len(got_pdf) - len(got))


# -- stream -----------------------------------------------------------------


def stream_gate(sink_rows: pd.DataFrame, batch_rows: pd.DataFrame, final_wm: int) -> Tuple[set, int]:
    """Compare the sink's rows with the batch path's, over the windows the
    final watermark closed. Returns (batch ids holding a wrong or
    duplicated row, number of closed windows missing from the sink)."""
    sink = sink_rows[sink_rows["w_end"] < final_wm]
    want = batch_rows[batch_rows["w_end"] < final_wm].set_index(JOIN_KEYS)
    bad_batches = set(sink.loc[sink.duplicated(JOIN_KEYS, keep=False), "batch_id"].tolist())
    seen = set()
    for r in sink.itertuples(index=False):
        k = (r.conv_id, r.window_id, r.w_start, r.w_end)
        seen.add(k)
        if k not in want.index:
            bad_batches.add(r.batch_id)
            continue
        o = want.loc[k]
        ok = int(o["n"]) == int(r.n) and all(
            abs(float(o[c]) - float(getattr(r, c))) <= REL_TOL * max(abs(float(o[c])), abs(float(getattr(r, c))))
            for c in ("sum_words", "mean_words")
        )
        if not ok:
            bad_batches.add(r.batch_id)
    missing = sum(1 for k in want.index if k not in seen)
    return bad_batches, missing

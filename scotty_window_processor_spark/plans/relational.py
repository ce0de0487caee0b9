"""Relational queries over ``events`` that the windowing engine leans on.

The reference has no relational layer at all (SURVEY.md §2.3). Two
queries stay here:

- ``interval_self_join``: a ts-range interval self-join, the batch shape
  (and the DuckDB-gated oracle) of the stream-stream "stateful join" in
  streaming/join.py;
- ``transcript_integrity_audit``: a per-key check that turn order is
  stable before windows trust it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_self_join(events: DataFrame, window_ms: int = 3_600_000) -> DataFrame:
    """For each error event, count same-user purchases within the next
    hour: the batch expression of a stream-stream interval join (both
    sides shuffle once on user_id; the range predicate is evaluated
    post-join JVM-side; in streaming the same predicate bounds state)."""
    err = events.where(F.col("event_type") == "error").select(
        F.col("user_id"), F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    pur = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("pur_ts"), F.col("value").alias("pur_value")
    )
    # interval arithmetic keeps ntz timestamps ntz (no session-tz coupling)
    horizon = err["err_ts"] + F.expr(f"INTERVAL {window_ms // 1000} SECONDS")
    joined = err.join(
        pur,
        (err["user_id"] == pur["user_id"])
        & (pur["pur_ts"] > err["err_ts"])
        & (pur["pur_ts"] <= horizon),
        "left",
    )
    return (
        joined.groupBy(err["user_id"].alias("user_id"), "err_id")
        .agg(
            F.count(F.col("pur_ts")).alias("n_purchases"),
            F.round(F.coalesce(F.sum("pur_value"), F.lit(0.0)), 2).alias("purchase_value"),
        )
    )


def transcript_integrity_audit(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    seq: str = "event_id",
    kind: str = "event_type",
    gap_ms: int = 1_800_000,
) -> DataFrame:
    """Per-conversation ingestion-quality audit — the validation pass a
    transcript pipeline runs before trusting turn ordering downstream
    (the north rule's "per-turn text equality under stable turn
    ordering" only holds if ordering is actually stable).

    Per key, over rows ordered by the stable sequence column ``seq``:

    - n_turns, n_kinds (distinct roles/event types), span_ms;
    - n_ts_inversions — rows whose event-time goes BACKWARD relative to
      the previous row in sequence order (out-of-order arrivals the
      windowing kernel must repair);
    - n_ts_dups — rows sharing the previous row's exact timestamp
      (ordering within them is only stable thanks to ``seq``);
    - max_gap_ms — largest forward time gap, and n_sessions — 1 + the
      number of gaps > ``gap_ms`` (the session-window count the same
      gap parameter would produce);
    - n_kind_repeats — rows repeating the previous row's type (the
      "same speaker twice" signal in role-alternation terms).

    One exchange (hash on the key) feeding a single sort + window pass;
    all deltas come from one lag() family over the same window, then a
    partial+final aggregation to key grain — no self-joins, no second
    shuffle (the agg reuses the window's hash partitioning)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(key).orderBy(seq)
    ts_ms = F.unix_millis(F.col(ts).cast("timestamp"))
    cur = (
        events.select(key, seq, kind, ts_ms.alias("_ts_ms"))
        .withColumn("_prev_ts", F.lag("_ts_ms").over(w))
        .withColumn("_prev_kind", F.lag(kind).over(w))
    )
    delta = F.col("_ts_ms") - F.col("_prev_ts")
    return cur.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct(kind).alias("n_kinds"),
        (F.max("_ts_ms") - F.min("_ts_ms")).alias("span_ms"),
        F.sum(F.when(delta < 0, 1).otherwise(0)).alias("n_ts_inversions"),
        F.sum(F.when(delta == 0, 1).otherwise(0)).alias("n_ts_dups"),
        F.max(F.when(delta > 0, delta)).alias("max_gap_ms"),
        (F.sum(F.when(delta > gap_ms, 1).otherwise(0)) + F.lit(1)).alias("n_sessions"),
        F.sum(
            F.when(F.col(kind) == F.col("_prev_kind"), 1).otherwise(0)
        ).alias("n_kind_repeats"),
    )

"""Hot-key skew handling: salted repartition + partial-window de-salting.

At 10^12 turns a single hot conv_id breaks per-key sequential processing
(one Python worker gets the whole key). For **associative, commutative**
aggregates over **fixed (tumbling/sliding) time windows** salting is safe:
slice partials computed per (key, salt) combine across salts because window
edges are data-independent. The two-level plan mirrors the reference's
intended (never-shipped) distributed mode — child slicers emitting partial
windows merged by a window merger (benchmark/.../distributed/
ChildNodeBenchmark.java:76-93) — expressed here as Spark-native
groupBy(key, salt) → groupBy(key, window) partial/final aggregation.

Session windows are NOT salted (gap semantics are global per key: a salt
boundary could split a session); callers route session queries unsalted.
For keys beyond the unsalted path's per-task floor (~T/2M s for a T-turn
conversation, BENCH/hotkey_ceiling.md), ``presplit_session_aggregate``
is the escape hatch: time-bucketed pre-aggregation with a gap-aware
stitch at bucket boundaries — intra-key parallelism without changing the
emitted sessions.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.windows import SessionWindow, WindowMeasure


def with_salt(
    df: DataFrame,
    key: str,
    n_salts: int = 16,
    hot_keys: Optional[Sequence[str]] = None,
    salt_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Add a deterministic salt column: hot keys spread over ``n_salts``
    buckets, other keys keep salt 0 (no extra combine cost).

    The salt is a pure function of row CONTENT (``salt_cols``, default all
    columns) — never of partition position: a content hash survives task
    retries and input re-splits, whereas position-derived salts
    (monotonically_increasing_id) re-route rows on recomputation after a
    fetch failure (SPARK-23207 class) and would double-count or lose rows
    in any downstream exchange reuse.

    Caveats: byte-identical duplicate rows of a hot key land in ONE salt
    bucket (content-determinism and spread are in tension; real event rows
    carry a unique id/ts, so pass those as ``salt_cols``). Map-typed
    columns are not hashable by xxhash64 and are excluded from the
    default column set.

    Without a hot-key list, all keys are salted — appropriate when key
    cardinality is low relative to executors."""
    if salt_cols is not None:
        cols = list(salt_cols)
    else:
        from pyspark.sql.types import MapType

        cols = [f.name for f in df.schema.fields if not isinstance(f.dataType, MapType)]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salts)).cast("int")
    if hot_keys is not None:
        salt = F.when(F.col(key).isin(list(hot_keys)), salt).otherwise(F.lit(0))
    return df.withColumn("_salt", salt)


def salted_window_aggregate(
    df: DataFrame,
    key: str,
    ts: str,
    size: str,
    partials: Dict[str, Column],
    finals: Dict[str, Column],
    n_salts: int = 16,
    hot_keys: Optional[Sequence[str]] = None,
    slide: Optional[str] = None,
) -> DataFrame:
    """Two-level windowed aggregation for skewed keys.

    ``partials`` aggregate within (key, salt, window); ``finals`` combine
    the salted partials per (key, window). E.g. count → partial
    F.count(...), final F.sum(...). Spark already does map-side partial
    aggregation; explicit salting additionally splits a single hot
    reduce-side group across ``n_salts`` tasks."""
    w = F.window(F.col(ts), size, slide) if slide else F.window(F.col(ts), size)
    salted = with_salt(df, key, n_salts, hot_keys)
    stage1 = salted.groupBy(F.col(key), F.col("_salt"), w.alias("w")).agg(
        *[c.alias(n) for n, c in partials.items()]
    )
    return (
        stage1.groupBy(key, "w")
        .agg(*[c.alias(n) for n, c in finals.items()])
        .select(
            F.col(key),
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("w_start"),
            F.unix_millis(F.col("w.end").cast("timestamp")).alias("w_end"),
            *[F.col(n) for n in finals],
        )
    )


def presplit_session_aggregate(
    df: DataFrame,
    key: str,
    ts: str,
    gap_ms: int,
    partials: Dict[str, Column],
    finals: Dict[str, Column],
    bucket_ms: int = 86_400_000,
) -> DataFrame:
    """Session aggregation with INTRA-KEY parallelism: the escape hatch
    for conv_ids beyond the unsalted path's single-task floor
    (BENCH/hotkey_ceiling.md: ≈T/2M s for a T-turn key — a 10^9-turn
    conversation is minutes on one task no matter how many executors).

    Three stages, same emitted sessions as the one-pass
    ``window_aggregate`` over a ``SessionWindow``:

    1. Bucket rows by ``floor(ts / bucket_ms)`` and run gaps-and-islands
       WITHIN each (key, bucket) — the shuffle/sort key is (key, bucket),
       so one hot key spreads over as many tasks as time buckets it
       spans. Each island is pre-aggregated to one sub-session row
       (start, end, ``partials``).
    2. Only the FIRST and LAST island of each bucket can merge across a
       boundary (interior islands have a >gap separation on both sides
       inside their bucket); interior islands are therefore already
       final sessions and bypass the stitch. This caps the per-key
       stitch input at 2 rows per bucket — ∝ time span, not event count.
    3. Stitch the boundary islands per key with the same
       ``start − prev_end > gap`` rule over the (tiny) sub-session
       stream, then combine ``partials`` with ``finals``.

    The island rule composes exactly: within-bucket islands use
    ``diff > gap`` and the stitch re-merges any boundary-split pieces
    with ``diff <= gap``, so the result equals the global
    gaps-and-islands for ANY bucket_ms (empty buckets included — a
    session spanning k buckets arrives as k boundary pieces and the
    stitch chains them). ``partials``/``finals`` must form an
    associative combine (the same contract as salted_window_aggregate:
    count → partial count, final sum).

    Output: (key, w_start = epoch-ms first event, w_end = epoch-ms last
    event + gap, *finals) — identical shape and semantics to
    the one-pass session plan / the reference's SessionWindow trigger
    (SessionWindow.java:118-133)."""
    from pyspark.sql.window import Window as SW

    ts_ms = F.unix_millis(F.col(ts).cast("timestamp"))
    rows = df.withColumn("_ts_ms", ts_ms).withColumn(
        "_bkt", F.floor(F.col("_ts_ms") / F.lit(int(bucket_ms)))
    )
    wkb = SW.partitionBy(key, "_bkt").orderBy("_ts_ms")
    prev = F.lag("_ts_ms").over(wkb)
    new_island = (prev.isNull() | (F.col("_ts_ms") - prev > F.lit(int(gap_ms)))).cast(
        "long"
    )
    islands = rows.withColumn(
        "_isl",
        F.sum(new_island).over(wkb.rowsBetween(SW.unboundedPreceding, SW.currentRow)),
    )
    subs = islands.groupBy(key, "_bkt", "_isl").agg(
        F.min("_ts_ms").alias("_s"),
        F.max("_ts_ms").alias("_e"),
        *[c.alias(n) for n, c in partials.items()],
    )
    n_isl = F.max("_isl").over(SW.partitionBy(key, "_bkt"))
    # materialize the sub-session table once: the interior and stitch
    # branches of the union below both consume it, and physical plans are
    # trees — without the cut each branch re-runs the scan + the
    # (key, bucket) shuffle + both window passes (2× everything, verified
    # in the sf0.01 plan). The frame is one row per (key, bucket, island)
    # — already aggregated, ≤ session count ≪ input rows, and in the
    # routed production path the presplit input is only the hot keys.
    subs = subs.withColumn(
        "_edge", (F.col("_isl") == 1) | (F.col("_isl") == n_isl)
    ).localCheckpoint(eager=True)

    out_cols = lambda: [  # noqa: E731 - tiny local shape helper
        F.col(key),
        F.col("_s").alias("w_start"),
        (F.col("_e") + F.lit(int(gap_ms))).alias("w_end"),
        *[F.col(n) for n in finals],
    ]

    # interior islands: already-final sessions; finals over a singleton
    # partial group (groupBy on the unique (key, _bkt, _isl))
    interior = (
        subs.where(~F.col("_edge"))
        .groupBy(key, "_bkt", "_isl")
        .agg(
            F.min("_s").alias("_s"),
            F.max("_e").alias("_e"),
            *[c.alias(n) for n, c in finals.items()],
        )
        .select(*out_cols())
    )

    wk = SW.partitionBy(key).orderBy("_s")
    prev_e = F.lag("_e").over(wk)
    new_sess = (prev_e.isNull() | (F.col("_s") - prev_e > F.lit(int(gap_ms)))).cast(
        "long"
    )
    stitched = (
        subs.where(F.col("_edge"))
        .withColumn(
            "_sid",
            F.sum(new_sess).over(wk.rowsBetween(SW.unboundedPreceding, SW.currentRow)),
        )
        .groupBy(key, "_sid")
        .agg(
            F.min("_s").alias("_s"),
            F.max("_e").alias("_e"),
            *[c.alias(n) for n, c in finals.items()],
        )
        .select(*out_cols())
    )
    return interior.unionByName(stitched)


def routed_session_aggregate(
    df: DataFrame,
    key: str,
    ts: str,
    gap_ms: int,
    aggs: Dict[str, Column],
    partials: Dict[str, Column],
    finals: Dict[str, Column],
    hot_keys: Optional[Sequence] = None,
    min_hot_rows: int = 1_000_000,
    bucket_ms: int = 86_400_000,
    sample_rows: int = 2_000_000,
) -> DataFrame:
    """Cost-based routing for session aggregation: keys past the
    presplit break-even go through ``presplit_session_aggregate``
    (intra-key parallel), everything else through the one-pass unsalted
    session plan (``windowed.window_aggregate``) — the engine applies
    its own escape hatch.

    ``aggs`` is the one-pass aggregate dict (cold path);
    ``partials``/``finals`` the two-level equivalent (hot path). The
    caller guarantees the two express the SAME aggregate (e.g. one-pass
    ``round(sum(v),2)`` ≡ partial ``sum(v)`` + final
    ``round(sum(sum_v),2)``); the parity suite pins this for the
    count/sum contract the gates use.

    ``hot_keys=None`` auto-detects: per-key counts on a sample targeting
    ``sample_rows`` rows (exact when the input is smaller), flagging
    keys whose ESTIMATED count (sample count / fraction) exceeds
    ``min_hot_rows``. The default threshold is the measured break-even
    from BENCH/presplit_session.md — below ~10^6 rows/key the one-pass
    merge is at parity or better, so routing is worth it only for keys
    whose single-task floor (~T/2M s) is visible in the stage time. The
    flagged list is collected to the driver (bounded: keys above a fixed
    share of the input — a handful by construction) and applied as an
    ``isin`` literal, which Catalyst pushes down both scans.

    NULL keys route cold (``isin`` is never true for NULL, and the
    explicit null-check keeps them out of the hot scan's complement
    leak)."""
    from .windowed import window_aggregate

    session = SessionWindow(WindowMeasure.TIME, gap_ms)
    if hot_keys is None:
        n = df.count()
        if n == 0:
            hot_keys = []
        else:
            f = min(1.0, sample_rows / n)
            sampled = df.sample(fraction=f, seed=13) if f < 1.0 else df
            hot_keys = [
                r[0]
                for r in sampled.groupBy(key)
                .count()
                .where(F.col("count") > F.lit(float(min_hot_rows) * f))
                .select(key)
                .collect()
            ]
    hot_keys = list(hot_keys)
    if not hot_keys:
        return window_aggregate(df, key, ts, session, aggs)
    cold = df.where(F.col(key).isNull() | ~F.col(key).isin(hot_keys))
    hot = df.where(F.col(key).isin(hot_keys))
    return window_aggregate(cold, key, ts, session, aggs).unionByName(
        presplit_session_aggregate(
            hot, key, ts, gap_ms, partials, finals, bucket_ms=bucket_ms
        )
    )

"""Hot-key skew handling for fixed windows: salted partials, de-salted per key.

For **associative, commutative** aggregates over **fixed (tumbling/
sliding) time windows** salting is safe: window edges are
data-independent, so partials computed per (key, salt, window) combine
across salts. The two-level plan mirrors the reference's intended
(never-shipped) distributed mode — child slicers emitting partial windows
merged by a window merger (benchmark/.../distributed/
ChildNodeBenchmark.java:76-93) — as the one Catalyst window plan
(``windowed.window_aggregate``) grouped by (key, salt), then one
groupBy(key, window) combine.

Session windows are not salted: gap semantics are global per key, so a
salt boundary would split a session. Sessions run unsalted through
``windowed.window_aggregate``; there is no intra-key escape hatch.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.windows import SessionWindow, Window
from .windowed import window_aggregate


def with_salt(
    df: DataFrame,
    key: str,
    n_salts: int = 16,
    hot_keys: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Add a deterministic salt column: hot keys spread over ``n_salts``
    buckets, other keys keep salt 0 (no extra combine cost).

    The salt is a pure function of row CONTENT (every column but the
    map-typed ones, which xxhash64 cannot hash) — never of partition
    position: a content hash survives task retries and input re-splits,
    whereas position-derived salts (monotonically_increasing_id) re-route
    rows on recomputation after a fetch failure (SPARK-23207 class) and
    would double-count or lose rows in any downstream exchange reuse.
    Byte-identical duplicate rows of a hot key therefore share one salt.

    Without a hot-key list, all keys are salted — appropriate when key
    cardinality is low relative to executors."""
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
    w: Window,
    partials: Dict[str, Column],
    finals: Dict[str, Column],
    n_salts: int = 16,
    hot_keys: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Two-level windowed aggregation of one fixed time window for skewed keys.

    ``partials`` aggregate within (key, salt, window); ``finals`` combine
    the salted partials per (key, window). E.g. count → partial
    F.count(...), final F.sum(...). Spark already does map-side partial
    aggregation; explicit salting additionally splits a single hot
    reduce-side group across ``n_salts`` tasks.

    Emits ``key, w_start, w_end, *finals`` with epoch-ms bounds, like
    ``window_aggregate``. Count-measure windows raise there; session
    windows raise here."""
    if isinstance(w, SessionWindow):
        raise ValueError("salting splits sessions: run session windows unsalted")
    salted = with_salt(df, key, n_salts, hot_keys)
    stage1 = window_aggregate(salted, [key, "_salt"], ts, w, partials)
    return stage1.groupBy(key, "w_start", "w_end").agg(*[c.alias(n) for n, c in finals.items()])

"""Batch (DataFrame/Catalyst) implementations of the engine's operators.

Everything here is declarative DataFrame/SQL first: Catalyst gets to push
filters into the parquet scan, prune columns, broadcast small join sides,
and keep the hot path inside whole-stage codegen. Python only appears in
the batch slicer behind ``scotty_batch`` (``vectorized_multi``) —
Arrow-batched, never per row.
"""

import functools

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T


_BUCKET_CAP = 32768  # stage task-count ceiling


def adaptive_buckets(df) -> int:
    """Bucket count for the batch slicer's shuffle, sized so each task carries
    roughly one TARGET UNIT of rows — max(spark.sql.execution.arrow
    .maxRecordsPerBatch, 65536) — instead of inheriting
    spark.sql.shuffle.partitions. Under a small maxRecordsPerBatch config
    a task therefore carries SEVERAL Arrow batches (the 65536-row floor
    is the real task-size target, keeping tiny-batch configs from
    exploding the task count); at the bench's 262144-row batches it is
    one batch per task.

    Why: the slicer is CPU/Arrow-bound, not shuffle-byte-bound —
    the right task size is ~one Arrow batch, far SMALLER than AQE's
    64 MB byte advisory. Measured on the 64M-turn flagship at local[16]:
    32 buckets (the old cpus×2 formula) = 49.7 s; 256 buckets (= rows /
    maxRecordsPerBatch) = 20.6 s — 2.4×. At local[4] the same change is
    103→54 s, so the win is task sizing, not parallelism.

    The row count comes from driver-side plan statistics (no job):
    optimizedPlan sizeInBytes over a calibrated ~4 compressed bytes per
    column per row (string-keyed parquet transcripts measure 13.8 B/row
    across 3 columns). Precision is not needed — the wall-time curve is
    flat within 2× of the optimum — so the estimate only has to land the
    right order of magnitude. Clamped to [defaultParallelism, 32768]: the
    floor gives every core a task, and spark.sql.shuffle.partitions plays
    no part (at Spark's default of 200, a 400k-row query ran 200 tasks of
    ~2k rows: 1.33 s against 0.68 s at 4 tasks); at 100 TB the cap keeps
    the stage under ~32k tasks.
    """
    spark = df.sparkSession
    lo = spark.sparkContext.defaultParallelism or 1
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return lo
    if size <= 0 or size > 1 << 55:  # unstatted plans report a huge sentinel
        return lo
    rows_est = size // (4 * max(len(df.columns), 4))
    try:
        batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    except ValueError:
        batch = 10000
    target = max(batch, 65536)  # tiny-batch configs should not explode task count
    want = -(-rows_est // target)
    return int(min(max(lo, want), _BUCKET_CAP))


def key_exchange(df, key: str, ts: str, value, arrival_order=None):
    """The one exchange of the batch slicer: every row of a key in one
    partition, in no particular order. The slicer holds its whole
    partition in memory anyway, so it orders the rows itself with
    ``partition_order`` instead of asking Spark for a sort.

    In value mode only the key, event time, value and tie break cross the
    shuffle and the Arrow boundary (never the payload columns). The
    partition count comes from ``adaptive_buckets``; an explicit
    ``repartition(n, key)`` has the REPARTITION_BY_NUM origin, which AQE
    does not coalesce by shuffle bytes (tiny for pruned columns) onto one
    CPU-bound Python worker."""
    if value is not None:
        df = df.select(*dict.fromkeys([key, ts, value] + ([arrival_order] if arrival_order else [])))
    return df.repartition(adaptive_buckets(df), F.col(key))


def partition_order(key_codes, ts_ms, arrival=None):
    """Row order of one ``key_exchange`` partition: grouped by key code,
    then by event time, then by the optional arrival column. The sort is
    stable, so rows tied on every column keep the order they arrived in."""
    return np.lexsort((ts_ms, key_codes) if arrival is None else (arrival, ts_ms, key_codes))


@functools.lru_cache(maxsize=None)
def _ddl_type(ddl: str):
    """A DDL type string parsed once per process (each parse is a JVM
    round trip)."""
    return T._parse_datatype_string(ddl)


def window_output_schema(key: str, key_type, aggs):
    """Rows of both batch tiers: (key, window_id, measure, w_start, w_end,
    one column per ``AggSpec`` with its DDL type). The stream inserts
    ``emit_ts`` after ``w_end``."""
    return T.StructType(
        [
            T.StructField(key, key_type, True),
            T.StructField("window_id", T.LongType(), False),
            T.StructField("measure", T.StringType(), False),
            T.StructField("w_start", T.LongType(), False),
            T.StructField("w_end", T.LongType(), False),
        ]
        + [T.StructField(name, _ddl_type(ddl), True) for name, ddl, _ in aggs]
    )

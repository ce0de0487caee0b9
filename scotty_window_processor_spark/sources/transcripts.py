"""Deterministic multi-turn conversation transcript synthesizer.

Schema (BASELINE.json input_hint):
    conv_id: string, turn_idx: int32, role: string, text: string,
    tool: string (nullable), ts: timestamp

Design notes for scale: the generator is pure Catalyst expressions over
``spark.range`` — no driver-side data, no Python UDFs — so the same code
synthesizes 10k rows for a unit test or 10^12 rows across 1000 executors
(spark.range is split across partitions). Determinism comes from
``xxhash64`` of the row id with fixed seeds, not from RNG state.

The reference has only in-process demo generators
(flink-connector/.../demo/DemoSource.java:11-43, benchmark/.../
LoadGeneratorSource.java:10-87, wall-clock timestamps, non-reproducible);
this source is the deterministic, distributed replacement.

Skew: a configurable number of "hot" conversations get ``hot_factor``×
more turns than the median, so one key dominates its partition.
Disorder: a deterministic ~``disorder_pct``% of turns have their ts pulled
back by up to ``max_disorder_ms`` (bounded out-of-order), plus a small
fraction of beyond-lateness stragglers when ``straggler_pct`` > 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROLES = ["user", "assistant", "tool", "system"]
TOOLS = ["search", "exec", "browse", "calc", "lookup"]
WORDS = [
    "plan", "step", "result", "check", "query", "token", "model", "window",
    "batch", "state", "merge", "slice", "agg", "join", "scan", "emit",
]

BASE_TS_MS = 1704067200000  # 2024-01-01T00:00:00Z


def transcripts_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )


def _build(conv_expr, turn_expr, turns_per_conv: int, seed: int, turn_gap_ms: int,
           disorder_pct: int, max_disorder_ms: int, straggler_pct: int, prefix: str):
    """Shared column recipe given conv-index and turn-index expressions."""
    h = lambda *cols, s=0: F.xxhash64(*cols, F.lit(seed + s))
    conv = conv_expr.cast("long")
    turn = turn_expr.cast("int")
    conv_id = F.concat(F.lit(prefix), F.lpad(conv.cast("string"), 8, "0"))

    # role pattern: system opener, then user/assistant alternation with a
    # deterministic ~15% of assistant turns replaced by tool turns
    is_tool = (F.pmod(h(conv, turn, s=1), F.lit(100)) < 15) & (F.pmod(turn, F.lit(2)) == 1)
    role = (
        F.when(turn == 0, F.lit("system"))
        .when(is_tool, F.lit("tool"))
        .when(F.pmod(turn, F.lit(2)) == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    tool = F.when(
        role == "tool",
        F.element_at(F.array(*[F.lit(t) for t in TOOLS]), (F.pmod(h(conv, turn, s=2), F.lit(len(TOOLS))) + 1).cast("int")),
    )

    # deterministic pseudo-text: 5-12 words drawn by hash, plus a stable
    # per-turn tag so per-turn text equality is a strong row invariant
    n_words = (F.pmod(h(conv, turn, s=3), F.lit(8)) + 5).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            F.array(*[F.lit(w) for w in WORDS]),
            (F.pmod(F.xxhash64(conv, turn, i, F.lit(seed + 4)), F.lit(len(WORDS))) + 1).cast("int"),
        ),
    )
    text = F.concat(
        F.lit("["), conv_id, F.lit(":"), turn.cast("string"), F.lit("] "),
        F.array_join(words, " "),
    )

    # event time: conversations start staggered; turns advance by a
    # deterministic 1..turn_gap_ms; bounded disorder pulls some turns back
    conv_start = BASE_TS_MS + F.pmod(h(conv, s=5), F.lit(86_400_000))
    in_gap = (F.pmod(h(conv, turn, s=6), F.lit(turn_gap_ms)) + 1)
    ts_ms = conv_start + turn.cast("long") * turn_gap_ms + in_gap
    r = F.pmod(h(conv, turn, s=7), F.lit(1000))
    disorder_shift = F.when(
        (r < disorder_pct * 10) & (turn > 0), F.pmod(h(conv, turn, s=8), F.lit(max_disorder_ms))
    ).otherwise(F.lit(0))
    straggler_shift = F.when(
        (r >= 990 - straggler_pct * 10) & (r < 990) & (turn > 3),
        F.lit(20) * F.lit(max_disorder_ms),
    ).otherwise(F.lit(0))
    ts = F.timestamp_millis(ts_ms - disorder_shift - straggler_shift)

    return [
        conv_id.alias("conv_id"),
        turn.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    ]


def synthesize_transcripts(
    spark: SparkSession,
    n_convs: int = 200,
    turns_per_conv: int = 50,
    n_hot_convs: int = 2,
    hot_factor: int = 40,
    seed: int = 42,
    turn_gap_ms: int = 30_000,
    disorder_pct: int = 8,
    max_disorder_ms: int = 25_000,
    straggler_pct: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic transcripts table; same seed ⇒ identical rows at any
    parallelism (generation is a pure function of the row id)."""
    normal = spark.range(0, n_convs * turns_per_conv, 1, partitions or spark.sparkContext.defaultParallelism)
    normal_cols = _build(
        F.col("id") / turns_per_conv, F.col("id") % turns_per_conv, turns_per_conv,
        seed, turn_gap_ms, disorder_pct, max_disorder_ms, straggler_pct, "conv_",
    )
    df = normal.select(*normal_cols)

    if n_hot_convs > 0:
        hot_turns = turns_per_conv * hot_factor
        hot = spark.range(0, n_hot_convs * hot_turns, 1, partitions or spark.sparkContext.defaultParallelism)
        hot_cols = _build(
            F.col("id") / hot_turns, F.col("id") % hot_turns, hot_turns,
            seed + 1_000_003, turn_gap_ms // 4, disorder_pct, max_disorder_ms, straggler_pct, "hotconv_",
        )
        df = df.unionAll(hot.select(*hot_cols))
    return df

"""Bounded-quantifier CEP: batch semantics vs a brute-force reference,
greedy/reluctant priority, optional steps, and streaming parity.

Pattern language: (predicate, min, max) per step — PATTERN
(S0{m0,n0} … Sk{mk,nk}) over strictly consecutive rows per key ordered by
(ts, tiebreak), AFTER MATCH SKIP TO NEXT ROW. Greedy priority = regex
{m,n} (leftmost quantifier prefers MORE repeats); a lookahead running past
the key's last row fails that expansion. The streaming matcher must drain
to exactly the batch match set (within_ms mandatory — it is what makes
tail starts decidable)."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from scotty_window_processor_spark.plans.cep import (
    expand_quantified,
    match_pattern_quantified,
)
from scotty_window_processor_spark.streaming.cep import cep_stream_quantified

from spark_fixtures import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _mk_events(spark, rows):
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_ms", "event_type", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf.pop("ts_ms"), unit="ms")
    return spark.createDataFrame(pdf)


def _steps_col(pattern):
    """pattern: [(letter, lo, hi)] -> batch Column-predicate steps."""
    return [
        ((lambda ch: lambda c: c["event_type"] == ch)(ch), lo, hi)
        for ch, lo, hi in pattern
    ]


def _steps_np(pattern):
    return [
        ((lambda ch: lambda d: d["event_type"].to_numpy() == ch)(ch), lo, hi)
        for ch, lo, hi in pattern
    ]


def _run_batch(df, pattern, within=None, greedy=True):
    return sorted(
        tuple(r)
        for r in match_pattern_quantified(
            df, key="user_id", ts="ts", steps=_steps_col(pattern),
            step_cols=["event_type"], within_ms=within, tiebreak="event_id",
            greedy=greedy,
        ).collect()
    )


def _reference(rows, pattern, within=None, greedy=True):
    """Brute-force per-start matcher with the documented priority order."""
    expansions = expand_quantified(_steps_col(pattern), greedy)
    by_key = {}
    for u, t, e, i in rows:
        by_key.setdefault(u, []).append((t, i, e))
    out = []
    for u, evs in by_key.items():
        evs.sort()
        for s in range(len(evs)):
            for counts, flat in expansions:
                L = len(flat)
                if s + L > len(evs):
                    continue  # batch: lookahead past end fails the expansion
                if any(evs[s + j][2] != pattern[flat[j]][0] for j in range(L)):
                    continue
                if within is not None and evs[s + L - 1][0] - evs[s][0] > within:
                    continue
                out.append((u, evs[s][0], evs[s + L - 1][0], L, *counts))
                break
    return sorted(out)


PAT_RETRY = [("a", 1, 1), ("b", 1, 3), ("c", 1, 1)]  # a b{1,3} c


def test_expand_priority_orders():
    greedy = [c for c, _ in expand_quantified(_steps_col(PAT_RETRY), greedy=True)]
    assert greedy == [(1, 3, 1), (1, 2, 1), (1, 1, 1)]
    lazy = [c for c, _ in expand_quantified(_steps_col(PAT_RETRY), greedy=False)]
    assert lazy == [(1, 1, 1), (1, 2, 1), (1, 3, 1)]
    with pytest.raises(ValueError):
        expand_quantified([(lambda c: c, 2, 1)])
    with pytest.raises(ValueError):
        expand_quantified([(lambda c: c, 0, 0)])


def test_batch_greedy_takes_longest(spark):
    # a b b b c: greedy start@0 consumes all three b's (len 5); the b-rows
    # are not starts (step0 wants 'a'), so exactly one match
    rows = [
        (1, 1000, "a", 1), (1, 2000, "b", 2), (1, 3000, "b", 3),
        (1, 4000, "b", 4), (1, 5000, "c", 5),
    ]
    got = _run_batch(_mk_events(spark, rows), PAT_RETRY)
    assert got == [(1, 1000, 5000, 5, 1, 3, 1)]
    assert got == _reference(rows, PAT_RETRY)


def test_batch_reluctant_takes_shortest(spark):
    # a b c c: reluctant matches a b c (len 3) — and so does greedy here,
    # because b{2,3} can't be satisfied; add a second b to separate them
    rows = [
        (1, 1000, "a", 1), (1, 2000, "b", 2), (1, 3000, "b", 3), (1, 4000, "c", 4),
    ]
    greedy = _run_batch(_mk_events(spark, rows), PAT_RETRY, greedy=True)
    lazy = _run_batch(_mk_events(spark, rows), PAT_RETRY, greedy=False)
    assert greedy == [(1, 1000, 4000, 4, 1, 2, 1)]
    # reluctant prefers (1,1,1): rows a,b,b -> step c fails on the 2nd b, so
    # it still ends up with (1,2,1) — the PRIORITY differs, the match here
    # happens to agree
    assert lazy == greedy
    assert greedy == _reference(rows, PAT_RETRY, greedy=True)
    assert lazy == _reference(rows, PAT_RETRY, greedy=False)


def test_batch_optional_step(spark):
    # a b{0,1} c: 'a c' matches with the optional step skipped (s1_n=0)
    pat = [("a", 1, 1), ("b", 0, 1), ("c", 1, 1)]
    rows = [
        (1, 1000, "a", 1), (1, 2000, "c", 2),
        (2, 1000, "a", 3), (2, 2000, "b", 4), (2, 3000, "c", 5),
    ]
    got = _run_batch(_mk_events(spark, rows), pat)
    assert got == [
        (1, 1000, 2000, 2, 1, 0, 1),
        (2, 1000, 3000, 3, 1, 1, 1),
    ]
    assert got == _reference(rows, pat)


def test_batch_within_bound_prunes_long_expansion(spark):
    # a b b c with a span bound that only the SHORT tail satisfies: the
    # greedy (1,2,1) expansion violates within, (1,1,1) fails on contiguity
    # (a,b,b), so start@0 has no match; start@1 fails step0. No matches.
    rows = [
        (1, 0, "a", 1), (1, 10_000, "b", 2), (1, 20_000, "b", 3), (1, 90_000, "c", 4),
    ]
    assert _run_batch(_mk_events(spark, rows), PAT_RETRY, within=60_000) == []
    assert _reference(rows, PAT_RETRY, within=60_000) == []
    # loosening the bound restores the greedy match
    assert _run_batch(_mk_events(spark, rows), PAT_RETRY, within=120_000) == [
        (1, 0, 90_000, 4, 1, 2, 1)
    ]


def test_batch_lookahead_past_end_falls_to_shorter(spark):
    # key ends at ...a b c: greedy tries b{3},b{2} (needs rows past the
    # end -> lead() null -> fail) then lands on b{1}
    rows = [(1, 1000, "a", 1), (1, 2000, "b", 2), (1, 3000, "c", 3)]
    got = _run_batch(_mk_events(spark, rows), PAT_RETRY)
    assert got == [(1, 1000, 3000, 3, 1, 1, 1)]
    assert got == _reference(rows, PAT_RETRY)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_batch_randomized_vs_bruteforce(spark, seed):
    import random

    rng = random.Random(seed)
    pat = rng.choice(
        [
            PAT_RETRY,
            [("a", 1, 2), ("b", 0, 2), ("c", 1, 1)],
            [("a", 0, 1), ("b", 1, 2)],
        ]
    )
    n = rng.randint(15, 50)
    rows = [
        (rng.randint(1, 3), rng.randint(0, 200) * 1_000, rng.choice("abc"), i)
        for i in range(n)
    ]
    within = rng.choice([None, 60_000])
    greedy = rng.choice([True, False])
    # reference orders ties by (ts, event_id) — rows have unique event_id
    got = _run_batch(_mk_events(spark, rows), pat, within=within, greedy=greedy)
    want = _reference(rows, pat, within=within, greedy=greedy)
    assert got == want


# -- streaming parity ------------------------------------------------------


def _replay_quant(spark, rows, pattern, n_files, within, greedy, queryname):
    import tempfile

    src = tempfile.mkdtemp(prefix="cepq_src_")
    ckpt = tempfile.mkdtemp(prefix="cepq_ckpt_")
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_ms", "event_type", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf.pop("ts_ms"), unit="ms")
    batch_df = spark.createDataFrame(pdf)

    sent = pdf.iloc[:1].copy()
    sent["user_id"] = -1
    sent["ts"] = pdf["ts"].max() + pd.Timedelta(days=365)
    srt = pdf.sort_values("ts", kind="mergesort")
    chunk = (len(srt) + n_files - 1) // n_files
    chunks = [srt.iloc[i * chunk : (i + 1) * chunk] for i in range(n_files)] + [sent]
    for i, part in enumerate(c for c in chunks if len(c)):
        tbl = pa.Table.from_pandas(part, preserve_index=False)
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"), "ts",
            tbl.column("ts").cast(pa.timestamp("us")),
        )
        pq.write_table(tbl, f"{src}/{i:04d}.parquet")
        os.utime(f"{src}/{i:04d}.parquet", (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(batch_df.schema).option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    result = cep_stream_quantified(
        stream, key="user_id", ts="ts", steps=_steps_np(pattern),
        step_cols=["event_type"], within_ms=within, tiebreak="event_id",
        greedy=greedy, watermark_delay="1 second",
    )
    q = (
        result.writeStream.format("memory").queryName(queryname)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r) for r in spark.table(queryname).where(F.col("user_id") >= 0).collect()
    )
    want = _run_batch(batch_df, pattern, within=within, greedy=greedy)
    return got, want


def test_stream_quant_requires_within(spark):
    with pytest.raises(ValueError, match="within_ms"):
        cep_stream_quantified(
            spark.readStream.format("rate").load(), key="value", ts="timestamp",
            steps=_steps_np(PAT_RETRY), step_cols=["event_type"], within_ms=None,
        )


def test_stream_quant_basic_parity(spark):
    rows = [
        (1, 1_000, "a", 1), (1, 61_000, "b", 2), (1, 121_000, "b", 3),
        (1, 181_000, "b", 4), (1, 241_000, "c", 5),
        (2, 1_000, "a", 6), (2, 61_000, "c", 7),
        (3, 1_000, "a", 8), (3, 61_000, "b", 9), (3, 121_000, "c", 10),
    ]
    got, want = _replay_quant(
        spark, rows, PAT_RETRY, n_files=4, within=600_000, greedy=True,
        queryname="cepq_basic",
    )
    assert got == want
    assert len(want) == 2  # key1 len5 greedy, key2 'a c' no match, key3 len3


def test_stream_quant_tail_start_decided_by_span_bound(spark):
    """A start at the key's end whose longer expansions would need future
    rows: the watermark passing start+within must refute them and emit the
    short match — this is exactly where batch lead()-null and streaming
    time-refutation must agree."""
    rows = [(1, 1_000, "a", 1), (1, 31_000, "b", 2), (1, 61_000, "c", 3)]
    got, want = _replay_quant(
        spark, rows, PAT_RETRY, n_files=3, within=600_000, greedy=True,
        queryname="cepq_tail",
    )
    assert got == want == [(1, 1_000, 61_000, 3, 1, 1, 1)]


@pytest.mark.parametrize("seed", [11, 12, 13, 14, 15])
def test_stream_quant_randomized_parity(spark, seed):
    import random

    rng = random.Random(seed)
    pat = rng.choice(
        [PAT_RETRY, [("a", 1, 2), ("b", 0, 2), ("c", 1, 1)], [("a", 0, 1), ("b", 1, 2)]]
    )
    n = rng.randint(15, 45)
    rows = [
        (rng.randint(1, 3), rng.randint(0, 200) * 1_000, rng.choice("abc"), i)
        for i in range(n)
    ]
    got, want = _replay_quant(
        spark, rows, pat, n_files=rng.randint(2, 6), within=60_000,
        greedy=rng.choice([True, False]), queryname=f"cepq_rand_{seed}",
    )
    assert got == want


# ---------------------------------------------------------------------------
# round 5: null-predicate normalization, early start refutation, and the
# expansion-count cap


def test_pred_bool_normalizes_nulls():
    """_pred_bool must map every null flavour a user predicate can emit
    (float NaN from nullable arithmetic, pd.NA from BooleanDtype, None in
    an object series) to False — the batch twins' null-is-no-match rule —
    where a bare np.asarray(..., dtype=bool) turns NaN into True and
    raises on pd.NA."""
    import numpy as np

    from scotty_window_processor_spark.streaming.cep import _pred_bool

    seq = pd.DataFrame({"x": [1.0, 2.0, 3.0]})
    cases = [
        (lambda d: np.array([True, False, True]), [True, False, True]),
        (lambda d: pd.Series([True, float("nan"), 1.0]), [True, False, True]),
        (lambda d: pd.array([True, pd.NA, False], dtype="boolean"), [True, False, False]),
        (lambda d: pd.Series([True, None, False], dtype="object"), [True, False, False]),
    ]
    for pred, want in cases:
        got = _pred_bool(pred, seq)
        assert got.dtype == bool and got.tolist() == want


def test_stream_quant_null_predicate_parity(spark):
    """A predicate built on pandas string ops (.str.contains) yields NaN
    for null input rows; pre-fix the streaming handler cast NaN to True,
    turning every null row into a wildcard that matched ALL steps — the
    batch CASE chain treats the null predicate as no-match. Both engines
    must agree: the null row breaks the run, key 1 produces no match."""
    rows = [
        (1, 1_000, "a", 1), (1, 61_000, None, 2), (1, 121_000, "b", 3),
        (1, 181_000, "c", 4),
        (2, 1_000, "a", 5), (2, 61_000, "b", 6), (2, 121_000, "c", 7),
    ]
    steps_contains = [
        ((lambda ch: lambda d: d["event_type"].str.contains(ch))(ch), lo, hi)
        for ch, lo, hi in PAT_RETRY
    ]
    import tempfile

    src = tempfile.mkdtemp(prefix="cepq_null_src_")
    ckpt = tempfile.mkdtemp(prefix="cepq_null_ckpt_")
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_ms", "event_type", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf.pop("ts_ms"), unit="ms")
    batch_df = spark.createDataFrame(pdf)

    sent = pdf.iloc[:1].copy()
    sent["user_id"] = -1
    sent["ts"] = pdf["ts"].max() + pd.Timedelta(days=365)
    srt = pdf.sort_values("ts", kind="mergesort")
    chunks = [srt.iloc[:3], srt.iloc[3:], sent]
    for i, part in enumerate(chunks):
        tbl = pa.Table.from_pandas(part, preserve_index=False)
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"), "ts",
            tbl.column("ts").cast(pa.timestamp("us")),
        )
        pq.write_table(tbl, f"{src}/{i:04d}.parquet")
        os.utime(f"{src}/{i:04d}.parquet", (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(batch_df.schema).option("maxFilesPerTrigger", 1)
        .parquet(src).withColumn("ts", F.col("ts").cast("timestamp"))
    )
    result = cep_stream_quantified(
        stream, key="user_id", ts="ts", steps=steps_contains,
        step_cols=["event_type"], within_ms=600_000, tiebreak="event_id",
        greedy=True, watermark_delay="1 second",
    )
    q = (
        result.writeStream.format("memory").queryName("cepq_nullpred")
        .option("checkpointLocation", ckpt).outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r)
        for r in spark.table("cepq_nullpred").where(F.col("user_id") >= 0).collect()
    )
    want = _run_batch(batch_df, PAT_RETRY, within=600_000, greedy=True)
    assert got == want
    assert [m[0] for m in want] == [2]  # key 1's null row must break the run


def test_quant_nonstart_rows_do_not_pin_state():
    """Finalized rows whose FIRST-step predicate is false can never start
    any expansion — they must be decided immediately (not 'blocked' on an
    unevaluable longer expansion), so a key whose tail is all non-start
    rows drains its state instead of re-arming timers until within_ms."""
    import numpy as np

    from scotty_window_processor_spark.plans.cep import expand_quantified
    from scotty_window_processor_spark.streaming.cep import make_cep_quant_handler
    from test_quiesce import FakeGroupState

    steps = _steps_np(PAT_RETRY)
    handler = make_cep_quant_handler(
        "ts", steps, ["event_type"], 600_000, None,
        ["user_id", "w_start", "w_end", "match_len", "s0_n", "s1_n", "s2_n"],
        expand_quantified(steps, greedy=True),
    )

    def feed(state, rows_ms_types):
        if rows_ms_types:
            pdf = pd.DataFrame(
                {
                    "ts": pd.to_datetime([m for m, _ in rows_ms_types], unit="ms"),
                    "event_type": [t for _, t in rows_ms_types],
                }
            )
            parts = iter([pdf])
        else:
            parts = iter([])
        return list(handler(("u1",), parts, state))

    # three 'd' rows: no step's predicate accepts them, and n < L for the
    # longest expansion (a b b b c), so pre-fix they were all 'blocked'
    st = FakeGroupState(wm=0)
    feed(st, [(1_000, "d"), (2_000, "d"), (3_000, "d")])
    assert st.exists  # buffered, watermark hasn't finalized them yet
    st._wm = 4_000
    out = feed(st, [])
    assert out == []
    assert not st.exists and st.removed  # decided non-starts: state drains


def test_expansion_cap_rejects_pathological_pattern(spark):
    """Five steps of {0,9} is 10^5 expansions = 10^5 plan arms; both the
    batch matcher and the streaming twin must refuse fast with a clear
    error instead of building the plan."""
    from scotty_window_processor_spark.plans.cep import (
        MAX_EXPANSIONS,
        expand_quantified,
        match_pattern_quantified,
    )

    bad_np = [((lambda d: d["event_type"].to_numpy() == "a"), 0, 9)] * 5
    with pytest.raises(ValueError, match="cap"):
        expand_quantified(bad_np)
    df = _mk_events(spark, [(1, 1000, "a", 1)])
    with pytest.raises(ValueError, match="cap"):
        match_pattern_quantified(
            df, key="user_id", ts="ts",
            steps=_steps_col([("a", 0, 9)] * 5),
            step_cols=["event_type"], within_ms=600_000,
        )
    with pytest.raises(ValueError, match="cap"):
        cep_stream_quantified(
            spark.readStream.format("rate").load(), key="value", ts="timestamp",
            steps=bad_np, step_cols=["event_type"], within_ms=600_000,
        )
    # the cap is raisable for users who really want a wider pattern
    assert len(expand_quantified(_steps_np([("a", 0, 9)] * 2))) <= MAX_EXPANSIONS


def test_capture_rows_batch_known_attribution(spark):
    """Join-free captures: one row per consumed source row with exact
    offset / step_idx / repeat_idx attribution and the captured payload,
    for a greedy 2-click match."""
    from scotty_window_processor_spark.plans.cep import (
        match_pattern_quantified_rows,
    )

    rows = [
        (1, 1000, "a", 10), (1, 2000, "b", 11), (1, 3000, "b", 12),
        (1, 4000, "c", 13),
        (2, 1000, "a", 20), (2, 2000, "c", 21),  # no b: no match
    ]
    got = sorted(
        tuple(r)
        for r in match_pattern_quantified_rows(
            _mk_events(spark, rows), key="user_id", ts="ts",
            steps=_steps_col(PAT_RETRY), step_cols=["event_type"],
            capture=["event_type", "event_id"],
            within_ms=600_000, tiebreak="event_id",
        ).select(
            "user_id", "offset", "step_idx", "repeat_idx", "event_type",
            "event_id",
        ).collect()
    )
    assert got == [
        (1, 0, 0, 0, "a", 10),
        (1, 1, 1, 0, "b", 11),
        (1, 2, 1, 1, "b", 12),
        (1, 3, 2, 0, "c", 13),
    ]


@pytest.mark.parametrize("seed", [21, 22])
def test_capture_rows_stream_parity(spark, seed):
    """Streaming capture arrays + the stateless explode must produce
    exactly the batch capture rows on randomized inputs."""
    import random
    import tempfile

    from scotty_window_processor_spark.plans.cep import (
        match_pattern_quantified_rows,
    )
    from scotty_window_processor_spark.streaming.cep import (
        cep_stream_quantified_rows,
    )

    rng = random.Random(seed)
    n = rng.randint(20, 40)
    rows = [
        (rng.randint(1, 3), rng.randint(0, 150) * 1_000, rng.choice("abc"), i)
        for i in range(n)
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_ms", "event_type", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf.pop("ts_ms"), unit="ms")
    batch_df = spark.createDataFrame(pdf)
    cols = [
        "user_id", "w_start", "w_end", "match_len", "s0_n", "s1_n", "s2_n",
        "offset", "step_idx", "repeat_idx", "event_type", "event_id",
    ]
    want = sorted(
        tuple(r)
        for r in match_pattern_quantified_rows(
            batch_df, key="user_id", ts="ts", steps=_steps_col(PAT_RETRY),
            step_cols=["event_type"], capture=["event_type", "event_id"],
            within_ms=60_000, tiebreak="event_id",
        ).select(*cols).collect()
    )

    src = tempfile.mkdtemp(prefix="cepq_cap_src_")
    ckpt = tempfile.mkdtemp(prefix="cepq_cap_ckpt_")
    sent = pdf.iloc[:1].copy()
    sent["user_id"] = -1
    sent["ts"] = pdf["ts"].max() + pd.Timedelta(days=365)
    srt = pdf.sort_values("ts", kind="mergesort")
    k = rng.randint(2, 5)
    chunk = (len(srt) + k - 1) // k
    chunks = [srt.iloc[i * chunk : (i + 1) * chunk] for i in range(k)] + [sent]
    for i, part in enumerate(c for c in chunks if len(c)):
        tbl = pa.Table.from_pandas(part, preserve_index=False)
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"), "ts",
            tbl.column("ts").cast(pa.timestamp("us")),
        )
        pq.write_table(tbl, f"{src}/{i:04d}.parquet")
        os.utime(f"{src}/{i:04d}.parquet", (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(batch_df.schema).option("maxFilesPerTrigger", 1)
        .parquet(src).withColumn("ts", F.col("ts").cast("timestamp"))
    )
    result = cep_stream_quantified_rows(
        stream, key="user_id", ts="ts", steps=_steps_np(PAT_RETRY),
        step_cols=["event_type"], within_ms=60_000,
        capture=["event_type", "event_id"], tiebreak="event_id",
        watermark_delay="1 second",
    )
    qn = f"cepq_cap_{seed}"
    q = (
        result.writeStream.format("memory").queryName(qn)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r)
        for r in spark.table(qn).where(F.col("user_id") >= 0).select(*cols).collect()
    )
    assert got == want

"""Streaming CEP: contiguous sequence-pattern detection on a keyed stream.

Streaming twins of the batch matchers in ``plans.cep``, with the same
semantics (strictly consecutive rows per key ordered by
``(ts, tiebreak)``, AFTER MATCH SKIP TO NEXT ROW, optional ``within_ms``
span bound). A start row is decided exactly once — in the micro-batch
whose event-time watermark finalizes the rows that decide it — so each
match is emitted exactly once, and the emissions equal the batch result
on the finalized rows.

Two stateful handlers share one state protocol (``_pattern_handler``):

- ``make_cep_quant_handler`` serves every bounded pattern:
  ``cep_stream_quantified`` (``S{m,n}`` steps) and ``cep_stream``, the
  fixed-length PATTERN (S0 .. S{L-1}), which is its single {1,1}
  expansion.
- ``make_cep_plus_handler`` serves possessive unbounded repetition
  (``cep_stream_plus``).

State per key: the unfinalized row buffer (rows at or above the
watermark, the horizon the slicing operator keeps) plus the finalized
rows from the first undecided start on. A bounded start is undecided
only while an expansion's lookahead runs past the key's last finalized
row, so this tail holds fewer rows than the longest expansion. With
``within_ms`` set, a start whose span bound the watermark has passed is
refuted (any future row would violate it), and an event-time timer at
``first start + within_ms`` drains an idle key's tail and removes its
state entry. Without ``within_ms`` nothing is refuted by time and no
timer is set for the tail: for a fixed pattern the tail is at most L−1
rows per ever-seen key, kept until the key's next rows decide it.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable, Iterator, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# a step predicate sees the candidate rows as a pandas DataFrame and
# returns a boolean array aligned with them (vectorized, no per-row calls)
StepPredicateP = Callable[[pd.DataFrame], Any]

STATE_SCHEMA = T.StructType([T.StructField("blob", T.BinaryType(), True)])


def _pred_bool(p: StepPredicateP, seq: pd.DataFrame):
    """Evaluate a step predicate and normalize to a plain bool ndarray.

    Null results (NaN from a nullable-column comparison, pd.NA from a
    BooleanDtype predicate) become False — the same null-is-no-match rule
    the batch twins apply (``match_pattern_plus`` coalesces, the
    quantified CASE chain skips null predicates). A bare
    ``np.asarray(..., dtype=bool)`` would instead turn NaN into True and
    raise on pd.NA, diverging batch vs streaming."""
    out = p(seq)
    if isinstance(out, np.ndarray) and out.dtype == bool:
        return out
    s = pd.Series(out)
    return s.mask(s.isna(), False).to_numpy(dtype=bool)


def _pattern_handler(
    ts_col: str,
    keep: Sequence[str],
    within_ms: Optional[int],
    tiebreak: Optional[str],
    out_fields: Sequence[str],
    decide,
):
    """The state protocol of both stateful matchers (pure function of
    config — shippable via --py-files).

    State is ``(buf, seq, decided)``: ``buf`` the unfinalized rows,
    ``seq`` the finalized rows (sorted by ``(ts, tiebreak)``) from the
    first undecided start on, ``decided`` a flag per ``seq`` row for
    starts already decided. Each call finalizes the buffered rows below
    the watermark, then ``decide(key, seq, ts_ms, decided, time_refut)``
    returns the output rows of the newly decided matches and the mask of
    starts that are still undecided; ``time_refut`` marks the starts
    whose span bound the watermark has passed (none without
    ``within_ms``)."""
    sort_cols = ["_ts_ms"] + ([tiebreak] if tiebreak else [])
    keep = list(dict.fromkeys(list(keep) + ([tiebreak] if tiebreak else [])))

    def handler(
        key: Tuple[Any], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            buf, seq, decided = pickle.loads(state.get[0])
        else:
            buf, seq, decided = None, None, None

        new_parts = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            part = pdf[list(dict.fromkeys(keep + [ts_col]))].copy()
            part["_ts_ms"] = (
                part[ts_col].to_numpy().astype("datetime64[ms]").astype("int64")
            )
            if ts_col not in keep:
                # ts stays available when a predicate or capture names it
                # (batch parity: the batch matchers always expose ts)
                part = part.drop(columns=[ts_col])
            new_parts.append(part)
        if new_parts:
            buf = pd.concat(([buf] if buf is not None else []) + new_parts, ignore_index=True)

        wm = state.getCurrentWatermarkMs()
        rows = []
        if wm > 0:
            if buf is not None and len(buf):
                final_mask = buf["_ts_ms"].to_numpy() < wm
                newly = buf[final_mask].sort_values(sort_cols, kind="mergesort")
                buf = buf[~final_mask].reset_index(drop=True)
                if len(newly):
                    seq = pd.concat(
                        ([seq] if seq is not None else []) + [newly], ignore_index=True
                    )
                    decided = np.concatenate(
                        [
                            decided if decided is not None else np.zeros(0, dtype=bool),
                            np.zeros(len(newly), dtype=bool),
                        ]
                    )
            if seq is not None:
                n = len(seq)
                ts_ms = seq["_ts_ms"].to_numpy()
                if within_ms is None:
                    time_refut = np.zeros(n, dtype=bool)
                else:
                    time_refut = wm - ts_ms > within_ms
                rows, undecided = decide(key[0], seq, ts_ms, decided, time_refut)
                first_undec = int(np.argmax(undecided)) if undecided.any() else n
                if first_undec < n:
                    seq = seq.iloc[first_undec:].reset_index(drop=True)
                    decided = ~undecided[first_undec:]
                else:
                    seq, decided = None, None

        has_buf = buf is not None and len(buf) > 0
        if not has_buf and seq is None:
            if state.exists:
                state.remove()
        else:
            state.update((pickle.dumps((buf if has_buf else None, seq, decided)),))
            if has_buf:
                # wake when the watermark next advances so buffered rows
                # finalize even if this key sees no further data
                state.setTimeoutTimestamp(max(int(buf["_ts_ms"].min()), wm + 1))
            elif within_ms is not None:
                # only undecided starts remain: they resolve by time once
                # the watermark passes first start + within_ms. Without a
                # span bound they wait for the key's next rows.
                state.setTimeoutTimestamp(
                    max(int(seq["_ts_ms"].iloc[0]) + within_ms + 1, wm + 1)
                )

        if rows:
            yield pd.DataFrame(rows, columns=list(out_fields))

    return handler


def _pattern_stream(
    stream_df: DataFrame,
    key: str,
    ts: str,
    cols: Sequence[str],
    watermark_delay: str,
    fields: Sequence[T.StructField],
    handler,
) -> DataFrame:
    """Prune to ``cols`` + key + ts, set the watermark, and run a
    ``_pattern_handler`` per key in append mode with event-time timers;
    ``fields`` is the handler's output schema."""
    from .processor import apply_state_store_defaults

    apply_state_store_defaults(stream_df.sparkSession)
    needed = list(dict.fromkeys(list(cols) + [key, ts]))
    return (
        stream_df.select(*needed)
        .withWatermark(ts, watermark_delay)
        .groupBy(key)
        .applyInPandasWithState(
            handler,
            outputStructType=T.StructType(list(fields)),
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def make_cep_quant_handler(
    ts_col: str,
    steps: Sequence,
    cols: Sequence[str],
    within_ms: Optional[int],
    tiebreak: Optional[str],
    out_fields: Sequence[str],
    expansions: Sequence,
    capture: Sequence[str] = (),
):
    """Stateful handler for bounded-quantifier patterns, the fixed-length
    pattern included as its {1,1} case (pure function of config —
    shippable via --py-files).

    Decision protocol: an expansion's verdict on finalized rows is
    immutable, but a start row cannot be DECIDED until every
    higher-priority expansion is decided — and an expansion needing rows
    beyond the key's current end is undecidable until either those rows
    arrive or, with ``within_ms``, the watermark passes
    ``start_ts + within_ms`` (any future row would then violate the span
    bound, refuting the expansion — future rows are never late past the
    watermark). Each start is therefore decided exactly once, emitting at
    most one match. Without ``within_ms`` a start waits for its lookahead
    rows; that is decidable only when a missing lookahead means no match,
    i.e. for a single expansion (``cep_stream``).

    ``capture`` columns are emitted as per-match ARRAYS (column value of
    every consumed row in match order) — the streaming twin of the batch
    matcher's ``s_{c}`` capture arrays; the rows are already in the
    key's finalized sequence, so captures cost no extra state."""

    def decide(k, seq, ts_ms, decided, time_refut):
        n = len(seq)
        bools = [_pred_bool(p, seq) for p, _, _ in steps]
        done = decided.copy()
        undecided = np.zeros(n, dtype=bool)
        chosen = np.full(n, -1, dtype=np.int64)
        for e_idx, (counts, flat) in enumerate(expansions):
            L = len(flat)
            evaluable = np.zeros(n, dtype=bool)
            ok = np.zeros(n, dtype=bool)
            if n >= L:
                evaluable[: n - L + 1] = True
                m = np.ones(n - L + 1, dtype=bool)
                for j, s_idx in enumerate(flat):
                    m &= bools[s_idx][j : j + n - L + 1]
                if within_ms is not None:
                    m &= ts_ms[L - 1 :] - ts_ms[: n - L + 1] <= within_ms
                ok[: n - L + 1] = m
            # cannot evaluate AND cannot refute by time: the start must
            # wait (higher-priority expansions block lower) — but a row
            # whose FIRST-step predicate is already false can never start
            # this expansion regardless of lookahead, so it neither blocks
            # nor pins state
            blocked = ~done & ~evaluable & ~time_refut & bools[flat[0]]
            undecided |= blocked
            done |= blocked
            newly_matched = ~done & evaluable & ok
            chosen[newly_matched] = e_idx
            done |= newly_matched
        rows = []
        for i in np.nonzero(chosen >= 0)[0].tolist():
            counts, flat = expansions[chosen[i]]
            L = len(flat)
            rows.append(
                [k, int(ts_ms[i]), int(ts_ms[i + L - 1]), L, *counts]
                + [seq[c].iloc[i : i + L].tolist() for c in capture]
            )
        return rows, undecided

    return _pattern_handler(
        ts_col, list(cols) + list(capture), within_ms, tiebreak, out_fields, decide
    )


def _quantified_stream(
    stream_df, key, ts, steps, step_cols, within_ms, tiebreak, greedy,
    watermark_delay, capture,
) -> DataFrame:
    from ..plans.cep import expand_quantified

    expansions = expand_quantified(steps, greedy)
    fields = (
        [
            T.StructField(key, stream_df.schema[key].dataType, True),
            T.StructField("w_start", T.LongType(), False),
            T.StructField("w_end", T.LongType(), False),
            T.StructField("match_len", T.LongType(), False),
        ]
        + [T.StructField(f"s{i}_n", T.LongType(), False) for i in range(len(steps))]
        + [
            T.StructField(f"s_{c}", T.ArrayType(stream_df.schema[c].dataType), True)
            for c in capture
        ]
    )
    handler = make_cep_quant_handler(
        ts, steps, step_cols, within_ms, tiebreak,
        [f.name for f in fields], expansions, capture=capture,
    )
    cols = list(step_cols) + list(capture) + ([tiebreak] if tiebreak else [])
    return _pattern_stream(stream_df, key, ts, cols, watermark_delay, fields, handler)


def cep_stream(
    stream_df: DataFrame,
    key: str,
    ts: str,
    steps: Sequence[StepPredicateP],
    step_cols: Sequence[str],
    within_ms: Optional[int] = None,
    tiebreak: Optional[str] = None,
    capture: Sequence[str] = (),
    watermark_delay: str = "30 seconds",
) -> DataFrame:
    """Streaming contiguous-pattern matcher; returns the match stream
    (append mode) with ``plans.cep.match_pattern``'s columns. It runs the
    bounded-pattern handler on ``(step, 1, 1)`` steps — one expansion, so
    ``within_ms`` is optional — and projects the capture arrays to
    ``s{j}_{c}``. Emissions over any replayed prefix equal the batch
    ``match_pattern`` result on the finalized rows."""
    from ..plans.cep import fixed_captures

    m = _quantified_stream(
        stream_df, key, ts, [(s, 1, 1) for s in steps], step_cols, within_ms,
        tiebreak, True, watermark_delay, capture,
    )
    return fixed_captures(m, key, len(steps), capture)


def cep_stream_quantified(
    stream_df: DataFrame,
    key: str,
    ts: str,
    steps: Sequence,
    step_cols: Sequence[str],
    within_ms: int,
    tiebreak: Optional[str] = None,
    greedy: bool = True,
    watermark_delay: str = "30 seconds",
    capture: Sequence[str] = (),
) -> DataFrame:
    """Streaming twin of ``plans.cep.match_pattern_quantified``: bounded
    quantifiers ``(predicate, min, max)`` per step, greedy by default,
    emitting (key, w_start, w_end, match_len, s{i}_n) exactly once per
    decided start. ``within_ms`` is REQUIRED: without a span bound a
    start at the stream tail whose higher-priority (longer) expansion
    needs rows that may never come could never be decided — the span
    bound turns "rows that may never come" into a refutation once the
    watermark passes start + within_ms, so the stream drains to the same
    match set the batch matcher computes on the finalized rows."""
    if within_ms is None:
        raise ValueError(
            "cep_stream_quantified requires within_ms: unbounded quantified "
            "patterns are undecidable at the stream tail (see docstring)"
        )
    return _quantified_stream(
        stream_df, key, ts, steps, step_cols, within_ms, tiebreak, greedy,
        watermark_delay, capture,
    )


def cep_stream_quantified_rows(
    stream_df: DataFrame,
    key: str,
    ts: str,
    steps: Sequence,
    step_cols: Sequence[str],
    within_ms: int,
    capture: Sequence[str],
    tiebreak: Optional[str] = None,
    greedy: bool = True,
    watermark_delay: str = "30 seconds",
) -> DataFrame:
    """Streaming twin of ``plans.cep.match_pattern_quantified_rows``:
    the quantified match stream with capture arrays, exploded to one row
    per consumed source row (offset / step_idx / repeat_idx attribution).
    The explode is a STATELESS projection over the append-mode match
    stream, so exactly-once emission carries through unchanged."""
    from ..plans.cep import quantified_rows

    m = cep_stream_quantified(
        stream_df, key=key, ts=ts, steps=steps, step_cols=step_cols,
        within_ms=within_ms, tiebreak=tiebreak, greedy=greedy,
        watermark_delay=watermark_delay, capture=capture,
    )
    return quantified_rows(m, len(steps), capture)


def make_cep_plus_handler(
    ts_col: str,
    pre,
    plus,
    post,
    cols: Sequence[str],
    within_ms: int,
    tiebreak: Optional[str],
    min_repeats: int,
    out_fields: Sequence[str],
):
    """Stateful handler for PATTERN (PRE MID+ POST) with POSSESSIVE
    unbounded repetition (the streaming twin of
    plans.cep.match_pattern_plus).

    Decidability: a start's run terminator is the first FINALIZED
    non-mid row after it. While the run extends to the end of the
    finalized rows, the start defers — unless the watermark has passed
    ``start + within_ms``, in which case any future terminator (ts ≥
    watermark, rows are never late past it) would violate the span
    bound, refuting the start. So every start is decided exactly once
    and state is bounded by one ``within_ms`` horizon per key."""

    def decide(k, seq, ts_ms, decided, time_refut):
        n = len(seq)
        pre_f = _pred_bool(pre, seq)
        mid_f = _pred_bool(plus, seq)
        post_f = _pred_bool(post, seq)
        nm = np.nonzero(~mid_f)[0]
        # first finalized non-mid index after each row (n if none)
        if len(nm):
            j_idx = np.searchsorted(nm, np.arange(n) + 1)
            has_j = j_idx < len(nm)
            j = np.where(has_j, nm[np.minimum(j_idx, len(nm) - 1)], n)
        else:
            has_j = np.zeros(n, dtype=bool)
            j = np.full(n, n, dtype=np.int64)

        active = ~decided
        # non-pre rows decide (no match) immediately
        undecided = active & ~has_j & pre_f & ~time_refut
        cand = active & pre_f & has_j
        rows = []
        if cand.any():
            jj = j[cand]
            k_mid = jj - np.nonzero(cand)[0] - 1
            ok = (
                (k_mid >= min_repeats)
                & post_f[jj]
                & (ts_ms[jj] - ts_ms[cand] <= within_ms)
            )
            for i in np.nonzero(cand)[0][ok].tolist():
                rows.append([k, int(ts_ms[i]), int(ts_ms[j[i]]), int(j[i] - i - 1)])
        return rows, undecided

    return _pattern_handler(ts_col, cols, within_ms, tiebreak, out_fields, decide)


def cep_stream_plus(
    stream_df: DataFrame,
    key: str,
    ts: str,
    pre,
    plus,
    post,
    step_cols: Sequence[str],
    within_ms: int,
    tiebreak: Optional[str] = None,
    min_repeats: int = 1,
    watermark_delay: str = "30 seconds",
) -> DataFrame:
    """Streaming PATTERN (PRE MID+ POST) with possessive unbounded
    repetition; ``within_ms`` is REQUIRED (it is what makes a run that
    reaches the finalized frontier eventually decidable — see the
    handler docstring). Emits (key, w_start, w_end, n_mid) exactly once
    per decided start, equal to the batch match_pattern_plus result."""
    if within_ms is None:
        raise ValueError("cep_stream_plus requires within_ms (tail decidability)")
    fields = [
        T.StructField(key, stream_df.schema[key].dataType, True),
        T.StructField("w_start", T.LongType(), False),
        T.StructField("w_end", T.LongType(), False),
        T.StructField("n_mid", T.LongType(), False),
    ]
    handler = make_cep_plus_handler(
        ts, pre, plus, post, step_cols, within_ms, tiebreak, min_repeats,
        [f.name for f in fields],
    )
    cols = list(step_cols) + ([tiebreak] if tiebreak else [])
    return _pattern_stream(stream_df, key, ts, cols, watermark_delay, fields, handler)

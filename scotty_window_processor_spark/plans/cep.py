"""CEP: contiguous sequence-pattern detection over per-key ordered events.

The north-star engine description is "structured-streaming / CEP"; the
reference itself has no pattern operator (its CEP story is the windowing
kernel), so this plane is Spark-native by construction. Semantics are the
MATCH_RECOGNIZE core, per key ordered by ``(ts, tiebreak)``:

    PATTERN (S0{m0,n0} ... Sk{mk,nk})    -- strictly consecutive rows
    AFTER MATCH SKIP TO NEXT ROW         -- overlapping matches allowed

with an optional ``within_ms`` bound on the span of a whole match.

One matcher serves every bounded pattern: ``match_pattern_quantified``
enumerates the pattern's fixed-length expansions and compiles them into
one lead() family. ``match_pattern`` (PATTERN (S0 S1 ... S{L-1})) is its
{1,1} case — one expansion of length L — projected to per-step capture
columns. Unbounded possessive repetition (``MID+``/``MID*``) is
``match_pattern_plus``, a single gaps-and-islands pass.

100 TB plan shape: ONE exchange (hash partition by key) + one sort feed
every window function — each per-step column rides the same window
frame, the predicate conjunction is whole-stage codegen, and the
projection is pruned to ``step_cols ∪ capture ∪ {ts, tiebreak}`` before
the shuffle, so payload columns never cross it. No joins, no state.
"""

from __future__ import annotations

from typing import Callable, Dict, Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .windowed import _epoch_ms

# a step predicate sees "its" row through a {column name -> Column} view
StepPredicate = Callable[[Mapping[str, Column]], Column]


def match_pattern(
    df: DataFrame,
    key: str,
    ts: str,
    steps: Sequence[StepPredicate],
    step_cols: Sequence[str],
    within_ms: Optional[int] = None,
    tiebreak: Optional[str] = None,
    capture: Sequence[str] = (),
) -> DataFrame:
    """Detect every contiguous run of ``len(steps)`` rows matching the
    step predicates, per ``key``, ordered by ``(ts, tiebreak)``: the
    ``(pred, 1, 1)`` case of ``match_pattern_quantified``.

    ``steps[i]`` is a callable receiving a dict of that step's columns
    (``step_cols`` plus ``ts``) and returning a boolean Column, e.g.
    ``lambda c: c["event_type"] == "view"``. Rows whose lookahead runs
    past the key's last row never match (lead() yields null → predicate
    null → filtered).

    Returns one row per match: ``key``, ``w_start``/``w_end`` (epoch-ms
    of the first/last matched row) and ``s{i}_{col}`` for every capture
    column at every step."""
    if not steps:
        raise ValueError("match_pattern needs at least one step")
    m = match_pattern_quantified(
        df, key=key, ts=ts, steps=[(s, 1, 1) for s in steps],
        step_cols=step_cols, within_ms=within_ms, tiebreak=tiebreak,
        capture=capture,
    )
    return fixed_captures(m, key, len(steps), capture)


def fixed_captures(
    matches: DataFrame, key: str, n_steps: int, capture: Sequence[str]
) -> DataFrame:
    """Project a {1,1}-pattern match to the fixed matcher's columns: key,
    w_start, w_end and ``s{j}_{c}`` = ``s_{c}[j]`` (every step consumes
    exactly one row, so array position j is step j). Stateless, so it
    serves the batch matcher and the streaming match stream alike."""
    return matches.select(
        key, "w_start", "w_end",
        *[
            F.col(f"s_{c}")[j].alias(f"s{j}_{c}")
            for j in range(n_steps)
            for c in capture
        ],
    )


# unbounded (possessive) repetition ----------------------------------------


def match_pattern_plus(
    df: DataFrame,
    key: str,
    ts: str,
    pre: StepPredicate,
    plus: StepPredicate,
    post: StepPredicate,
    step_cols: Sequence[str],
    within_ms: Optional[int] = None,
    tiebreak: Optional[str] = None,
    min_repeats: int = 1,
) -> DataFrame:
    """PATTERN (PRE MID+ POST) — or MID* with ``min_repeats=0`` — with
    UNBOUNDED repetition, per key over (ts, tiebreak) order, AFTER MATCH
    SKIP TO NEXT ROW.

    Semantics are POSSESSIVE (regex ``++``): a start row matching ``pre``
    consumes the MAXIMAL contiguous run of ``plus``-rows that follows —
    no backtracking — then the FIRST non-``plus`` row after the run must
    match ``post`` and the whole span must fit ``within_ms``. Possessive
    repetition is what a single gaps-and-islands pass computes exactly
    and is decidable in the streaming twin; a backtracking greedy (SQL
    MATCH_RECOGNIZE ``+``) can trade a shorter run for a feasible tail —
    use ``match_pattern_quantified`` with an explicit bound for that.

    Plan shape: ONE exchange + one sort, NO joins and no per-length
    expansion — the run terminator is ``min(struct(pos, ...))`` over the
    (1 FOLLOWING, UNBOUNDED FOLLOWING) frame restricted to non-mid rows
    (Spark evaluates unbounded-following frames by reverse accumulation,
    linear per partition). Output: key, w_start/w_end (epoch-ms of the
    pre/post rows), ``n_mid`` (run length consumed).

    A row satisfying several predicates is fine: every ``pre`` row is an
    independent start; rows matching both mid and post are consumed into
    the run (possessive), so the post row is always the first non-mid
    row after the start."""
    if min_repeats not in (0, 1):
        raise ValueError("min_repeats must be 0 (MID*) or 1 (MID+)")
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)

    needed = list(dict.fromkeys(list(step_cols) + [ts] + ([tiebreak] if tiebreak else [])))
    view = {c: F.col(c) for c in needed}
    ts_ms = _epoch_ms(F.col(ts))
    sel = (
        df.select(key, *needed)
        .withColumn("_pos", F.row_number().over(w))
        .withColumn("_mid", F.coalesce(plus(view).cast("boolean"), F.lit(False)))
        .withColumn("_pre", F.coalesce(pre(view).cast("boolean"), F.lit(False)))
        .withColumn("_post", F.coalesce(post(view).cast("boolean"), F.lit(False)))
        .withColumn("_tms", ts_ms)
    )
    nxt = F.min(
        F.when(~F.col("_mid"), F.struct("_pos", "_tms", "_post"))
    ).over(w.rowsBetween(1, Window.unboundedFollowing))
    scored = sel.withColumn("_nxt", nxt).where(
        F.col("_pre")
        & F.col("_nxt").isNotNull()
        & F.col("_nxt._post")
        & (F.col("_nxt._pos") - F.col("_pos") - 1 >= F.lit(min_repeats))
        & (
            F.lit(True)
            if within_ms is None
            else F.col("_nxt._tms") - F.col("_tms") <= F.lit(within_ms)
        )
    )
    return scored.select(
        F.col(key),
        F.col("_tms").alias("w_start"),
        F.col("_nxt._tms").alias("w_end"),
        (F.col("_nxt._pos") - F.col("_pos") - 1).cast("long").alias("n_mid"),
    )

# a quantified step: (predicate, min_repeats, max_repeats); {1,1} is a plain
# step, {0,1} an optional one
QuantStep = "tuple[StepPredicate, int, int]"


MAX_EXPANSIONS = 1024
"""Hard cap on ∏(max−min+1) across a pattern's quantifiers. Every
expansion becomes one lead()-window arm in the batch CASE chain and one
evaluation pass per micro-batch in the streaming handler, so the cost is
LINEAR in the expansion count — e.g. five steps of ``{0,9}`` would build
a 100,000-arm plan that Catalyst chokes on long before it runs. 1024
covers every practical pattern (a funnel with three ``{1,8}`` retries is
512); patterns past the cap should be rewritten with the unbounded
possessive matcher (``match_pattern_plus``) or split into stages."""


def expand_quantified(steps, greedy: bool = True, max_expansions: int = MAX_EXPANSIONS):
    """Enumerate every fixed-length expansion of a bounded-quantifier
    pattern in MATCH priority order. Returns [(counts, flat)] where
    ``counts[i]`` is step i's repeat count and ``flat`` the per-row step
    indexes. ``greedy=True`` (the MATCH_RECOGNIZE default) prefers more
    repeats, leftmost quantifier first — regex ``{m,n}``; ``greedy=False``
    is the reluctant ``{m,n}?``. Expansion count is ∏(max−min+1): bounded
    quantifiers by construction, so the lead() family stays finite — and
    capped at ``max_expansions`` so a pathological pattern fails fast
    with a clear error instead of building a 100k-arm CASE."""
    from itertools import product

    ranges = []
    n_exp = 1
    for _, lo, hi in steps:
        if lo < 0 or hi < lo:
            raise ValueError(f"bad quantifier bounds {{{lo},{hi}}}")
        n_exp *= hi - lo + 1
        ranges.append(range(hi, lo - 1, -1) if greedy else range(lo, hi + 1))
    if n_exp > max_expansions:
        raise ValueError(
            f"pattern enumerates {n_exp} fixed-length expansions "
            f"(∏(max−min+1) over {len(steps)} steps), over the "
            f"{max_expansions} cap — each expansion is one plan arm, so "
            "this pattern would not survive planning; rewrite with "
            "match_pattern_plus (unbounded possessive) or split the "
            "pattern into stages"
        )
    out = []
    for counts in product(*ranges):
        flat = [i for i, c in enumerate(counts) for _ in range(c)]
        if flat:
            out.append((tuple(counts), flat))
    if not out:
        raise ValueError("pattern must admit at least one non-empty expansion")
    return out


def match_pattern_quantified(
    df: DataFrame,
    key: str,
    ts: str,
    steps: Sequence,
    step_cols: Sequence[str],
    within_ms: Optional[int] = None,
    tiebreak: Optional[str] = None,
    greedy: bool = True,
    capture: Sequence[str] = (),
) -> DataFrame:
    """Bounded-quantifier pattern matching: ``steps`` is a sequence of
    ``(predicate, min, max)`` triples — PATTERN (S0{m0,n0} … Sk{mk,nk}),
    contiguous rows, AFTER MATCH SKIP TO NEXT ROW. Per start row the
    first expansion in priority order (greedy by default) that matches
    wins; a lookahead running past the key's last row fails that
    expansion (lead() null).

    Returns one row per match: ``key``, ``w_start``/``w_end`` (epoch-ms
    of the first/last matched row), ``match_len``, and ``s{i}_n`` — how
    many rows step i consumed (0 for skipped optional steps).
    ``capture=[cols]`` emits ``s_{c}`` as an ARRAY holding column c of
    every consumed row in match order (length ``match_len``): the values
    already ride the lead() family the matcher builds, so captures cost
    zero extra shuffles/joins. Per-step columns are ambiguous across
    expansions; for an all-{1,1} pattern ``fixed_captures`` projects them
    (``match_pattern``), and ``match_pattern_quantified_rows`` explodes
    the arrays to MATCH_RECOGNIZE-MEASURES-style one row per consumed row
    with step attribution.

    Plan shape: ONE exchange + one sort feed a single lead() family
    sized by the LONGEST expansion; every expansion's predicate is a
    conjunction over the same lead columns, chained into one CASE
    (Catalyst CSE dedups the shared conjuncts), so the whole pattern
    stays in whole-stage codegen with no joins."""
    expansions = expand_quantified(steps, greedy)
    L_max = max(len(flat) for _, flat in expansions)
    needed = list(dict.fromkeys(list(step_cols) + list(capture) + [ts]))
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)

    proj_cols = list(dict.fromkeys(needed + ([tiebreak] if tiebreak else [])))
    sel = df.select(key, *proj_cols)
    views: list[Dict[str, Column]] = [{c: F.col(c) for c in needed}]
    lead_cols = []
    for j in range(1, L_max):
        view = {}
        for c in needed:
            name = f"_q{j}_{c}"
            lead_cols.append(F.lead(c, j).over(w).alias(name))
            view[c] = F.col(name)
        views.append(view)
    if lead_cols:
        sel = sel.select("*", *lead_cols)

    first_ms = _epoch_ms(F.col(ts))
    len_chain = end_chain = None
    count_chains: list = [None] * len(steps)
    cap_chains: Dict[str, Column] = {}
    for counts, flat in expansions:
        L = len(flat)
        pred = steps[flat[0]][0](views[0])
        for j in range(1, L):
            pred = pred & steps[flat[j]][0](views[j])
        last_ms = _epoch_ms(views[L - 1][ts])
        if within_ms is not None:
            pred = pred & (last_ms - first_ms <= F.lit(within_ms))
        cap_arrs = {
            c: F.array(*[views[j][c] for j in range(L)]) for c in capture
        }
        if len_chain is None:
            len_chain = F.when(pred, F.lit(L))
            end_chain = F.when(pred, last_ms)
            count_chains = [F.when(pred, F.lit(c)) for c in counts]
            cap_chains = {c: F.when(pred, a) for c, a in cap_arrs.items()}
        else:
            len_chain = len_chain.when(pred, F.lit(L))
            end_chain = end_chain.when(pred, last_ms)
            count_chains = [
                ch.when(pred, F.lit(c)) for ch, c in zip(count_chains, counts)
            ]
            cap_chains = {
                c: cap_chains[c].when(pred, a) for c, a in cap_arrs.items()
            }

    return sel.where(len_chain.isNotNull()).select(
        F.col(key),
        first_ms.alias("w_start"),
        end_chain.alias("w_end"),
        len_chain.cast("long").alias("match_len"),
        *[
            count_chains[i].cast("long").alias(f"s{i}_n")
            for i in range(len(steps))
        ],
        *[cap_chains[c].alias(f"s_{c}") for c in capture],
    )


def quantified_rows(
    matches: DataFrame, n_steps: int, capture: Sequence[str]
) -> DataFrame:
    """Explode a quantified match (with ``capture`` arrays) to one row
    per CONSUMED source row — MATCH_RECOGNIZE MEASURES usability: each
    output row carries the match identity (key, w_start, w_end,
    match_len, per-step counts), its 0-based ``offset`` inside the match,
    the step that consumed it (``step_idx``) and the repeat index within
    that step (``repeat_idx``), plus the captured columns under their
    original names.

    Stateless projection over the match relation: works identically on
    the batch matcher's output and on ``cep_stream_quantified``'s append
    stream (one posexplode; step attribution is a prefix-sum CASE over
    the ``s{i}_n`` columns — no joins, no extra shuffle, no state)."""
    if not capture:
        raise ValueError("quantified_rows needs at least one capture column")
    zipped = F.arrays_zip(*[F.col(f"s_{c}").alias(c) for c in capture])
    passthrough = [
        c for c in matches.columns if not c.startswith("s_")
    ]
    ex = matches.select(
        *passthrough, F.posexplode(zipped).alias("offset", "_z")
    )
    step_chain = rep_chain = None
    cum: Column = F.lit(0)
    for i in range(n_steps):
        upper = cum + F.col(f"s{i}_n")
        cond = F.col("offset") < upper
        if step_chain is None:
            step_chain = F.when(cond, F.lit(i))
            rep_chain = F.when(cond, F.col("offset") - cum)
        else:
            step_chain = step_chain.when(cond, F.lit(i))
            rep_chain = rep_chain.when(cond, F.col("offset") - cum)
        cum = upper
    return ex.select(
        *passthrough,
        F.col("offset").cast("long").alias("offset"),
        step_chain.cast("long").alias("step_idx"),
        rep_chain.cast("long").alias("repeat_idx"),
        *[F.col("_z")[c].alias(c) for c in capture],
    )


def match_pattern_quantified_rows(
    df: DataFrame,
    key: str,
    ts: str,
    steps: Sequence,
    step_cols: Sequence[str],
    capture: Sequence[str],
    within_ms: Optional[int] = None,
    tiebreak: Optional[str] = None,
    greedy: bool = True,
) -> DataFrame:
    """Quantified matching with per-consumed-row captures: the batch
    matcher's array captures exploded by ``quantified_rows``. One lead()
    family + one posexplode — no self-join back to the source."""
    m = match_pattern_quantified(
        df, key=key, ts=ts, steps=steps, step_cols=step_cols,
        within_ms=within_ms, tiebreak=tiebreak, greedy=greedy,
        capture=capture,
    )
    return quantified_rows(m, len(steps), capture)

"""Aggregate functions: the lift / combine / lower (+ optional invert) surface.

Parity targets (reference, /root/reference):
- core/.../windowFunction/AggregateFunction.java:6-58 (lift/combine/lower,
  default liftAndCombine)
- core/.../windowFunction/InvertibleAggregateFunction.java:3-15 (invert →
  O(1) out-of-order removal; non-invertible functions recompute from the
  slice's record buffer, AggregateValueState.java:33-48)
- core/.../windowFunction/CloneablePartialStateFunction.java:3-11 (deep-copy
  mutable partials before window-level merges)
- demo functions: SumWindowFunction / MinWindowFunction / MaxWindowFunction
  (flink-connector/.../demo/windowFunctions/*.java), QuantileWindowFunction +
  QuantileTreeMap (exact streaming quantile over a value→count histogram).

The transcript-payload aggregates (turn count, tool-call tally, per-role text
rollup) are this engine's additions for the conversation-analytics workload.
"""

from __future__ import annotations

import bisect
import math
from typing import Any, Callable, Generic, Tuple, TypeVar

In = TypeVar("In")
P = TypeVar("P")
Out = TypeVar("Out")


class AggregateFunction(Generic[In, P, Out]):
    """lift: In→P, combine: (P,P)→P, lower: P→Out.

    ``invertible`` enables O(1) removal via ``invert``; ``cloneable``
    signals a mutable partial that must be deep-copied before merging a
    shared slice partial into a window result.
    """

    invertible: bool = False
    cloneable: bool = False

    def lift(self, element: In) -> P:
        raise NotImplementedError

    def combine(self, a: P, b: P) -> P:
        raise NotImplementedError

    def lower(self, partial: P) -> Out:
        raise NotImplementedError

    def lift_and_combine(self, partial: P, element: In) -> P:
        return self.combine(partial, self.lift(element))

    def invert(self, partial: P, to_remove: In) -> P:
        raise NotImplementedError

    def lift_and_invert(self, partial: P, to_remove: In) -> P:
        return self.invert(partial, self.lift(to_remove))

    def clone(self, partial: P) -> P:
        return partial

    # Optional vectorized segment lifts for the in-order bulk path
    # (SlicingWindowOperator.process_in_order_bulk). By associativity,
    # combine(p, bulk_lift(segment)) == folding lift_and_combine over the
    # segment, so a function may implement either (or both) modes:
    #   bulk_lift_values(varr, s, e)  — over a numpy value array slice
    #   bulk_lift_records(cols, s, e) — over columnar records
    #                                   (dict of column-name → list)
    # Left as None (not implemented) here: the planner falls back to the
    # exact per-element path for functions without one.
    bulk_lift_values = None
    bulk_lift_records = None


# One output column of a windowed aggregation, as every operator takes it:
# (output column name, Spark type DDL, aggregate-function factory).
AggSpec = Tuple[str, str, Callable[[], AggregateFunction]]


class ReduceAggregateFunction(AggregateFunction[In, In, In]):
    """lift and lower are identity; only ``combine`` is user-defined.

    Parity: core/.../windowFunction/ReduceAggregateFunction.java:4-16.
    """

    def lift(self, element: In) -> In:
        return element

    def lower(self, partial: In) -> In:
        return partial


class PyReduce(ReduceAggregateFunction):
    """Adapter for test lambdas: ``PyReduce(lambda a, b: a + b)``."""

    def __init__(self, fn, invertible: bool = False, invert_fn=None):
        self._fn = fn
        self.invertible = invertible
        self._invert_fn = invert_fn

    def combine(self, a, b):
        return self._fn(a, b)

    def invert(self, partial, to_remove):
        return self._invert_fn(partial, to_remove)


class SumAggregation(ReduceAggregateFunction):
    invertible = True

    def combine(self, a, b):
        return a + b

    def invert(self, partial, to_remove):
        return partial - to_remove


class CountAggregation(AggregateFunction[Any, int, int]):
    invertible = True

    def lift(self, element):
        return 1

    def bulk_lift_records(self, cols, s, e):
        return e - s

    def combine(self, a, b):
        return a + b

    def lower(self, partial):
        return partial

    def invert(self, partial, to_remove):
        return partial - to_remove


class MinAggregation(ReduceAggregateFunction):
    def combine(self, a, b):
        return a if a <= b else b


class MaxAggregation(ReduceAggregateFunction):
    def combine(self, a, b):
        return a if a >= b else b


class MeanAggregation(AggregateFunction[float, tuple, float]):
    invertible = True

    def lift(self, element):
        return (element, 1)

    def combine(self, a, b):
        return (a[0] + b[0], a[1] + b[1])

    def lower(self, partial):
        return partial[0] / partial[1] if partial[1] else None

    def invert(self, partial, to_remove):
        return (partial[0] - to_remove[0], partial[1] - to_remove[1])


class QuantileAggregation(AggregateFunction[float, dict, float]):
    """Exact streaming quantile over a value→count histogram partial.

    Functional analogue of QuantileWindowFunction + QuantileTreeMap
    (flink-connector/.../demo/windowFunctions/QuantileTreeMap.java:6-155):
    mutable dict partial, hence cloneable.
    """

    cloneable = True
    invertible = True

    def __init__(self, q: float = 0.5):
        self.q = q

    def lift(self, element):
        return {element: 1}

    def combine(self, a, b):
        for v, c in b.items():
            a[v] = a.get(v, 0) + c
        return a

    def invert(self, partial, to_remove):
        for v, c in to_remove.items():
            nc = partial.get(v, 0) - c
            if nc <= 0:
                partial.pop(v, None)
            else:
                partial[v] = nc
        return partial

    def clone(self, partial):
        return dict(partial)

    def bulk_lift_values(self, varr, s, e):
        # one np.unique per segment instead of one dict merge per element;
        # np.float64 keys hash/compare equal to the per-element path's
        # Python floats, so mixed construction is safe
        import numpy as np

        vals, cnts = np.unique(varr[s:e], return_counts=True)
        return dict(zip(vals.tolist(), cnts.tolist()))

    def lower(self, partial):
        # discrete quantile: smallest v with cume_dist >= q (matches SQL
        # quantile_disc / percentile_disc semantics)
        total = sum(partial.values())
        if total == 0:
            return None
        target = max(1, math.ceil(self.q * total))
        seen = 0
        for v in sorted(partial):
            seen += partial[v]
            if seen >= target:
                return v
        return None


class HistogramQuantileAggregation(QuantileAggregation):
    """BOUNDED-STATE approximate quantile: values bucket to fixed-width
    bins; the partial is a bin→count dict whose size is capped by
    value_range / width regardless of stream length — the 10^12-turn
    replacement for the exact value→count histogram
    (``QuantileAggregation``, whose combine/invert/clone and cume-dist
    walk this subclass reuses; only the key space changes).

    Deterministic by construction: no sampling and no merge-order
    sensitivity (bin counts are commutative sums), so the answer is
    bit-reproducible in SQL — lower() returns the LOWER EDGE of the
    smallest bin whose cumulative count reaches ceil(q × total); the true
    q-quantile lies in [answer, answer + width). Use a binary-friendly
    ``width`` (0.25, 0.5, 1.0 …) so ``floor(v / width)`` is the same IEEE
    operation in Python, numpy, and the SQL oracle."""

    def __init__(self, q: float = 0.5, width: float = 0.25):
        super().__init__(q)
        self.width = width

    def lift(self, element):
        return {math.floor(element / self.width): 1}

    def bulk_lift_values(self, varr, s, e):
        import numpy as np

        bins, cnts = np.unique(
            np.floor(varr[s:e] / self.width).astype("int64"), return_counts=True
        )
        return dict(zip(bins.tolist(), cnts.tolist()))

    def lower(self, partial):
        b = super().lower(partial)  # smallest bin with cume ≥ target
        return None if b is None else b * self.width


class LinearCountingAggregation(AggregateFunction[Any, set, float]):
    """BOUNDED-STATE approximate distinct count (linear counting): each
    element hashes to one of ``m`` positions via the portable md5-60
    family; the partial is the set of occupied positions (≤ m entries
    regardless of stream length — exact distinct-count state is
    O(distinct values)). Merge = set union (commutative, idempotent), so
    the sketch is order-insensitive and deterministic: the estimate
    −m·ln((m−occupied)/m) is bit-reproducible in SQL from
    count(DISTINCT md5_60(x) % m). Not invertible (union loses
    multiplicity); the kernel recomputes on out-of-order removal like the
    reference's non-invertible path.

    Saturation: a fully occupied sketch (occupied ≥ m) clamps to
    ``float(m)`` — the estimate formula hits ln(0) there, so any SQL
    replay must carry the matching ``CASE WHEN occ >= m THEN m`` clamp
    (the gate oracle does); below saturation the estimate is
    bit-reproducible from ``count(DISTINCT md5_60(x) % m)``.

    Record-mode aggregate: reads ``col`` from each element dict."""

    cloneable = True
    invertible = False

    def __init__(self, col: str = "props", m: int = 1024):
        self.col = col
        self.m = m

    def _pos(self, v) -> int:
        import hashlib

        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        return h % self.m

    def lift(self, element):
        v = element.get(self.col) if isinstance(element, dict) else element
        return {self._pos(v)} if v is not None else set()

    def combine(self, a, b):
        a |= b
        return a

    def clone(self, partial):
        return set(partial)

    def bulk_lift_records(self, cols, s, e):
        seen = {v for v in cols[self.col][s:e] if v is not None}
        return {self._pos(v) for v in seen}

    def lower(self, partial):
        occ = len(partial)
        if occ == 0:
            return None
        if occ >= self.m:
            return float(self.m)  # sketch saturated; m is the floor bound
        return -self.m * math.log((self.m - occ) / self.m)


class ToolTallyAggregation(AggregateFunction[Any, dict, dict]):
    """Per-window tally of tool-call turns, keyed by tool name.

    Transcript payload aggregate (BASELINE.json north_star): counts
    non-null ``tool`` values. Invertible (per-entry subtraction).
    """

    cloneable = True
    invertible = True

    def lift(self, element):
        tool = element.get("tool") if isinstance(element, dict) else None
        return {tool: 1} if tool else {}

    def combine(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a

    def invert(self, partial, to_remove):
        for k, v in to_remove.items():
            nv = partial.get(k, 0) - v
            if nv <= 0:
                partial.pop(k, None)
            else:
                partial[k] = nv
        return partial

    def clone(self, partial):
        return dict(partial)

    def bulk_lift_records(self, cols, s, e):
        from collections import Counter

        # same truthiness filter as lift (None AND empty string excluded)
        return dict(Counter(t for t in cols["tool"][s:e] if t))

    def lower(self, partial):
        return dict(sorted(partial.items()))


class ToolTallyString(ToolTallyAggregation):
    """ToolTallyAggregation with a canonical string lower():
    'tool=count' pairs sorted by tool name — hash-stable across engines,
    so the kernel-tier tally can face the DuckDB oracle
    (string_agg(tool || '=' || cnt, ',' ORDER BY tool))."""

    def lower(self, partial):
        return ",".join(f"{k}={v}" for k, v in sorted(partial.items()))


class RoleTextRollup(AggregateFunction[Any, list, dict]):
    """Per-role text rollup ordered by ``turn_idx``.

    Partial: sorted list of (turn_idx, role, text); lower() groups by role
    preserving turn order — satisfies the "per-turn text equality under
    stable turn_idx ordering" invariant. Associative but not invertible
    (removal recomputes from the slice record buffer, like the reference's
    non-invertible path, AggregateValueState.java:40-48).
    """

    cloneable = True

    def lift(self, element):
        return [(element["turn_idx"], element["role"], element["text"])]

    def combine(self, a, b):
        for item in b:
            bisect.insort(a, item)
        return a

    def clone(self, partial):
        return list(partial)

    def bulk_lift_records(self, cols, s, e):
        # one C-level sorted(zip(...)) per segment instead of one
        # bisect.insort per element
        return sorted(zip(cols["turn_idx"][s:e], cols["role"][s:e], cols["text"][s:e]))

    def lower(self, partial):
        out: dict = {}
        for _, role, text in sorted(partial):
            out.setdefault(role, []).append(text)
        return out


class RoleTextRollupString(RoleTextRollup):
    """RoleTextRollup with a canonical string lower():
    'role:text1;text2|role2:...' — roles sorted, texts in turn_idx order.
    Hash-stable across engines, so the kernel-tier rollup can face the
    DuckDB oracle (string_agg(text, ';' ORDER BY turn_idx) per role, then
    string_agg(role || ':' || seq, '|' ORDER BY role))."""

    def lower(self, partial):
        grouped = super().lower(partial)
        return "|".join(f"{role}:{';'.join(texts)}" for role, texts in sorted(grouped.items()))

"""Typed (Arrow-struct) encoding of the slicing kernel's per-key state.

streaming.processor (applyInPandasWithState) stores this layout in a
struct state column — scalars + array<struct> slices/sessions — so the
hot path never pickles a Python object graph (SURVEY hard-part #5).

The layout covers the numpy-reducible function surface (the reduction
names of operators.kernel.NAMED_LIFTS) over time-measure windows: per
function a (value, count, set) triple encodes the lift/combine partial.
Count-measure windows (record buffers) and custom functions fall back to
a pickled kernel blob — explicitly, not silently (see
processor.make_handler).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from ..operators.kernel import Fixed, Flexible, SlicingWindowOperator
from ..operators.windows import ActiveWindow

SCALARS_DDL = (
    "last_watermark long, last_count long, current_count long, "
    "max_event_time long, min_next_edge_ts long, min_next_edge_count long"
)
SESSION_DDL = "ctx_idx int, start long, end long"


def slice_ddl(n_fns: int) -> str:
    cols = [
        "t_start long", "t_end long", "t_first long", "t_last long",
        "c_start long", "c_last long", "flex int",
    ]
    for i in range(n_fns):
        cols += [f"p{i}_v double", f"p{i}_n long", f"p{i}_set boolean"]
    return ", ".join(cols)


def encode_partial(kind: str, partial) -> Tuple[float, int]:
    if kind == "count":
        return (0.0, int(partial))
    if kind == "mean":
        return (float(partial[0]), int(partial[1]))
    return (float(partial), 0)


def decode_partial(kind: str, v: float, n: int):
    if kind == "count":
        return n
    if kind == "mean":
        return (v, n)
    return v


def encode_op(op: SlicingWindowOperator, kinds: Sequence[str]):
    """→ (scalars tuple, session rows, slice rows)."""
    scalars = (
        op.last_watermark, op.last_count, op.current_count,
        op._max_event_time, op._min_next_edge_ts, op._min_next_edge_count,
    )
    sessions = [
        (i, w.start, w.end)
        for i, ctx in enumerate(op.contexts)
        for w in ctx.active_windows
    ]
    slices: List[tuple] = []
    for s in op.store.slices:
        flex = s.type.count if isinstance(s.type, Flexible) else -1
        row = [s.t_start, s.t_end, s.t_first, s.t_last, s.c_start, s.c_last, flex]
        for i, kind in enumerate(kinds):
            if s.agg_state.present[i] and s.agg_state.partials[i] is not None:
                v, n = encode_partial(kind, s.agg_state.partials[i])
                row += [v, n, True]
            else:
                row += [0.0, 0, False]
        slices.append(tuple(row))
    return scalars, sessions, slices


def decode_op(op: SlicingWindowOperator, kinds: Sequence[str], scalars, sessions, slices) -> None:
    """Restore a freshly-configured kernel (windows/functions already
    registered) from encoded rows."""
    (op.last_watermark, op.last_count, op.current_count,
     op._max_event_time, op._min_next_edge_ts, op._min_next_edge_count) = scalars
    for row in sessions or []:
        op.contexts[row[0]].active_windows.append(ActiveWindow(row[1], row[2]))
    for row in slices or []:
        t_start, t_end, t_first, t_last, c_start, c_last, flex = row[:7]
        type_ = Fixed() if flex < 0 else Flexible(flex)
        s = op._new_slice(t_start, t_end, c_start, c_last, type_)
        s.t_first = t_first
        s.t_last = t_last
        for i, kind in enumerate(kinds):
            v, n, is_set = row[7 + 3 * i : 10 + 3 * i]
            if is_set:
                s.agg_state.partials[i] = decode_partial(kind, v, n)
                s.agg_state.present[i] = True
        op.store.append(s)

"""Encoding of the slicing kernel's per-key state for the stream.

streaming.processor (applyInPandasWithState) keeps each key's kernel in
one binary state cell (``processor.STATE_SCHEMA``) that holds
``pickle.dumps(encode_op(op, kinds))``: plain tuples, one layout for every
window and aggregate mix. pyspark pickles the state value on its way to
the JVM in any case, so a typed (struct) layout would only add a nested
row conversion on both sides. Flink's keyed state backends likewise keep
a key's state as opaque serialized bytes.

Only the state goes into the cell, not the configuration: the handler
builds the operator from the query's windows and aggregates
(``kernel.new_operator``) and ``decode_op`` restores the state into it, so
a restart with a longer window list, or a registry window added live,
takes effect on every key.
"""

from __future__ import annotations

from typing import List, Sequence

from ..operators.kernel import Fixed, Flexible, SlicingWindowOperator
from ..operators.windows import JLONG_MIN, ActiveWindow


def encode_op(op: SlicingWindowOperator, kinds: Sequence) -> tuple:
    """→ (scalars, sessions, slices). The scalars end with the number of
    fixed windows the operator had. A session row is ``(ctx_idx, start,
    end)``; a slice row is ``(t_start, t_end, t_first, t_last, c_start,
    c_last, flex, partials, present, records)``, with ``flex`` the
    Flexible edge count or -1 for a Fixed edge, and the partials and the
    record buffer (None without a count window) as the kernel holds them."""
    # ``kinds`` is unused: the partials are stored as they are; the
    # signature is kept for callers that wrap the codec
    scalars = (
        op.last_watermark, op.last_count, op.current_count,
        op._max_event_time, op._min_next_edge_ts, op._min_next_edge_count,
        len(op.context_free),
    )
    sessions = [
        (i, w.start, w.end)
        for i, ctx in enumerate(op.contexts)
        for w in ctx.active_windows
    ]
    slices: List[tuple] = [
        (s.t_start, s.t_end, s.t_first, s.t_last, s.c_start, s.c_last,
         s.type.count if isinstance(s.type, Flexible) else -1,
         s.agg_state.partials, s.agg_state.present, s.records)
        for s in op.store.slices
    ]
    return scalars, sessions, slices


def decode_op(op: SlicingWindowOperator, kinds: Sequence, scalars, sessions, slices) -> None:
    """Restore encoded state into ``op``, freshly built by ``new_operator``
    with every window and aggregate registered. The rows' lists are taken
    over, so they must come from ``pickle.loads``. Raises ValueError when a
    slice holds a different number of partials than ``op`` has aggregates
    (a restart with another aggregate list) or holds no record buffer
    while ``op`` has a count window (a restart that adds the first one),
    and IndexError when a session row names a context ``op`` does not
    have."""
    (op.last_watermark, op.last_count, op.current_count,
     op._max_event_time, op._min_next_edge_ts, op._min_next_edge_count, n_fixed) = scalars
    if len(op.context_free) > n_fixed:
        # a fixed window added since the encode (restart or registry): the
        # cached next edge is the old grid's, so reset it as add_window
        # does for a mid-stream add
        op._min_next_edge_ts = JLONG_MIN
    for i, start, end in sessions:
        op.contexts[i].active_windows.append(ActiveWindow(start, end))
    n_fns = len(op.functions)
    for t_start, t_end, t_first, t_last, c_start, c_last, flex, partials, present, records in slices:
        if len(partials) != n_fns:
            raise ValueError(
                f"stream state holds {len(partials)} aggregates per slice, the query "
                f"has {n_fns}: a query cannot restart from a checkpoint written "
                "with another aggregate list"
            )
        if records is None and op.has_count_measure:
            raise ValueError(
                "stream state holds no record buffers, the query has a count window: "
                "a query cannot restart from a checkpoint written without count windows "
                "with one added"
            )
        s = op._new_slice(t_start, t_end, c_start, c_last, Fixed() if flex < 0 else Flexible(flex))
        s.t_first, s.t_last = t_first, t_last
        s.agg_state.partials, s.agg_state.present = partials, present
        if s.records is not None and records:
            # in place: agg_state.records is the same list
            s.records.extend(records)
        op.store.append(s)

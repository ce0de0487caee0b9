"""Encoding of the per-key window operator's state for the stream.

streaming.processor (applyInPandasWithState) keeps each key's operator in
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
takes effect on every key. Sessions are keyed by window_id and carry
their gap, so a worker that has not read a registry session window yet
registers it from the state.
"""

from __future__ import annotations

from typing import Sequence

from ..operators.kernel import SlicePartial, SlicingWindowOperator
from ..operators.windows import SessionWindow, WindowMeasure


def encode_op(op: SlicingWindowOperator, kinds: Sequence) -> tuple:
    """→ (fields, sessions, slices). ``fields`` is (last watermark, max
    event time, the grid the slices were cut on, ``fires_from``, last
    count, count base, the count rows or None without a count window); a
    session row is ``(window_id, gap, open sessions)``; a slice row is
    ``(t_start, t_first, partials)``, with the partials as the operator
    holds them."""
    # ``kinds`` is unused: the partials are stored as they are; the
    # signature is kept for callers that wrap the codec
    fields = (op.last_watermark, op._max_event_time, op.grid, op.fires_from,
              op.last_count, op.count_base, op.records)
    sessions = [(w.window_id, w.gap, held)
                for w, held in zip(op.session_windows, op.sessions) if held]
    slices = [(s.t_start, s.t_first, s.partials) for s in op.store.slices]
    return fields, sessions, slices


def decode_op(op: SlicingWindowOperator, kinds: Sequence, fields, sessions, slices) -> None:
    """Restore encoded state into ``op``, freshly built by ``new_operator``
    with every window and aggregate registered. The rows' lists are taken
    over, so they must come from ``pickle.loads``. Raises ValueError when
    a slice or session holds a different number of partials than ``op``
    has aggregates (a restart with another aggregate list), or when the
    state holds no count rows while ``op`` has a count window (a restart
    that adds the first one)."""
    (op.last_watermark, op._max_event_time, grid, op.fires_from,
     op.last_count, op.count_base, records) = fields
    if op.has_count_measure:
        if records is None:
            raise ValueError(
                "stream state holds no record buffers, the query has a count window: "
                "a query cannot restart from a checkpoint written without count windows "
                "with one added"
            )
        op.records = records
    n_fns = len(op.functions)

    def check(partials):
        if len(partials) != n_fns:
            raise ValueError(
                f"stream state holds {len(partials)} aggregates per slice, the query "
                f"has {n_fns}: a query cannot restart from a checkpoint written "
                "with another aggregate list"
            )

    for window_id, gap, held in sessions:
        for session in held:
            check(session[2])
        ids = [w.window_id for w in op.session_windows]
        if window_id not in ids:
            op.add_window(SessionWindow(WindowMeasure.TIME, gap, window_id=window_id))
            ids.append(window_id)
        op.sessions[ids.index(window_id)] = held
    for t_start, t_first, partials in slices:
        check(partials)
        op.store.slices.append(SlicePartial(t_start, t_first, partials))
    op._refined(grid)

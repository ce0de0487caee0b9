"""In-memory spans around the benchmark's calls into the engine's layers.

A span has a name, start, end, parent and the trace (repetition) it
belongs to. Spans stay in memory and are written out once, when the
benchmark ends. ``Tracer(enabled=False)`` records nothing, so the
untraced run pays one attribute check per span.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, trace: Optional[str] = None):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": None,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent["trace"] if parent else None),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def add(self, name: str, start: float, end: float, parent_name: Optional[str] = None) -> None:
        """Record a span measured elsewhere (e.g. on another thread)."""
        if not self.enabled:
            return
        parent = None
        if parent_name is not None:
            for s in reversed(self.spans):
                if s["name"] == parent_name and s["start"] <= start and s.get("end", end) >= end:
                    parent = s["id"]
                    break
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                               "trace": None, "start": start, "end": end})

    def self_times(self) -> Dict[str, float]:
        """Seconds per span name, each span's duration minus the part of
        its interval that its children cover."""
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c.get("end", s["end"]), s["end"]))
                 for c in children.get(s["id"], [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

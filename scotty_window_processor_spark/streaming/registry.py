"""Live window registry: add windows to a RUNNING streaming query.

The reference adds windows to a live operator through a driver-side call
(slicing/.../WindowManager.java:124-143, exercised by
TumblingWindowOperatorTest.java:96-145). A Structured Streaming handler
closure is fixed for the query lifetime, so the Spark-native equivalent is
a small *control-plane file* on storage every executor can read (DFS /
object store on a cluster, local path here): `scotty_stream(...,
window_registry=path)` makes the stateful handler merge the registry's
windows into each key's kernel on every invocation. Adding a window to a
live query is then one atomic file write — no restart, no state loss:

    write_registry(path, [])                      # before query start
    q = scotty_stream(df, ..., window_registry=path).writeStream...
    registry_add_window(path, TumblingWindow(...))  # query keeps running

Semantics (same per-key "from now on" visibility as the reference's
addWindow, and as this repo's checkpoint-restart variant): a key's kernel
registers the new window the next time the key is invoked, and the window
only fires for ends past the key's restored watermark. Keys whose
executors stat the file a moment apart may pick the window up one
micro-batch apart — the reference's addWindow is equally unsynchronized
with respect to in-flight elements.

Registry windows must be TIME-measure: a count window needs the key's
rows, and an operator keeps them only while it has a count window. A
window whose slices are finer than the ones held fires from the key's
latest rows on (``kernel.SlicingWindowOperator._refined``). The registry
is append-only — window REMOVAL is defined neither by this engine nor by
the reference.

At 100 TB scale the poll cost is one `stat` per executor per
`poll_interval_s` (results are process-cached), not per key and not per
micro-batch.
"""

from __future__ import annotations

import json
import os
import time
from typing import Dict, List, Sequence, Tuple

from ..operators.windows import (
    SessionWindow,
    SlidingWindow,
    TumblingWindow,
    Window,
    WindowMeasure,
    check_window_ids,
)


def window_to_spec(w: Window) -> dict:
    if isinstance(w, TumblingWindow):
        return {"type": "tumbling", "measure": w.measure.value,
                "size": w.size, "window_id": w.window_id}
    if isinstance(w, SlidingWindow):
        return {"type": "sliding", "measure": w.measure.value,
                "size": w.size, "slide": w.slide, "window_id": w.window_id}
    if isinstance(w, SessionWindow):
        return {"type": "session", "measure": w.measure.value,
                "gap": w.gap, "window_id": w.window_id}
    raise TypeError(f"unsupported window type for registry: {type(w).__name__}")


def window_from_spec(d: dict) -> Window:
    measure = WindowMeasure(d["measure"])
    if d["type"] == "tumbling":
        return TumblingWindow(measure, d["size"], window_id=d["window_id"])
    if d["type"] == "sliding":
        return SlidingWindow(measure, d["size"], d["slide"], window_id=d["window_id"])
    if d["type"] == "session":
        return SessionWindow(measure, d["gap"], window_id=d["window_id"])
    raise ValueError(f"unknown window spec type: {d['type']!r}")


def _validate(windows: Sequence[Window]) -> None:
    for w in windows:
        if w.measure != WindowMeasure.TIME:
            raise ValueError(
                "window registry only accepts TIME-measure windows: the "
                "per-key state layout is fixed at query start and "
                "count-measure windows require per-slice record buffers"
            )
        if w.window_id < 0:
            raise ValueError("registry windows need an explicit window_id")
    check_window_ids(windows)


def _write_versioned(path: str, windows: Sequence[Window], version: int) -> None:
    _validate(windows)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(
            {"version": version, "windows": [window_to_spec(w) for w in windows]}, f
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def write_registry(path: str, windows: Sequence[Window]) -> None:
    """Atomically (tmp + rename) write the full window list, bumping the
    embedded version counter past whatever version is on disk.

    Takes the same ``<path>.lock`` flock as ``registry_add_window``: a
    full write racing a concurrent add would otherwise read-bump-replace
    over the added window while producing a valid-looking version number,
    making the lost update undetectable by the optimistic check
    (r5 advice). Same single-host caveat as the add path."""
    import fcntl

    with open(f"{path}.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            _write_versioned(path, windows, _load_versioned(path)[0] + 1)
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


def registry_add_window(path: str, window: Window, retries: int = 8) -> None:
    """Append one window to a live registry.

    Concurrency: the read-modify-write holds an exclusive advisory flock
    on `<path>.lock` — which serializes writers ONLY on a single host /
    POSIX-coherent filesystem. On the documented cluster deployment (DFS
    or object store) advisory locks are unreliable or absent, so the
    write additionally runs an optimistic version check against a
    monotonic counter EMBEDDED IN THE FILE (not mtime — st_mtime_ns is
    often second- or millisecond-granular on NFS/object-store mounts,
    exactly where flock is already unreliable): the registry is re-read
    after staging the new contents and the read-modify-write retries from
    scratch, with a short randomized backoff, if another writer bumped
    the version in between. That closes the lost-update window to the
    re-read→rename gap; drivers that may genuinely race adds from
    multiple hosts should still route them through one coordinator (adds
    are rare control-plane events — one per human `addWindow` — not a
    data-plane path). Readers always see a whole file either way (atomic
    rename)."""
    import fcntl
    import random

    with open(f"{path}.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            for attempt in range(retries):
                if attempt:
                    time.sleep(random.uniform(0.01, 0.05) * attempt)
                version, current = _load_versioned(path)
                if _load_versioned(path)[0] != version:
                    continue  # concurrent writer between load and check
                _write_versioned(path, list(current) + [window], version + 1)
                return
            raise RuntimeError(
                f"registry_add_window: lost the version race {retries} times "
                f"on {path!r} — route concurrent adds through one coordinator"
            )
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


def _load_versioned(path: str) -> Tuple[int, List[Window]]:
    """(version, windows); (-1, []) when absent. A bare JSON list (the
    pre-version file format) reads as version 0."""
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return -1, []
    if not text.strip():
        return -1, []  # pre-created placeholder (mkstemp) — not yet written
    doc = json.loads(text)
    if isinstance(doc, list):  # legacy format
        return 0, [window_from_spec(d) for d in doc]
    return int(doc.get("version", 0)), [window_from_spec(d) for d in doc["windows"]]


def _load(path: str) -> List[Window]:
    return _load_versioned(path)[1]


# process-level cache: path -> (last_stat_wall, mtime_ns, windows)
_cache: Dict[str, Tuple[float, int, List[Window]]] = {}


def read_registry(path: str, poll_interval_s: float = 10.0) -> List[Window]:
    """Read the registry with a two-level cache: skip the stat entirely
    within `poll_interval_s` of the last one, and skip the re-parse when
    the mtime is unchanged. Called from every handler invocation — this
    keeps the steady-state cost at zero syscalls."""
    now = time.monotonic()
    hit = _cache.get(path)
    if hit is not None and poll_interval_s > 0 and now - hit[0] < poll_interval_s:
        return hit[2]
    try:
        mtime = os.stat(path).st_mtime_ns
    except FileNotFoundError:
        _cache[path] = (now, -1, [])
        return []
    if hit is not None and hit[1] == mtime:
        _cache[path] = (now, mtime, hit[2])
        return hit[2]
    windows = _load(path)
    _validate(windows)
    _cache[path] = (now, mtime, windows)
    return windows

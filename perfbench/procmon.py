"""Peak resident memory of the engine's processes, sampled from /proc.

The engine is the Spark driver JVM and the Python workers it forks; both
are descendants of the benchmark process. A background thread sums their
proportional resident set (PSS: a page shared by n processes counts 1/n
in each, so the pages forked workers share with their daemon count once)
every ``interval_s`` and keeps the peak. The benchmark's own interpreter,
which holds oracle data, is not counted.
"""

from __future__ import annotations

import os
import threading


def _proc_table():
    """pid → ppid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name is parenthesised and may contain spaces
        fields = stat[stat.rfind(b")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int):
    table = _proc_table()
    kids = {}
    for pid, ppid in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass  # the process exited while being read
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def engine_rss_bytes(root: int):
    """(JVM bytes, Python worker bytes) of the processes under ``root``."""
    jvm = py = 0
    for pid in descendants(root):
        if _is_jvm(pid):
            jvm += _pss_bytes(pid)
        else:
            py += _pss_bytes(pid)
    return jvm, py


class PeakRssSampler:
    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts = (0, 0)
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        while not self._stop.is_set():
            parts = engine_rss_bytes(self.root)
            if sum(parts) > self.peak:
                self.peak, self.peak_parts = sum(parts), parts
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False

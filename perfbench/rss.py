"""Peak resident memory of a process tree, sampled from ``/proc``.

The engine runs as three kinds of process: the Python driver, the JVM it
launches, and the Python workers the JVM forks. One sampler thread walks
``/proc`` for every descendant of the driver and sums their resident
pages, keeping the peak.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parent_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name is parenthesised and may contain spaces
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_map().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRssSampler:
    """Samples the tree under ``root`` every ``interval`` seconds on one
    thread between ``start()`` and ``stop()``; ``peak_bytes`` holds the
    largest total seen."""

    def __init__(self, root: int | None = None, interval: float = 0.25):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
        return self.peak_bytes

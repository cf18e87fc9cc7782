"""Small measurement helpers: percentiles and a process-tree RSS sampler."""

from __future__ import annotations

import os
import threading

import numpy as np


def pct(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 when there are no values)."""
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def median(values) -> float:
    return pct(values, 50)


def supported_pct(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it."""
    return max(0, int(100 * (n - 10) / n)) if n > 10 else 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident set size of ``root`` and all its descendants."""
    kids, total, todo = _children(), 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
        todo.extend(kids.get(pid, []))
    return total


class RssSampler:
    """Samples this process tree's RSS (the JVM and Python workers are
    descendants) every ``period`` seconds; ``peak_mb`` is the maximum."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            rss = tree_rss_bytes(os.getpid())
            self.samples.append(rss)
            self.peak = max(self.peak, rss)
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    @property
    def mean_mb(self) -> float:
        return sum(self.samples) / max(1, len(self.samples)) / 2**20

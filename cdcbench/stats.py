"""Small statistics and process helpers for the CDC benchmark (no Spark)."""

from __future__ import annotations

import os
import statistics
import threading

TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it


def tail_percentile(samples: list[float], beyond: int = TAIL_BEYOND):
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: ``value`` is the sorted sample with
    exactly ``beyond`` samples after it, ``percentile`` the share of samples
    at or below it (in %), ``n`` the sample count.  None when there are not
    more than ``beyond`` samples, because no such percentile exists."""
    n = len(samples)
    if n <= beyond:
        return None
    ordered = sorted(samples)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else float("nan")


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return int(stat.rsplit(")", 1)[1].split()[1])


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                children.setdefault(pp, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes sharing it, so forked Python workers do not count the
    pages they share with their daemon once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeRssSampler:
    """Peak resident memory (summed PSS) of this process and all its
    descendants — the JVM, the Python driver and Spark's Python workers —
    sampled on a background thread.  Every half second, not more often:
    reading ``smaps_rollup`` walks the JVM's page tables under its memory
    map lock, so frequent samples would slow the program they measure."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "TreeRssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

"""Resident memory of a process tree, sampled from ``/proc``."""

from __future__ import annotations

import os
import statistics
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (not ``pid`` itself)."""
    seen: list[int] = []
    stack = _children(pid)
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.append(p)
        stack.extend(_children(p))
    return seen


def rss_bytes(pid: int) -> int:
    """Resident set size of one process; 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """RSS below ``root`` as ``(jvm, other)``: for a PySpark driver, the
    JVM and, summed, the Python worker daemon and its workers."""
    jvm = other = 0
    for p in descendants(root):
        if _is_jvm(p):
            jvm += rss_bytes(p)
        else:
            other += rss_bytes(p)
    return jvm, other


class RssSampler:
    """Samples ``tree_rss_bytes(root)`` on a thread while in use::

        with RssSampler(os.getpid()) as rss:
            ...
        rss.median_mb, rss.peak_mb, rss.jvm_median_mb, rss.other_median_mb
    """

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.samples: list[tuple[int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.samples.append(tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        # one last sample, so a very short block is still measured
        self.samples.append(tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return max(map(sum, self.samples)) / 2**20

    @property
    def median_mb(self) -> float:
        """Typical footprint: unlike the peak, it ignores the moments when
        Spark has started a new Python worker before an old one exited."""
        return statistics.median(map(sum, self.samples)) / 2**20

    @property
    def jvm_median_mb(self) -> float:
        return statistics.median(j for j, _ in self.samples) / 2**20

    @property
    def other_median_mb(self) -> float:
        return statistics.median(o for _, o in self.samples) / 2**20

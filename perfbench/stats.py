"""Percentiles, the RSS sampler and content digests for the run record."""

from __future__ import annotations

import hashlib
import os
import threading
from pathlib import Path

MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile that still has at least ten samples beyond
    it: with n sorted samples that is the (n-10)-th smallest, the
    ``100 * (n - 10) / n`` percentile. ``(None, None)`` below 11 samples."""
    n = len(samples)
    if n <= MIN_BEYOND:
        return None, None
    k = n - MIN_BEYOND
    return 100.0 * k / n, sorted(samples)[k - 1]


def cpu_times() -> list[int]:
    """The machine's cumulative CPU times from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between
    two ``cpu_times`` readings: a shared host shows here, and it moves
    every timing."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta[:8]) if sum(delta[:8]) else 0.0


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident set size of ``root`` and all its descendants."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
        todo += _children(pid)
    return total


def tree_cpu_seconds(root: int) -> float:
    """CPU time (user + system, reaped children included) of ``root`` and
    all its descendants. Time the hypervisor steals is not in it."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
        todo += _children(pid)
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Samples the RSS of a process tree every ``interval`` seconds from
    a side thread and keeps the peak."""

    def __init__(self, root: int, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._halt.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._halt.set()
        if self.is_alive():
            self.join()
        return self.peak / 2**20


def source_digest(root: Path) -> str:
    """sha256 over the engine's Python sources, identifying the code
    measured when the checkout carries no git metadata."""
    h = hashlib.sha256()
    files = sorted(
        p for pattern in ("etl_spark_spark/**/*.py", "entry_queries/*.py", "__spark_entry__.py")
        for p in root.glob(pattern)
    )
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()

"""Summaries, host facts and the process-tree RSS sampler.

No Spark imports here: the tests and the driver-side code share it.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least ten
    samples above it.  Below 21 samples that statistic would not reach the
    median, so the maximum stands in."""
    s = sorted(xs)
    n = len(s)
    k = n - 11 if n >= 21 else n - 1
    return float(s[k]), 100.0 * (k + 1) / n, n


def unit_of(name: str) -> str:
    """Unit of a metric, from its name's conventions."""
    if "_ms" in name:
        return "ms"
    if "_over_" in name or name.endswith(("_frac", "_skew", "amplification")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if "per_s" in name:
        return "1/s"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if "bytes" in name and "per_input_byte" not in name:
        return "bytes"
    if name.endswith(("batches", "spans", "files_planned", "rows_per_batch.p50")):
        return "count"
    return "ratio"


def geomean(xs) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_sha(root: str) -> str:
    """Commit of the checkout, read from .git without running git (a
    checkout without .git reads 'unknown')."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()[:12]
        return ref[:12]
    except OSError:
        return "unknown"


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of root_pid and all its descendants, from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: split after the last ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * page
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak RSS of this process tree (driver, JVM, Python workers), sampled
    every ``interval`` seconds on a daemon thread while in the ``with``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Stopwatch:
    """``with Stopwatch() as w: ...; w.s`` -> elapsed seconds."""

    def __enter__(self) -> "Stopwatch":
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.perf_counter() - self.t0

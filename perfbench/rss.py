"""Memory of this process and all its descendants, sampled from /proc by
a background thread: the benchmark process, the JVM it launches and the Python
workers the JVM forks. Each process counts its proportional set size
(Pss), so pages the forked workers share are counted once, not once per
worker."""

from __future__ import annotations

import os
import threading
import time

_WORKER_MARKS = (b"pyspark.daemon", b"pyspark.worker")


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            # comm may hold spaces or parentheses: split after the last ')'
            return int(f.read().rsplit(b")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _is_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return any(m in cmd for m in _WORKER_MARKS)


def tree_rss(root: int) -> tuple[int, int]:
    """(Pss bytes of `root`'s process tree, of which Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                children.setdefault(pp, []).append(int(name))
    total = workers = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        r = _pss(pid)
        total += r
        if pid != root and _is_worker(pid):
            workers += r
        todo.extend(children.get(pid, ()))
    return total, workers


class RssSampler:
    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.samples: list[tuple[float, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            total, workers = tree_rss(root)
            self.samples.append((time.perf_counter(), total, workers))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def peak_gb(self, since: float = 0.0, until: float = float("inf"), workers: bool = False) -> float:
        i = 2 if workers else 1
        vals = [s[i] for s in list(self.samples) if since <= s[0] <= until]
        return max(vals, default=0) / 2**30

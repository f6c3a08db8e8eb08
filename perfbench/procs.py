"""Process-tree sampler: CPU seconds and summed RSS of a process and all
its descendants.

The JVM forks the PySpark daemon from a non-main thread, so the walk
reads ``/proc/<pid>/task/*/children`` for every thread, not only the
main thread's list. CPU of descendants that already exited is kept by
their reaping parent's ``cutime``/``cstime``, so the tree total
(own + reaped children, summed over live processes) only ever grows.
"""

from __future__ import annotations

import glob
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def tree(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat(pid: int):
    """(kind, cpu_ticks incl. reaped children, rss_bytes, threads) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    rss = int(fields[21]) * _PAGE
    threads = int(fields[17])
    if b"java" in cmd.split(b"\0")[0]:
        kind = "jvm"
    elif b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        kind = "py_worker"
    else:
        kind = "other"
    return kind, ticks, rss, threads


class TreeSampler:
    """Samples the tree under ``root`` every ``interval`` seconds on a
    daemon thread; ``cpu_s()`` reads the tree's CPU total on demand."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = {"total": 0, "jvm": 0, "py_worker": 0}
        self.jvm_threads = 0  # peak thread count of the JVM
        self.workers: set[int] = set()
        self.worker_seen: list[float] = []  # sample times with a live worker
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def snapshot(self) -> tuple[float, dict[str, int]]:
        ticks, rss = 0, {"total": 0, "jvm": 0, "py_worker": 0}
        for pid in tree(self.root):
            s = _stat(pid)
            if s is None:
                continue
            kind, t, r, threads = s
            ticks += t
            rss["total"] += r
            if kind != "other":
                rss[kind] += r
            if kind == "jvm":
                self.jvm_threads = max(self.jvm_threads, threads)
            if kind == "py_worker":
                self.workers.add(pid)
        if rss["py_worker"]:
            self.worker_seen.append(time.time())
        return ticks / _TICK, rss

    def cpu_s(self) -> float:
        return self.snapshot()[0]

    def _loop(self) -> None:
        while not self._stop.is_set():
            _, rss = self.snapshot()
            for k, v in rss.items():
                self.peak[k] = max(self.peak[k], v)
            self._stop.wait(self.interval)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def self_check(sampler: TreeSampler, t0: float, t1: float) -> str | None:
    """The sampler must have seen a PySpark worker process during
    [t0, t1], the window of a ``mapInPandas`` call; returns an error
    message, or None."""
    if not any(t0 <= t <= t1 for t in sampler.worker_seen):
        return "process-tree sampler saw no pyspark worker during mapInPandas"
    return None

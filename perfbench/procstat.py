"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own Python process plus every descendant: the
Spark JVM it launches and the Python workers the JVM forks. CPU counts
``utime + stime`` of each live process plus ``cutime + cstime`` (children
it has already reaped), so time spent in a worker that exits between two
reads is not lost once its parent has waited on it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: resident memory grows in steps of a few hundred MB, seconds apart
SAMPLE_INTERVAL_S = 1.0


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields follow the
    # last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the tree under ``root``."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident memory of the tree under ``root`` right now, in MB: the
    ``total`` and its split into the ``driver`` (``root`` itself), the
    ``jvm`` and the other processes (Python workers), with their count."""
    out = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0,
           "n_workers": 0}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                mb = int(fh.read().split()[1]) * _PAGE / 1e6
        except (OSError, IndexError, ValueError):
            continue
        kind = ("driver" if pid == root
                else "jvm" if _comm(pid) == "java" else "workers")
        out[kind] += mb
        out["total"] += mb
        out["n_workers"] += kind == "workers"
    return out


class PeakRss:
    """Samples the tree's resident memory on a background thread and keeps
    the sample with the highest total. Use as a context manager; ``peak``
    holds the highest sample so far."""

    def __init__(self, root: int):
        self.root = root
        self.peak = {"total": 0.0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        now = tree_rss_mb(self.root)
        with self._lock:
            if now["total"] > self.peak["total"]:
                self.peak = now

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def snapshot(self) -> dict[str, float]:
        """Take a sample now and return the peak so far."""
        self._sample()
        return self.peak

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def is_running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies have)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"

"""CPU time and resident memory of a process tree, read from ``/proc``.

A benchmark run has three kinds of process: the Python driver, the
JVM it launches, and the Python workers the JVM forks. Their CPU time and
memory are summed over the whole tree rooted at the Python driver.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None if
    the process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    return text[text.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields of ``root`` and every live process below it."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """Pids of ``root`` and every live process below it."""
    return list(_tree(root))


def cpu_seconds(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    ticks = sum(sum(int(v) for v in st[11:15]) for st in _tree(root).values())
    return ticks / _TICK  # fields: utime stime cutime cstime


def host_steal_seconds() -> float:
    """CPU seconds the hypervisor gave to others while this machine's
    processors wanted to run, summed over processors (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK  # cpu user nice system idle iowait irq softirq steal


def rss_mb(root: int, min_age_s: float = 1.0) -> float:
    """Resident memory of the tree in MiB, counting processes at least
    ``min_age_s`` old.

    A process in its first moments is a fork that still shares its
    parent's pages: the JVM starts helper commands with ``posix_spawn``,
    whose child runs in the JVM's address space until it execs, so counting
    it would add the whole JVM a second time."""
    with open("/proc/uptime") as fh:
        born_before = (float(fh.read().split()[0]) - min_age_s) * _TICK
    pages = sum(
        int(st[21]) for st in _tree(root).values() if int(st[19]) <= born_before
    )  # fields: starttime (ticks after boot), rss (pages)
    return pages * _PAGE / 2**20


class PeakRss:
    """Samples the tree's resident memory every ``interval`` seconds on a
    background thread between ``start()`` and ``stop()``; ``stop()``
    returns the largest sample."""

    def __init__(self, root: int, interval: float = 0.1):
        self._root = root
        self._interval = interval
        self._stop = threading.Event()
        self._peak = 0.0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self._peak = max(self._peak, rss_mb(self._root))
            if self._stop.wait(self._interval):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return max(self._peak, rss_mb(self._root))

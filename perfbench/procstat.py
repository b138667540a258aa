"""CPU time and resident memory of this process and all its descendants,
and the host's stolen CPU time.

The benchmark's process tree is the Python driver, the JVM it launches
and the Python workers the JVM forks. Workers that exit are reaped by
the worker daemon, so their CPU time reaches the daemon's ``cutime``.

On a virtual machine whose host is shared, the hypervisor now and then
runs other guests on the CPUs this one had work for; ``/proc/stat``
counts those ticks as *steal*, apart from busy time. While steal lasts,
every thread of the run progresses more slowly, and a waiting thread
wakes later, so wall times stretch by the stolen share.
:class:`Stopwatch` takes that share out: an interval's ``seconds`` are
its wall time times ``busy / (busy + steal)`` over the interval's
ticks, which is its wall time on a host that steals nothing.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        fields = raw[raw.rindex(b")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), ticks / _TICK, int(fields[21]) * _PAGE)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage() -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over this process and its descendants."""
    stats = _stats()
    pids = [p for p in _tree(stats, os.getpid()) if p in stats]
    return sum(stats[p][1] for p in pids), sum(stats[p][2] for p in pids)


def descendants() -> list[int]:
    """Pids of the live descendants of this process."""
    return _tree(_stats(), os.getpid())[1:]


def host_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time and host ticks of one interval, or of several pooled."""

    def __init__(self, *parts: "Stopwatch"):
        self.wall = sum(p.wall for p in parts)
        self.busy = sum(p.busy for p in parts)
        self.steal = sum(p.steal for p in parts)

    def __enter__(self) -> "Stopwatch":
        self._ticks = host_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall += time.perf_counter() - self._t0
        busy, steal = host_ticks()
        self.busy += busy - self._ticks[0]
        self.steal += steal - self._ticks[1]

    @property
    def steal_share(self) -> float:
        ticks = self.busy + self.steal
        return self.steal / ticks if ticks else 0.0

    @property
    def seconds(self) -> float:
        """Wall time less the stolen share."""
        return self.wall * (1.0 - self.steal_share)


class PeakRss:
    """Samples the tree's RSS on a background thread while active."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_usage()[1])
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_usage()[1])

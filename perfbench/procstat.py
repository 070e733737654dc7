"""CPU time and resident memory of the benchmark's process tree, read
from ``/proc``: the driver (this process), the Spark JVM it launched,
and the Python workers the JVM forks."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _table() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                out[int(name)] = st
    return out


def descendants(root: int, table: dict[int, list[str]] | None = None) -> list[int]:
    table = _table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, st in table.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and its descendants. A child caught between
    vfork and exec shares its parent's memory and reports the parent's
    size and resident pages; it is counted once, with the parent."""
    table = _table()
    total = 0
    for pid in descendants(root, table):
        st = table.get(pid)
        if st is None:
            continue
        parent = table.get(int(st[1]))
        if pid != root and parent is not None and parent[20:22] == st[20:22]:
            continue  # same vsize and rss as the parent: one address space
        total += int(st[21]) * _PAGE
    return total


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    """User + system CPU of ``pid``; ``with_children`` adds the CPU of
    its children that have exited and been waited for."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if with_children:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


class CpuSplit:
    """CPU seconds of the driver, the JVM and the JVM's Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def read(self) -> dict[str, float]:
        workers = [p for p in descendants(self.jvm_pid) if p != self.jvm_pid]
        t = os.times()
        return {
            "driver": t.user + t.system,
            "jvm": cpu_seconds(self.jvm_pid),
            # exited workers are charged to the process that waited for them
            "pyworker": sum(cpu_seconds(p, with_children=True) for p in workers)
            + (cpu_seconds(self.jvm_pid, with_children=True) - cpu_seconds(self.jvm_pid)),
        }


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process's tree until stopped and,
    once ``heap`` is set, the bytes of JVM heap in use."""

    def __init__(self, period_s: float = 0.1):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak = 0
        self.heap = None  # () -> bytes of JVM heap in use
        self.heap_peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self.heap is not None:
                try:
                    self.heap_peak = max(self.heap_peak, self.heap())
                except Exception:  # the JVM went away under a failed run
                    self.heap = None
            self._stop_event.wait(self.period_s)

    def stop(self) -> int:
        self._stop_event.set()
        self.join(timeout=5)
        return self.peak

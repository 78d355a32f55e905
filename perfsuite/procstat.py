"""CPU time, resident memory and CPU steal, read from /proc.

The benchmark's cost figures cover the whole process tree it starts: the
driver (this Python process), the Spark JVM it launches, and the PySpark
worker processes the JVM forks. All of them descend from the driver, so
the tree is found by walking parent links in /proc.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_table() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the command name."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        table[int(name)] = raw[raw.rindex(")") + 2:].split()
    return table


def _tree(table: dict[int, list[str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in table.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and its descendants,
    including children that have already been reaped."""
    table = _stat_table()
    total = 0
    for pid in _tree(table, os.getpid()):
        f = table[pid]
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def _pss_pages(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes sharing it. Python workers are forked from one daemon and
    share its pages, so summing their RSS would count those pages once per
    worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024 // _PAGE
    except OSError:  # the worker exited while we sampled
        pass
    return 0


def tree_rss_mb() -> tuple[float, float]:
    """Resident memory of this process's descendants (the JVM plus the
    Python workers), and of the JVM alone, in MB. The JVM, this process's
    only child, is read as RSS; its descendants, the Python workers, as
    PSS."""
    root = os.getpid()
    table = _stat_table()
    total = jvm = 0
    for pid in _tree(table, root):
        if pid == root:
            continue
        if int(table[pid][1]) == root:
            jvm += int(table[pid][21])
        else:
            total += _pss_pages(pid)
    total += jvm
    return total * _PAGE / 1e6, jvm * _PAGE / 1e6


def steal_s() -> float:
    """CPU steal since boot, summed over all CPUs, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class PeakRss:
    """Samples ``tree_rss_mb`` every 50 ms on a thread while the ``with``
    block runs."""

    def __init__(self):
        self.peak_mb = self.peak_jvm_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _update(self) -> None:
        total, jvm = tree_rss_mb()
        self.peak_mb = max(self.peak_mb, total)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)

    def _sample(self) -> None:
        while True:
            self._update()
            if self._stop.wait(0.05):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._update()

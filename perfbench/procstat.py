"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own Python process plus every descendant:
the driver JVM that ``spark-submit`` launches, PySpark's worker daemon
and the Python workers it forks. CPU time of a process that has exited
and been reaped is carried in its parent's ``cutime``/``cstime``, so
the sum over the live tree never loses the time of short-lived workers.
RSS is summed as reported, so pages shared by forked workers count once
per process.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses: split after the last ')'.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after ')' start at index 3 of the full line: utime=14
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of the tree. A child still running the ``java`` binary
    of its parent is the JVM between spawning a helper command and its
    exec: it shares the JVM's address space, so counting it would count
    the JVM twice."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            exe = _exe(pid)
            if os.path.basename(exe) == "java" and exe == _exe(int(f[1])):
                continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS on a thread; ``peak`` is the highest
    sample seen between ``start()`` and ``stop()``."""

    def __init__(self, root: int, interval_s: float = 0.05) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak

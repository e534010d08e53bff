"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (the driver, the Spark JVM and its Python workers).

CPU counts ``utime + stime`` of every live process in the tree plus
``cutime + cstime``, the time of children a tree member has already reaped,
so short-lived Python workers are not lost. ``tree_jit_cpu_s`` is the part
of it spent in the JVM's JIT compiler threads, read per thread; it stays
readable only while those threads live (``-XX:-UseDynamicNumberOfCompilerThreads``).
Peak RSS needs sampling: one daemon thread sums the tree's resident pages
every ``_INTERVAL_S`` seconds.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_INTERVAL_S = 0.1


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def tree_jit_cpu_s(root: int) -> float:
    ticks = 0
    for pid in tree_pids(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            # HotSpot names them "C1 CompilerThread0", "C2 CompilerThread1"
            if "CompilerThre" in raw[raw.index("(") + 1:raw.rindex(")")]:
                st = raw[raw.rindex(")") + 2:].split()
                ticks += int(st[11]) + int(st[12])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS; ``reset()`` starts a new window and
    ``peak_mb`` is the largest sample since."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        prev = 0
        while not self._stop.wait(_INTERVAL_S):
            rss = tree_rss_bytes(self.root)
            # a peak must hold for two consecutive samples, so that one
            # sample counting memory twice (a forked child reports its
            # parent's resident pages until it execs) cannot set it
            self.peak = max(self.peak, min(prev, rss))
            prev = rss

    def reset(self) -> None:
        self.peak = 0

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20

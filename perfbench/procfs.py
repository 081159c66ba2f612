"""Process-tree readings from /proc: peak resident memory and CPU seconds.

A run's process tree is the benchmark worker (the Spark application), the JVM
it launches and the JVM's Python workers, so both readings walk every
descendant of a root pid.
"""

from __future__ import annotations

import os
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_hwm_kb(root: int) -> dict[int, int]:
    """pid -> peak resident set (VmHWM, kB) of each process in the tree.

    The kernel keeps each process's high-water mark, so no peak is lost
    between samples."""
    out = {}
    for pid in descendants(root):
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                out[pid] = int(line.split()[1])
    return out


class PeakRss:
    """Peak resident memory of a process tree, sampled: the largest sum,
    over the processes alive at one sample, of their high-water marks.

    A process must have been seen before to count.  A helper the JVM
    spawns shares the JVM's memory until it execs and would read as a
    second copy of it; such helpers live for milliseconds."""

    def __init__(self) -> None:
        self.seen: set[int] = set()
        self.peak_kb = 0

    def sample(self, root: int) -> None:
        alive = tree_hwm_kb(root)
        self.peak_kb = max(self.peak_kb, sum(kb for pid, kb in alive.items() if pid in self.seen))
        self.seen.update(alive)

    def mb(self) -> float:
        return self.peak_kb / 1024


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU of the live tree, including reaped children."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK

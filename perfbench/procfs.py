"""Process-tree accounting from /proc: CPU-seconds and peak resident memory.

CPU time comes from ``/proc/<pid>/stat`` (utime + stime, plus cutime + cstime
so children that exited and were reaped still count). Time the hypervisor
stole from the guest is not charged to any process, so these figures exclude
steal, unlike wall time. Peak memory comes from each process's ``VmHWM``, the
kernel's own high-water mark, so no sampling interval can miss a peak.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:  # the process exited while we looked
        pass
    return out


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[0] is state (field 3); utime..cstime are fields 14..17
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU-seconds (user + sys) burnt so far by ``root``'s process tree."""
    return sum(_stat_ticks(p) for p in tree(root)) / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm(root: int) -> dict[int, int]:
    """Per-process resident high-water mark in kB for ``root``'s tree."""
    return {p: _hwm_kb(p) for p in tree(root)}


class PeakTracker:
    """Keeps the largest ``VmHWM`` seen for every process of a tree.

    Each process's own mark never falls, so a process only loses its figure
    if it exits between two observations; the tree's peak is the sum of the
    marks of the processes that were ever part of it.
    """

    def __init__(self, root: int) -> None:
        self.root = root
        self.marks: dict[int, int] = {}

    def observe(self) -> None:
        for pid, kb in tree_hwm(self.root).items():
            if kb > self.marks.get(pid, 0):
                self.marks[pid] = kb

    def peak_mb(self) -> float:
        return sum(self.marks.values()) / 1024.0


def steal_s() -> float:
    """Seconds the hypervisor has stolen from this machine's CPUs since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0

"""This process and its descendants (driver, JVM, Python workers), read
from /proc: the process tree, its CPU time and the machine's steal time."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid) -> list[str]:
    """The fields of /proc/<pid>/stat after the command name."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree() -> list[int]:
    """This process and every process it started, directly or not."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat(entry)[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by the process tree,
    including children that have ended and been waited for."""
    total = 0
    for pid in tree():
        try:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in _stat(pid)[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs, all
    CPUs summed."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / TICK

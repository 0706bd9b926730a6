"""Readings of this process tree and the machine from /proc.

CPU seconds are summed over the benchmark's whole process tree: the
driver interpreter, the JVM it launches and the JVM's Python workers.
Each live process contributes utime+stime plus cutime+cstime, the CPU of
its already-reaped children, so workers that exit mid-run still count.
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list:
    """Pids of every live descendant of ``root`` (not ``root`` itself)."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime+cutime+cstime over ``root`` and its live descendants."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat, counted from 1
            total += sum(int(x) for x in st[11:15])
    return total / _HZ


def steal_s() -> float:
    """Machine-wide steal time since boot (all CPUs summed)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _HZ


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (resolution one
    clock tick), so set-up time can be counted from the process's start
    rather than from the first line of the script."""
    import time

    st = _stat(os.getpid())
    start_ticks = int(st[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / _HZ)


def cpu_probe_s(n: int = 3_000_000) -> float:
    """CPU seconds this process spends on a fixed pure-Python loop: a
    reading of how fast the machine runs code right now, apart from the
    program under test (other tenants of a shared host slow it down
    without showing as steal)."""
    import time

    t = time.process_time()
    x = 0
    for i in range(n):
        x += i * i
    return time.process_time() - t

"""Process-tree CPU and host CPU steal, read from /proc."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (boot-time clock)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, including reaped
    children of its members."""
    total = 0
    for pid in tree():
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs of the host."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def host_probe_s() -> float:
    """Wall time of a fixed single-threaded Python loop: a rough gauge of
    how fast the host runs this process, for telling host drift apart
    from changes of the engine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc ^= i * 2654435761
    return time.perf_counter() - t0

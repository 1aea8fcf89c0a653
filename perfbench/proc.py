"""Resource readings of the benchmark's process tree (the driver JVM and its
Python workers), from /proc: psutil is not a dependency."""

from __future__ import annotations

import os

TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # the command name may hold spaces; fields after it are positional
        return fh.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat(int(d))[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def tree_rss_mb(pid: int) -> float:
    """Summed resident set of every process below ``pid``."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and every process below it: the
    live ones' own time plus the time of the children they have reaped (the
    Spark launcher JVM, exited Python workers)."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            f = _stat(p)
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total * TICK_S

"""Reading this benchmark's process tree from ``/proc``: the Python
driver, the JVM it launches and the JVM's Python workers."""

from __future__ import annotations

import os
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(pid: int) -> list[int]:
    children, out, todo = _proc_children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(children.get(p, []))
        todo.extend(children.get(p, []))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per worker."""
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its descendants,
    including the descendants that have already ended and been reaped.

    Time the hypervisor gives to other guests (steal) is not in it, so on a
    shared host it varies far less than wall time; the difference between
    two readings is the CPU the program spent between them."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            stat = Path(f"/proc/{pid}/stat").read_text()
        except OSError:
            continue  # ended between listing and reading
        # utime, stime, cutime, cstime
        total += sum(map(int, stat[stat.rindex(")") + 2:].split()[11:15]))
    return total / _TICK

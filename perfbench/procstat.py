"""CPU time and peak memory of the engine's process tree, from /proc.

The engine's tree is this process (the Spark driver's Python side), the
driver JVM it launched and the Python workers the JVM forks. The fake
Jira server is also a child of this process and is excluded by pid.
Workers that exit between samples are reaped by the PySpark daemon, so
their CPU time shows up in the daemon's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; utime, stime, cutime, cstime are fields 14-17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / _TICK


def _table() -> dict[int, tuple[int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(root: int, exclude: set[int] = frozenset()) -> dict[int, float]:
    """pid -> cpu seconds for ``root`` and its descendants, skipping the
    subtrees rooted at ``exclude``."""
    table = _table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in table:
            continue
        out[pid] = table[pid][1]
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int, exclude: set[int] = frozenset()) -> float:
    return sum(tree(root, exclude).values())


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot (0 on bare metal)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")

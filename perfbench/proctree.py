"""CPU and memory of a process tree, read from /proc.

The tree is the benchmark's child interpreter, its Spark JVM and the JVM's
Python daemon and workers. CPU sums utime+stime+cutime+cstime over the live
members, so a worker that ran and was reaped inside the tree still counts
through its parent's cutime/cstime, and the sum never decreases.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may hold spaces and parentheses: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _all_stats() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and all its descendants so far."""
    stats = _all_stats()
    # fields 14-17 of proc(5): utime, stime, cutime, cstime
    return sum(
        sum(int(x) for x in stats[pid][11:15]) for pid in _tree(root, stats)
    ) / _TICK


def tree_pids(root: int) -> list[int]:
    """``root`` and its live descendants."""
    return _tree(root, _all_stats())


def pss_mb(pid: int) -> float:
    """Proportional set size of one process, in MiB: its resident pages,
    with each page shared by n processes counted 1/n. Python workers are
    forks of one daemon, so summing their RSS would count the shared
    interpreter once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:  # exited meanwhile
        pass
    return 0.0


def group_pids(pgid: int) -> list[int]:
    """Live (non-zombie) processes whose process group is ``pgid``."""
    return [
        pid for pid, st in _all_stats().items()
        if int(st[2]) == pgid and st[0] != "Z"
    ]

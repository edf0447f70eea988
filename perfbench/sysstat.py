"""Process and host readings: CPU seconds of a process tree and host steal
ticks from /proc, peak RSS, and a fixed numpy CPU canary."""

from __future__ import annotations

import os
import resource
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while /proc was read
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, utime + stime + cutime + cstime ticks)."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:  # f[1] = ppid; f[11..14] = the four times
                out[int(pid)] = (int(f[1]), sum(int(v) for v in f[11:15]))
    return out


def descendants(root_pid: int, procs=None) -> list[int]:
    procs = _processes() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and its descendants.

    Reaped children are included through each parent's cutime/cstime, so
    the difference of two readings also counts a Python worker that exited
    in between.
    """
    procs = _processes()
    pids = [root_pid] + descendants(root_pid, procs)
    return sum(procs[p][1] for p in pids if p in procs) / _TICK


def peak_rss_mb() -> float:
    """Peak resident set size of this process so far, in MiB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def steal_ticks() -> tuple[int, int]:
    """(steal, total) ticks from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def cpu_canary_s() -> float:
    """Best-of-3 wall seconds of a fixed single-thread numpy workload."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((512, 512))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        b = a.copy()
        for _ in range(12):
            b = b @ a
            b /= np.abs(b).max()
        best = min(best, time.perf_counter() - t0)
    return best

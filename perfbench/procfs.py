"""Readers for Linux ``/proc``: process CPU time, peak RSS, start time
and the process tree. Every reader takes the proc root as an argument
so tests can point it at a synthetic tree."""

from __future__ import annotations

import os

PROC = "/proc"
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid, proc: str = PROC) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name; index 0
    is field 3 (state). The name sits in parentheses and may itself
    hold spaces or parentheses, so split after the last ')'."""
    with open(os.path.join(proc, str(pid), "stat")) as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2 :].split()


def parent_pid(pid, proc: str = PROC) -> int:
    return int(_stat_fields(pid, proc)[1])


def cpu_seconds(pid, proc: str = PROC) -> float:
    """User + system CPU seconds of ``pid`` and of its children that
    have exited and been waited for."""
    f = _stat_fields(pid, proc)
    # utime, stime, cutime, cstime
    return (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / CLK_TCK


def descendants(root: int, proc: str = PROC) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            children.setdefault(parent_pid(name, proc), []).append(int(name))
        except (OSError, ValueError):
            continue  # exited while we looked
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_seconds(root: int, proc: str = PROC) -> float:
    """CPU seconds of every live descendant of ``root``, each with its
    own reaped children. A worker that exits moves its time into its
    parent's reaped total, so the sum does not drop when one exits."""
    total = 0.0
    for pid in descendants(root, proc):
        try:
            total += cpu_seconds(pid, proc)
        except OSError:
            continue  # exited between the listing and the read
    return total


def peak_rss_mb(pid, proc: str = PROC) -> float:
    """``VmHWM``: the highest resident set size ``pid`` has had, in MiB."""
    with open(os.path.join(proc, str(pid), "status")) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def age_seconds(pid="self", proc: str = PROC) -> float:
    """Seconds since ``pid`` started, to the resolution of a clock tick."""
    start_ticks = int(_stat_fields(pid, proc)[19])
    with open(os.path.join(proc, "uptime")) as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK

"""Process-tree CPU time and resident memory, read from ``/proc``.

The engine runs as a tree: the driver's Python, the JVM it launches and the
Python workers the JVM forks. A child that exits and is reaped adds its CPU
time to its parent's ``cutime``/``cstime``, so summing own plus reaped-child
time over the live tree keeps that time counted after the child is gone.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(root: int | None = None) -> float:
    """User + system CPU seconds of the tree under ``root``, reaped children
    included."""
    total = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5);
            # ``fields`` starts at field 3 (state)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_mb(root: int | None = None) -> float:
    """Resident memory summed over the tree, in MB."""
    return sum(_status_kb(p, "VmRSS:") for p in tree(root)) / 1024.0


def peak_rss_mb(root: int | None = None) -> float:
    """Each live process's own peak resident memory (``VmHWM``), summed over
    the tree, in MB."""
    return sum(_status_kb(p, "VmHWM:") for p in tree(root)) / 1024.0

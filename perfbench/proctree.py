"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is this process, the Spark JVM it launches and the Python workers the
JVM forks. A child that has exited is still counted: its CPU time moves into
its parent's ``cutime``/``cstime`` once the parent reaps it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """utime + stime + cutime + cstime summed over the live tree."""
    total = 0
    for pid in tree():
        st = _stat(pid)
        if st:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (``VmHWM``)."""
    kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1024

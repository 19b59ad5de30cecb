"""CPU and I/O accounting from ``/proc`` for a process tree.

The tree is the benchmark process, the Spark JVM it launches and the
Python daemons and workers the JVM forks. CPU is utime+stime plus the
children's cutime+cstime that the kernel folded into each live process
when it reaped them. A worker that is born and dies between two samples,
and was reaped with SIGCHLD ignored (the PySpark daemon does that), is not
counted: Spark reuses its workers, so that is rare once warm.

I/O is ``rchar``/``wchar`` from ``/proc/<pid>/io``: bytes moved through
read/write system calls, page-cache hits and sockets included. The Arrow
batches between the JVM and its Python workers travel over local sockets,
so they are counted once on each side.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, cpu ticks incl. reaped children) of ``pid``, None if gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _io(pid: int) -> tuple[int, int]:
    try:
        with open(f"/proc/{pid}/io", encoding="ascii") as f:
            kv = dict(line.split(": ") for line in f.read().splitlines())
    except OSError:
        return 0, 0
    return int(kv.get("rchar", 0)), int(kv.get("wchar", 0))


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def sample(root: int) -> tuple[float, int, int]:
    """(cpu seconds, rchar, wchar) summed over the live tree of ``root``."""
    cpu = rchar = wchar = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is None:
            continue
        cpu += st[1]
        r, w = _io(pid)
        rchar += r
        wchar += w
    return cpu / _TICK, rchar, wchar


def host_cpu() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine from /proc/stat: the
    share of time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)

"""CPU seconds spent by a process and everything it started.

The engine's work runs in the driver JVM, in the Python workers the JVM
forks, and in this Python process. ``tree_cpu_seconds(os.getpid())``
adds user and system time over all of them: every live process of the
tree, plus what the kernel has already folded into a parent for the
children it reaped. It also returns the part spent by JIT compiler
threads (HotSpot names them ``C1 CompilerThreadN``/``C2 CompilerThreadN``,
cut to 15 characters), which run beside the program while the JVM warms
up. ``run.py`` turns off the JVM's dynamic compiler threads, so none of
them exits and takes its time out of the per-thread sum.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _fields(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a stat file, or None if gone."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    head, rest = raw.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def tree_cpu_seconds(root: int) -> tuple[float, float]:
    """(CPU seconds of ``root`` and its descendants, the part of it
    spent in JIT compiler threads)."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _fields(f"/proc/{name}/stat")
            if st is not None:
                # after comm: state, ppid, ... utime, stime, cutime, cstime
                # are fields 14-17 of stat(5), at offsets 11-14 here
                parent[int(name)] = int(st[1][1])
                ticks[int(name)] = sum(int(f) for f in st[1][11:15])
    total = jit = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p != root:
            continue
        total += t
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        if len(tids) == 1:
            continue
        for tid in tids:
            st = _fields(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and st[0].startswith(JIT_THREADS):
                jit += int(st[1][11]) + int(st[1][12])
    return total / TICK, jit / TICK

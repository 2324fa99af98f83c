"""CPU clocks: the benchmark's process tree, the host, a reference.

The tree is the driver Python process, the JVM it starts and the
Python workers the JVM forks.  Each process counts its own user and
system time plus that of the children it has reaped, so a worker that
exits between two readings still counts once (in its parent).  The
host's steal time and the reference chunk show how much of a slow run
was the shared machine's doing.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, CPU ticks) of one process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    # fields after the command: state ppid ... utime(12) stime cutime cstime
    return int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    every process below it."""
    root = os.getpid() if root is None else root
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[int(pid)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            total += procs[pid][1]
        todo.extend(kids.get(pid, ()))
    return total * TICK_S


def host_steal_s() -> float:
    """Seconds all CPUs of this machine have spent stolen by the host."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) * TICK_S



# SHA-256 of a buffer that fits the L2 cache: native code, so unlike a
# pure-Python loop its speed does not shift with the interpreter's
# memory layout (a Python loop ran 7.0-10.6 ms in eight fresh processes
# on a quiet host, this 1.55-1.99 ms per 8 digests)
REF_BUF = bytes(range(256)) * 1024
REF_DIGESTS = 48
REF_REPEATS = 3


def ref_s() -> float:
    """Median seconds of a few runs of a fixed chunk of hashing in this
    thread: how fast the host runs a core right now.  Taken just before
    each timed op, while no program code runs in this thread, so a
    run's median of it follows the host's load and nothing the program
    does."""
    ts = []
    for _ in range(REF_REPEATS):
        t = time.perf_counter()
        for _ in range(REF_DIGESTS):
            hashlib.sha256(REF_BUF).digest()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)

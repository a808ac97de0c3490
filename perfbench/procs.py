"""CPU of the benchmark's whole process tree, read from /proc.

The engine's work is spread over three kinds of process: the driver
Python process, the JVM it launches, and the pyspark daemon with its
forked Python workers under the JVM.  A process's own CPU is
utime + stime; CPU of children it has already reaped is cutime +
cstime.  Summing both over every live process of the tree counts each
CPU second exactly once, whether the process that spent it is still
running or not.
"""

from __future__ import annotations

import os
import signal
import time
from dataclasses import dataclass

_HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, list[int]] | None:
    """(ppid, comm, [utime, stime, cutime, cstime]) in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), comm, [int(x) for x in rest[11:15]]


def _table() -> dict[int, tuple[int, str, list[int]]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, table=None) -> list[int]:
    table = _table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


@dataclass(frozen=True)
class TreeCpu:
    """CPU seconds of the tree rooted at the driver, split by role."""

    driver: float
    jvm: float
    python_workers: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.python_workers

    def __sub__(self, other: "TreeCpu") -> "TreeCpu":
        return TreeCpu(
            self.driver - other.driver,
            self.jvm - other.jvm,
            self.python_workers - other.python_workers,
        )


def tree_cpu() -> TreeCpu:
    """Driver = this process's own CPU; jvm = every `java` process's own
    CPU; python_workers = everything else (the pyspark daemon, its
    workers, and every child a process of the tree has reaped)."""
    root = os.getpid()
    table = _table()
    driver = jvm = workers = 0
    for pid in [root] + descendants(root, table):
        st = table.get(pid)
        if st is None:
            continue
        _, comm, (ut, stt, cut, cst) = st
        if pid == root:
            driver += ut + stt
        elif comm == "java":
            jvm += ut + stt
        else:
            workers += ut + stt
        workers += cut + cst
    return TreeCpu(driver / _HZ, jvm / _HZ, workers / _HZ)


def steal_s() -> float:
    """Host-wide steal time so far (all CPUs), from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0


def reap_descendants(grace_s: float = 20.0) -> list[int]:
    """Terminate what is left of the tree and wait until it is gone:
    SIGTERM first, SIGKILL once `grace_s` has passed.  Returns the
    pids still present after twice the grace period (none, normally)."""
    me = os.getpid()
    start = time.monotonic()
    while (left := descendants(me)) and time.monotonic() - start < 2 * grace_s:
        sig = signal.SIGTERM if time.monotonic() - start < grace_s else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
    return left

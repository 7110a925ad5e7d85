"""Readings from /proc for the benchmark's own processes, and the
machine-wide figures each run is stamped with."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of /proc/<pid>/stat; None once the
    process is gone. Fields after comm: state(0) ppid(1) pgrp(2) ...
    utime(11) stime(12) cutime(13) cstime(14)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _stats() -> dict[int, tuple[int, int, str, int]]:
    """pid -> (ppid, pgrp, comm, cpu ticks incl. reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        st = _stat(int(entry)) if entry.isdigit() else None
        if st:
            comm, f = st
            out[int(entry)] = (int(f[1]), int(f[2]), comm, sum(int(x) for x in f[11:15]))
    return out


def descendants(root: int, stats: dict | None = None) -> list[int]:
    stats = stats if stats is not None else _stats()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, ()))
    return found


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, each with the
    CPU of the children it has reaped (the JVM, the Python driver and the
    Python workers the JVM forks)."""
    stats = _stats()
    return sum(stats[p][3] for p in descendants(root, stats) if p in stats) / TICK


def cpu_s(pid: int) -> float:
    """CPU seconds of one process's own threads."""
    f = _stat(pid)[1]
    return (int(f[11]) + int(f[12])) / TICK


def group(pgid: int) -> list[int]:
    """The live processes of a process group."""
    return [pid for pid, st in _stats().items() if st[1] == pgid]


def jvm_pid() -> int:
    """The driver JVM: this process's descendant named java."""
    stats = _stats()
    return next(p for p in descendants(os.getpid(), stats) if stats[p][2] == "java")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin pipe from this process closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]

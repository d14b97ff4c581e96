"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this Python driver, the JVM it launches and the Python
workers the JVM forks. A process's ``cutime``/``cstime`` hold the CPU of
children it has reaped, so summing own plus reaped-children CPU over the
live processes counts every process once, including workers that exited.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may hold spaces and parentheses; fields resume after the last ')'
    return [raw[: raw.index(" ")], raw[raw.index("(") + 1: raw.rindex(")")]] + raw[
        raw.rindex(")") + 2:
    ].split()


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    start_ticks = int(_stat(os.getpid())[21])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot: time the
    hypervisor ran something else while this machine's CPUs wanted to run."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


class Sample:
    """One reading of the tree: per-role CPU seconds and resident MB, and
    the pids of the Python worker processes."""

    __slots__ = ("cpu", "rss_mb", "worker_pids")

    def __init__(self):
        self.cpu = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self.rss_mb = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self.worker_pids: set[int] = set()

    @property
    def total_cpu(self) -> float:
        return sum(self.cpu.values())

    @property
    def total_rss_mb(self) -> float:
        return sum(self.rss_mb.values())


def sample(root: int | None = None) -> Sample:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is None:
            continue
        stats[int(entry)] = st
        children.setdefault(int(st[3]), []).append(int(entry))
    out = Sample()
    # walk the tree: a java process below the root starts the "jvm" role,
    # and Python processes below the JVM are the worker daemon and the
    # workers it forks (a daemon's children are the workers proper)
    stack = [(root, "driver", False)]
    while stack:
        pid, role, parent_is_daemon = stack.pop()
        st = stats.get(pid)
        if st is None:
            continue
        is_daemon = False
        if role == "driver" and pid != root and st[1] == "java":
            role = "jvm"
        elif role == "jvm" and st[1].startswith("python"):
            role, is_daemon = "workers", True
        elif parent_is_daemon:
            out.worker_pids.add(pid)
        out.cpu[role] += sum(int(v) for v in st[13:17]) / _TICK
        out.rss_mb[role] += int(st[23]) * _PAGE / 2**20
        stack.extend((c, role, is_daemon) for c in children.get(pid, []))
    return out

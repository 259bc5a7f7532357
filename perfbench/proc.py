"""Readings from /proc: CPU steal, peak memory and the CPU time of the
engine's process tree (this driver process, the JVM and the JVM's Python
workers)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_stat() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stat_fields(pid: int | str) -> list[str]:
    """The fields of /proc/<pid>/stat after the command name."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` (Spark's Python workers)."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            parent[int(entry)] = int(_stat_fields(entry)[1])
        except (OSError, IndexError, ValueError):
            continue
    found, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - found
        found |= frontier
    return found


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        return _stat_fields(pid)[0] != "Z"
    except (OSError, IndexError):
        return False


def process_cpu_s(fields: list[str]) -> float:
    """User + system CPU seconds of a process and of its children it has
    waited for, from its /proc/<pid>/stat fields after the command name
    (utime, stime, cutime, cstime are fields 14-17 of the whole line)."""
    return sum(int(x) for x in fields[11:15]) / _TICK


def engine_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by the engine: this driver process, the
    JVM ``jvm`` and every live process below it (the Python workers).
    Process totals include threads that have ended, and a worker that
    has exited and been waited for is counted in its parent's children
    time, so the difference of two readings counts each CPU second once.
    The kernel does not charge a process for time the hypervisor stole
    from it, so on a loaded host the reading moves much less than wall
    time does."""
    total = 0.0
    for pid in (os.getpid(), jvm, *descendants(jvm)):
        try:
            total += process_cpu_s(_stat_fields(pid))
        except (OSError, IndexError, ValueError):
            continue  # exited between the listing and the read
    return total

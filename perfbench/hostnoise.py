"""Host-noise record: hypervisor steal and CPU used by other processes.

Sampled from /proc at the start and end of a measured window, so a run
taken while the host was busy shows as noise rather than as a
regression of the code under test.
"""

from __future__ import annotations

import os
from pathlib import Path


def _host_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) over all CPUs since boot, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (fields + [0] * 8)[:8]
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


def _stat(pid: int | str) -> list[str] | None:
    """/proc/<pid>/stat fields after the command name, or None once gone."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def tree_pids(root: int) -> set[int]:
    """*root* and its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in Path("/proc").iterdir():
        if entry.name.isdigit() and (fields := _stat(entry.name)) is not None:
            children.setdefault(int(fields[1]), []).append(int(entry.name))
    out, todo = {root}, [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def running(pid: int) -> bool:
    """False once *pid* has ended, even if it is a zombie no one reaped yet."""
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def _tree_jiffies(root: int) -> int:
    """CPU time of *root* and its live descendants, including children
    they already reaped (the JVM reaps its Python workers)."""
    total = 0
    for pid in tree_pids(root):
        if (fields := _stat(pid)) is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants."""
    return _tree_jiffies(os.getpid()) / os.sysconf("SC_CLK_TCK")


class NoiseWindow:
    """Steal and foreign-CPU shares of host CPU time between start() and
    stop()."""

    def start(self) -> None:
        self._host = _host_jiffies()
        self._own = _tree_jiffies(os.getpid())

    def stop(self) -> dict[str, float]:
        busy0, steal0, total0 = self._host
        busy1, steal1, total1 = _host_jiffies()
        own = _tree_jiffies(os.getpid()) - self._own
        total = max(1, total1 - total0)
        return {
            "steal_frac": (steal1 - steal0) / total,
            "foreign_cpu_frac": max(0, (busy1 - busy0) - own) / total,
            "own_cpu_frac": own / total,
        }

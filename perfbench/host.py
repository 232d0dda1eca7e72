"""Host and process readings from ``/proc``: CPU time and peak RSS of the
Spark JVM and its Python workers, bytes those workers moved, and host CPU
weather (steal, and busy time excluding steal)."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may hold spaces or parentheses; fields after it are space-separated
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids`` plus that of their reaped children, so
    a worker that exits between two readings is still counted once its
    parent has collected it."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def _kb(path: str, key: str) -> int:
    """The kB figure on the line of ``path`` that starts with ``key``."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    return sum(_kb(f"/proc/{p}/status", "VmHWM:") for p in pids) / 1024.0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def python_io_mb(pids: list[int]) -> float:
    """Bytes read plus written by the live Python worker processes, which
    is the traffic across the JVM/Python (Arrow or pickle) boundary."""
    total = 0
    for pid in pids:
        if not _is_python(pid):
            continue
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith(("rchar:", "wchar:")):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1e6


def cpu_times() -> list[int]:
    """Aggregate ``/proc/stat`` CPU counters: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def weather(before: list[int], after: list[int]) -> dict:
    """Steal % and busy % (busy excludes steal, idle and iowait) between two
    ``cpu_times`` readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    user, nice, system, idle, iowait, irq, softirq, steal = d
    return {
        "steal_pct": 100.0 * steal / total,
        "busy_pct": 100.0 * (user + nice + system + irq + softirq) / total,
    }


def steal_share(before: list[int], after: list[int]) -> float:
    """The share of the vCPUs' runnable time that the host took between two
    ``cpu_times`` readings: steal / (busy + steal)."""
    d = [b - a for a, b in zip(before, after)]
    user, nice, system, idle, iowait, irq, softirq, steal = d
    runnable = user + nice + system + irq + softirq + steal
    return steal / runnable if runnable else 0.0


def mem_total_mb() -> int:
    return _kb("/proc/meminfo", "MemTotal:") // 1024

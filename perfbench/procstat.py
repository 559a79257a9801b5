"""Process-tree CPU time and peak memory, read from ``/proc``.

The driver Python process launches the Spark JVM, and the JVM forks the
Python workers that run the ``mapInPandas`` kernels. CPU time of the tree
is the sum over every live process of user + system time plus the
``cutime``/``cstime`` of children it has already reaped, so workers that
exit mid-run are still counted (by their parent). Counters are cumulative,
so two reads bracket a timed region without a sampling thread.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    head, tail = raw.rsplit(")", 1)
    return [head.split(" (", 1)[1]] + tail.split()


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = int(st[2])
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the process tree under ``root``,
    including its reaped children."""
    total = 0
    for pid in descendants(root or os.getpid()):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[12:16])
    return total / _TICK


def jvm_pid(root: int | None = None) -> int | None:
    for pid in descendants(root or os.getpid()):
        st = _stat(pid)
        if st is not None and st[0] == "java":
            return pid
    return None


def hwm_mb(pid: int | None) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 when gone."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """VmHWM of the Spark JVM plus VmHWM of this driver process."""
    return hwm_mb(jvm_pid()) + hwm_mb(os.getpid())


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def uptime_since_start_s() -> float:
    """Seconds since this process started (from its /proc start time)."""
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    # field 22 of /proc/<pid>/stat: start time in ticks since boot
    return up - int(_stat(os.getpid())[20]) / _TICK

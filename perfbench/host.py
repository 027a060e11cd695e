"""Host sizing, fingerprint and process-tree memory sampling.

The session is sized from what the process may actually use: CPU
affinity and the cgroup CPU quota for cores, a fixed fraction of
MemTotal (capped by the cgroup memory limit) for the driver heap.
"""

from __future__ import annotations

import math
import os
import threading

HEAP_FRACTION = 0.1


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def cgroup_cpu_quota() -> float | None:
    """CPUs allowed by the cgroup quota (v2 ``cpu.max`` or v1
    ``cfs_quota_us``), or None when unlimited."""
    v2 = _read("/sys/fs/cgroup/cpu.max")
    if v2:
        quota, period = v2.split()
        return None if quota == "max" else int(quota) / int(period)
    quota = _read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us")
    period = _read("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
    if quota and period and int(quota) > 0:
        return int(quota) / int(period)
    return None


def cgroup_mem_limit() -> int | None:
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        v = _read(path)
        if v and v != "max" and int(v) < 1 << 60:
            return int(v)
    return None


def meminfo() -> dict[str, int]:
    out = {}
    for line in (_read("/proc/meminfo") or "").splitlines():
        key, _, rest = line.partition(":")
        out[key] = int(rest.split()[0]) * 1024
    return out


def cores() -> int:
    n = len(os.sched_getaffinity(0))
    quota = cgroup_cpu_quota()
    return max(1, min(n, math.ceil(quota))) if quota else n


def driver_heap_mb() -> int:
    total = meminfo()["MemTotal"]
    limit = cgroup_mem_limit()
    if limit:
        total = min(total, limit)
    return max(512, int(total * HEAP_FRACTION) >> 20)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot: the steal share
    of an interval tells how much a neighbouring VM took from this one."""
    fields = [int(x) for x in (_read("/proc/stat") or "cpu 0").splitlines()[0].split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def loadavg() -> list[float]:
    return [float(x) for x in (_read("/proc/loadavg") or "0 0 0").split()[:3]]


def fingerprint() -> dict:
    import pandas
    import pyarrow
    import pyspark

    mem = meminfo()
    return {
        "affinity_cores": len(os.sched_getaffinity(0)),
        "cgroup_cpu_quota": cgroup_cpu_quota(),
        "cgroup_mem_limit": cgroup_mem_limit(),
        "mem_total": mem.get("MemTotal"),
        "mem_available": mem.get("MemAvailable"),
        "loadavg_start": loadavg(),
        "spark": pyspark.__version__,
        "arrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat:
            # the command name may hold spaces: ppid follows the last ')'
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(kids: dict[int, list[int]]) -> list[int]:
    """Every process below this one: the driver JVM and the Python
    workers it forks."""
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def descendants_rss() -> int:
    """Resident bytes of the driver JVM (the direct child) and of the
    Python workers below it. Other descendants are skipped: a short-lived
    helper the JVM forks shows the JVM's whole RSS until it execs."""
    kids = _children()
    jvm, total = set(kids.get(os.getpid(), [])), 0
    for pid in _descendants(kids):
        if pid not in jvm and not (_read(f"/proc/{pid}/comm") or "").startswith("python"):
            continue
        for line in (_read(f"/proc/{pid}/status") or "").splitlines():
            if line.startswith("VmRSS:"):
                total += int(line.split()[1]) * 1024
    return total


class RssSampler:
    """Peak of ``descendants_rss`` sampled on a thread while active."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss())
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

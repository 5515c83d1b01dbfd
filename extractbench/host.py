"""Host and process-tree probes read from ``/proc``.

The benchmark process, the Spark JVM it launches and the JVM's Python
workers form one process tree; the benchmark bills the CPU time of all of
it, as a cluster would.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2:].split()


def tree() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree, including children
    that have exited and been reaped inside it."""
    ticks = 0
    for pid in tree():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in st[11:15])
    return ticks / CLK_TCK


def python_worker_peak_rss_mb() -> float:
    """Largest peak RSS (VmHWM) of any live PySpark daemon or worker."""
    peak = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far, in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def canary_ms() -> float:
    """Median wall of a fixed single-thread pure-Python job. It does the
    same work on every host and run, so a slow reading marks a noisy
    window rather than a slow program."""
    data = [hashlib.sha256(str(i).encode()).hexdigest() for i in range(4000)]
    walls = []
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for s in sorted(data, key=lambda s: s[::-1]):
            acc = (acc * 31 + sum(map(ord, s))) & 0xFFFFFFFF
        walls.append((time.perf_counter() - t) * 1e3)
    return statistics.median(walls)

"""Host weather and memory, recorded beside every run.

A reading taken on a loaded host should be told apart from a
regression: ``bench.calibration_probe`` is a fixed CPU-bound Spark job
whose wall depends on the host, not on the program; steal is the share
of CPU time the hypervisor gave to other guests during the run.
"""

from __future__ import annotations

import os
import resource


def cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Steal ticks over all ticks between two :func:`cpu_times`."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])           # guest time is already inside user
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0


def cpus() -> int:
    return len(os.sched_getaffinity(0))

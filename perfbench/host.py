"""Host fingerprint and peak memory, read from ``/proc``."""

from __future__ import annotations

import os
import platform


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _meminfo_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def fingerprint_start() -> dict:
    import pyspark

    return {
        "cpus": cpus(),
        "mem_total_mb": round(_meminfo_mb()),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_start": list(os.getloadavg()),
    }


def fingerprint_end(spark) -> dict:
    return {
        "spark": spark.version,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "loadavg_end": list(os.getloadavg()),
    }


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this Python
    process."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm = _hwm_kb(proc.pid) if proc is not None else 0
    return (jvm + _hwm_kb("self")) / 1024.0

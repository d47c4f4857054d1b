"""Machine context recorded beside every result: CPU steal share, peak
resident memory and a fixed pure-JVM canary.

A noisy-neighbour window inflates every timing on a shared host. Recording
the steal share and a fixed canary before and after each measurement puts
such a window next to the numbers, where it cannot pass for a regression.
"""

from __future__ import annotations

import os
import time


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    vals = [int(x) for x in fields[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted inside user/nice
    total = sum(vals[:8])
    return steal, total


class StealMeter:
    """Steal share of CPU time between ``start()`` and ``stop()``."""

    def start(self) -> None:
        self._s0, self._t0 = _cpu_jiffies()

    def stop(self) -> float:
        s1, t1 = _cpu_jiffies()
        dt = t1 - self._t0
        return (s1 - self._s0) / dt if dt > 0 else 0.0


def steal_window(seconds: float = 0.25) -> float:
    """Steal share over a short sampling window."""
    m = StealMeter()
    m.start()
    time.sleep(seconds)
    return m.stop()


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size (``VmHWM``) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Driver JVM plus this Python process, peak RSS in MiB."""
    return (vm_hwm_kb(jvm_pid(spark)) + vm_hwm_kb(os.getpid())) / 1024.0


def canary_ms(spark, n: int = 300_000_000) -> float:
    """A fixed pure-JVM job (range sum); its time tracks machine quality,
    not engine code."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(n).agg(F.sum("id")).collect()
    return (time.perf_counter() - t0) * 1000.0

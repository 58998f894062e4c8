"""Host interference and memory readings.  Recorded only: nothing here
adjusts, weights or drops a timing sample."""

from __future__ import annotations

import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Hypervisor steal time of the whole host so far, in CPU-seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK


def snapshot() -> dict:
    return {"steal_s": steal_s(), "loadavg": list(os.getloadavg())}


def calibrate(spark) -> float:
    """``bench.py``'s fixed ambient-load probe over a quarter of its range,
    timed once: one data-independent CPU sum over a generated range."""
    t0 = time.perf_counter()
    spark.range(0, 100_000_000, 1, 32).selectExpr(
        "sum(id * 3 + 7) as s"
    ).collect()
    return time.perf_counter() - t0


def peak_rss_mb(*pids: int) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0

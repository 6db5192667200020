"""Per-run noise stamp: what else the host was doing during the run.

Load average, CPU steal and iowait from /proc/stat, and a fixed
pure-numpy control kernel timed in-process at start and end. None of
these is a benchmark metric; a run whose control kernel or steal moved
a lot is one to distrust, not one to report as a regression or a win.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np


def _cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def control_kernel_ms() -> float:
    """Median of 5 timings of a fixed single-threaded numpy kernel."""
    rng = np.random.default_rng(12345)
    a = rng.random((160, 160))
    v = rng.random(200_000)
    ts = []
    for _ in range(5):
        t = time.perf_counter()
        m = a
        for _ in range(8):
            m = np.tanh(m @ a)
        np.sort(v)
        ts.append(time.perf_counter() - t)
    return statistics.median(ts) * 1000


class NoiseStamp:
    def __init__(self):
        self.load_start = os.getloadavg()[0]
        self.cpu_start = _cpu()
        self.control_start = control_kernel_ms()

    def finish(self, spark=None) -> dict:
        cpu_end = _cpu()
        d = [b - a for a, b in zip(self.cpu_start, cpu_end)]
        total = sum(d) or 1
        # /proc/stat columns: user nice system idle iowait irq softirq steal
        out = {
            "load_start": round(self.load_start, 2),
            "load_end": round(os.getloadavg()[0], 2),
            "iowait_share": round(d[4] / total, 4),
            "steal_share": round(d[7] / total, 4) if len(d) > 7 else 0.0,
            "nproc": os.cpu_count(),
            "control_ms_start": round(self.control_start, 3),
            "control_ms_end": round(control_kernel_ms(), 3),
        }
        if spark is not None:
            out["spark_cores"] = spark.sparkContext.defaultParallelism
            out["spark_heap"] = spark.conf.get("spark.driver.memory")
        return out

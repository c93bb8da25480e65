"""Host calibration and host-side measurements.

Cores come from ``SPARK_GRAFT_CPUS`` (else the CPUs this process may run
on, as ``nproc`` reports them). Driver memory is sized from MemAvailable
instead of the engine default (48g), which would overcommit a small host.
Load average and a fixed pure-JVM control job are recorded in every run,
so a noisy window can be recognised without a rerun.
"""

from __future__ import annotations

import os
import resource
import statistics
import time

# the control job: a sin-sum over a range, pure JVM codegen, no shuffle
CONTROL_ROWS = 12_000_000


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of MemAvailable in whole GiB, clamped to [1, 6]: local mode
    runs executors inside the driver JVM, and the host is shared. Whole GiB
    keep the heap size, and so GC behaviour, the same from run to run."""
    gib = min(max(mem_available_mb() // 4096, 1), 6)
    return f"{gib}g"


def loadavg() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: a slow window on a shared host shows here."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Resident-set high-water mark of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water mark plus this process's own."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return vm_hwm_mb(jvm_pid(spark)) + own


def control_s(spark, partitions: int, reps: int = 3) -> float:
    """Median wall of the control job split into ``partitions`` tasks."""
    from pyspark.sql import functions as F

    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, CONTROL_ROWS, 1, partitions).select(
            F.sin(F.col("id").cast("double")).alias("s")
        ).agg(F.sum("s")).collect()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)

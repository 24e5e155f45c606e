"""Helpers for the runner and the workloads: latency summaries, memory,
CPU and cache readings, and row-set comparisons."""

from __future__ import annotations

import gc
import math
import os
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def quantile(samples: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1)."""
    xs = sorted(samples)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(samples: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (None below 11 samples), with the sample count."""
    n = len(samples)
    q = (n - 10) / n if n > 10 else None
    return {
        "n": n,
        "p50": statistics.median(samples),
        "tail_q": q,
        "tail": quantile(samples, q) if q is not None else None,
    }


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def jvm_pid(spark) -> int:
    """Process id of the driver JVM, which in local mode also runs every
    executor thread."""
    return spark.sparkContext._jvm.ProcessHandle.current().pid()


def cpu_s(pid: int) -> float:
    """CPU seconds used so far by JVM ``pid`` and this process, over all
    their threads. The kernel leaves out time the host stole."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + time.process_time()


class Clock:
    """Wall and CPU seconds of the benchmark's calls into the engine.
    CPU time leaves out what the host stole, so it holds steady on a
    contended host where wall time does not."""

    def __init__(self, spark):
        self.pid = jvm_pid(spark)

    def start(self) -> tuple[float, float]:
        return time.perf_counter(), cpu_s(self.pid)

    def since(self, start: tuple[float, float]) -> tuple[float, float]:
        """(wall, CPU) seconds since ``start``."""
        wall, cpu = self.start()
        return wall - start[0], cpu - start[1]


def jvm_peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of JVM ``pid``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def host_steal_s() -> float:
    """CPU seconds, summed over this machine's CPUs, that the hypervisor
    ran other guests while this one had work: host contention, which
    slows every timing."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_live_heap_mb(spark) -> float:
    """Heap the JVM still holds after a full collection: what a
    long-running session retains (cached data, plans, status). The
    lowest of three readings: Spark's cleaner frees shuffle and
    broadcast state only after a collection has found it unreachable."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(3):
        gc.collect()  # frees Python-side py4j handles, so the JVM may drop their objects
        jvm.java.lang.System.gc()
        used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.2)
    return min(used)


def session_cache(sc) -> tuple[int, float]:
    """(persistent RDD count, cached MB in memory and on disk)."""
    jsc = sc._jsc
    infos = jsc.sc().getRDDStorageInfo()
    cached = sum(i.memSize() + i.diskSize() for i in infos)
    return jsc.getPersistentRDDs().size(), cached / 2**20


def _normalized(df: DataFrame) -> list:
    """Columns rendered so the hash survives summation-order noise:
    floating point to 9 significant digits, nested values as JSON."""
    cols = []
    for field in df.schema.fields:
        c = F.col(f"`{field.name}`")
        dtype = field.dataType
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            c = F.format_string("%.9g", c.cast("double"))
        elif isinstance(dtype, T.ArrayType) and isinstance(
            dtype.elementType, (T.DoubleType, T.FloatType)
        ):
            c = F.transform(c, lambda x: F.format_string("%.9g", x.cast("double")))
        cols.append(c.alias(field.name))
    return cols


def value_hash(df: DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive hash of every row's values)."""
    row = F.xxhash64(F.to_json(F.struct(*_normalized(df))))
    got = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(row.cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(got["n"]), str(got["h"] or 0)


def same_rows(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality (exceptAll in both directions, one job)."""
    return a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty()

"""Host record carried by every benchmark artifact.

Numbers compare only on the same host and core count, so each run
records the core count, memory, Spark and Java versions, the full
session conf, and the hypervisor steal and load over its timed window.
Steal and load use the frozen series harness's own sampler
(``bench._host_sample`` / ``bench._host_delta``) so both instruments
flag a degraded host by the same rule.
"""

from __future__ import annotations

import os
import re
import time

from bench import STEAL_THRESHOLD_PCT, _host_delta, _host_sample

sample = _host_sample
delta = _host_delta


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


_ABS_PATH = re.compile(r"(?<![\w.])/[\w./-]+")


def portable(value: str, root: str) -> str:
    """A conf value with the checkout root written as ``.`` and any
    other absolute path masked, so artifacts compare across checkouts."""
    return _ABS_PATH.sub("<path>", value.replace(root, "."))


def host_record(spark) -> dict:
    jvm = spark.sparkContext._jvm
    root = os.getcwd()
    return {
        "nproc": nproc(),
        "mem_total_mb": round(_mem_total_mb(), 1),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "steal_threshold_pct": STEAL_THRESHOLD_PCT,
        "session_conf": {k: portable(v, root)
                         for k, v in sorted(spark.sparkContext.getConf().getAll())},
    }


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of the driver JVM; in local mode the
    executors run inside it."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def retained_heap_mb(spark, rounds: int = 3, pause_s: float = 0.5) -> float:
    """Driver JVM heap still in use after full GCs: what the run keeps
    alive (cached blocks, plan and status stores). Spark's ContextCleaner
    drops broadcast and shuffle state only after a GC finds the driver
    objects dead, asynchronously, so the GC repeats after a pause."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    for i in range(rounds):
        if i:
            time.sleep(pause_s)
        jvm.java.lang.System.gc()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20

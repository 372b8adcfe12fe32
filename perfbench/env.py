"""Spark session and host facts for the benchmark.

Everything Spark writes (shuffle files, temp files, warehouse) goes
under the run's work directory inside the checkout. The package's own
``get_spark`` builds the session, so the workloads run with the
configuration the package ships, apart from the driver heap, a loopback
UI address (the trace reads Spark's REST API there) and the
work-directory paths.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time

# The package sizes the heap for local[32] (8g). At local[4] that heap
# peaks at 3.0-6.1 GB resident per run instead of 1.7-2.7 GB, on hosts
# whose memory is shared, and the stream's per-run median latency moved
# with it: 589-649 ms over three seeds at 8g against 510-600 ms over
# five at 2g (4-CPU, 16 GB VM). 2g over 4 task slots, or the 2 that
# task_slots gives there, still gives each at least twice the heap 8g
# gives each of 32.
DRIVER_MEMORY = "2g"


def task_slots(cpus: int) -> int:
    """Spark task slots for the run: half the usable CPUs.

    The CPUs may be shared with other processes. With 4 usable CPUs the
    flagship job keeps 2.1 of them busy on average at local[4] (5.0
    CPU-seconds in a 2.45 s run) and 1.65 at local[2] (4.8 in 2.9 s).
    Under two competing busy processes its latency rose 40% at local[4]
    but 19% at local[2], to the same 3.45 s, while its CPU time stayed
    the same. Half the CPUs thus trades a fifth of the idle-host speed
    for half the sensitivity to other load."""
    return max(1, cpus // 2)


def start_spark(root: str, work: str, cores: int):
    """Returns (spark, seconds spent starting it)."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # executor Python workers do not inherit the driver's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    t0 = time.perf_counter()
    spark = _session(work, cores)
    return spark, time.perf_counter() - t0


def _session(work: str, cores: int):
    from opentelemetry_collector_contrib_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=spark_conf(work)
    )


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def restart_spark(spark, work: str, cores: int):
    """Stop the session and start another at ``local[cores]`` in the
    same JVM (heap size and other launch settings carry over)."""
    spark.stop()
    return _session(work, cores)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def gc_seconds(spark) -> float:
    """Total JVM garbage-collection time so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1e3


def host_info(spark, cores: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024),
        "master": f"local[{cores}]",
        "driver_memory": spark.conf.get("spark.driver.memory", ""),
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def stop_spark(spark) -> None:
    """Stop the session, shut its JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

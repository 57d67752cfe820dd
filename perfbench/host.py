"""Host posture: the Spark session and process environment the benchmark
runs under, set only from here.

- ``local[min(nproc, 4)]`` with shuffle and salt partitions equal to the core
  count, so runs on hosts with more CPUs stay comparable;
- a 3 GiB driver heap: in local mode the executors are threads of the
  driver JVM, and 3 GiB leaves room on a small shared host without swap;
- every file Spark, the JVM and Python write (shuffle files, temp files,
  warehouse, event log) goes under ``perfbench/_work``, which is emptied at
  the start and the end of a run.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
CORES = min(NPROC or 1, 4)
HEAP = "3g"


def prepare_environment() -> None:
    """Empty the work dir and point every temp location of this process and
    of the JVM and Python workers it will start into it."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK, sub))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    import tempfile

    tempfile.tempdir = tmp


def session(event_log: bool = False):
    """A new SparkSession (a new SparkContext in the running JVM, or the
    first JVM of the process)."""
    from logpipe_spark import get_spark

    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
        f"-Dderby.system.home={os.path.join(WORK, 'tmp')}"
    )
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            # Spark 4 compresses event logs with zstd by default, which the
            # standard library cannot read
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(cores=CORES, shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def describe(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": NPROC,
        "cores": CORES,
        "heap": HEAP,
        "heap_max_bytes": int(jvm.java.lang.Runtime.getRuntime().maxMemory()),
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
    }


def jvm_allocated_bytes(spark) -> int:
    """Bytes allocated by all JVM threads so far (HotSpot's allocation
    counter; includes threads that have exited)."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    return int(mx.getTotalThreadAllocatedBytes())


def jvm_gc_seconds(spark) -> float:
    """Total collection time of all JVM garbage collectors so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def cpu_seconds() -> tuple[float, float]:
    """(busy, steal): CPU seconds this machine spent on work (user, nice,
    system, irq, softirq) and CPU seconds the hypervisor gave to other
    guests, summed over CPUs; zeros where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0.0, 0.0
    hz = os.sysconf("SC_CLK_TCK")
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / hz, t[7] / hz


def shutdown(spark) -> None:
    """Stop the session, then the JVM the process started, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


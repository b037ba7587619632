"""Deployment settings, Spark start-up and memory readings for the benchmark.

The box is fitted through the engine's existing deployment settings
only: ``SPARK_GRAFT_CPUS`` (task slots) and ``SPARK_DRIVER_MEM`` (the
local-mode heap, which otherwise defaults to at least 16 GiB and would
exceed a 15 GiB box). 3 GiB of heap plus the Python driver peak below
3 GiB of resident memory on the benchmark's inputs; nothing is written
to /dev/shm. Every file Spark, the JVM or Python writes goes under the
run's work directory.
"""

from __future__ import annotations

import os
import time

DRIVER_MEM = "3g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def ram_gib() -> float:
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return round(kb / 2**20, 1)


def configure(work_dir: str) -> dict:
    """Export the deployment settings; returns them for the record."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(cpus()),
    )
    return {
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": cpus(),
        "nproc": os.cpu_count(),
        "ram_gib": ram_gib(),
    }


def start_spark(work_dir: str, app: str, event_log_dir: str | None = None):
    """(SparkSession, seconds to start it) through ummon_spark.session."""
    from ummon_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=conf)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the gateway JVM
    quits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

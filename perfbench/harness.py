"""Host facts, process environment and Spark session lifetime.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``.
Session settings are derived from the host (cores from the CPU affinity
mask, driver heap from ``MemTotal``) and passed through ``get_spark``'s
existing ``cpus`` and ``extra_conf`` arguments.
"""

from __future__ import annotations

import os
import subprocess
import sys
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# the driver heap is this share of physical memory, within these limits
HEAP_SHARE = 0.125
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 8192
# The heap is fully committed and the young generation fixed to a quarter of
# it: with G1 sizing the young generation adaptively, the JVM's peak resident
# set varied by a fifth across runs of the same workload.
YOUNG_SHARE = 0.25


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"no MemTotal line in {meminfo}")


def driver_heap_mb(total_mb: int) -> int:
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, int(total_mb * HEAP_SHARE)))


def vm_hwm_mb(pid: int) -> float:
    """Resident-set high-water mark of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM line for pid {pid}")


def jvm_pid(spark) -> int:
    """The pid of the JVM behind ``spark`` (never this Python process)."""
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def prepare_environment() -> None:
    """Point every scratch location of Python, Spark and its Python
    workers inside the checkout, and let the workers import the library."""
    os.makedirs(WORK, exist_ok=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


@dataclass
class Session:
    """One Spark session at a time, restartable in the same JVM."""

    app: str
    cpus: int = field(default_factory=cores)
    heap_mb: int = field(default_factory=lambda: driver_heap_mb(mem_total_mb()))
    spark: object = None

    def conf(self, event_log_dir: str | None = None) -> dict[str, str]:
        tmp = os.path.join(WORK, "tmp")
        young = int(self.heap_mb * YOUNG_SHARE)
        conf = {
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.driver.extraJavaOptions":
                f"-Xms{self.heap_mb}m -Xmn{young}m -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.eventLog.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start(self, event_log_dir: str | None = None):
        import pathwaydataframework_spark as pw

        self.spark = pw.get_spark(
            app_name=self.app, cpus=self.cpus, extra_conf=self.conf(event_log_dir)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def effective(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "cores": self.cpus,
            "driver_memory": self.spark.conf.get("spark.driver.memory"),
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
        }

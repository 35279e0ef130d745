"""Session sizing from the machine the benchmark runs on.

Cores come from the CPU affinity mask, driver memory from
``/proc/meminfo``, and Spark's shuffle and spill directory sits on disk
inside the benchmark's work directory. BLAS is pinned to one thread so
that Spark's task slots are the only parallelism.
"""

from __future__ import annotations

import os
import time
from dataclasses import asdict, dataclass

# Share of physical memory given to the driver JVM (local mode runs the
# executors inside it). The rest stays free for the Python workers, the
# page cache and other tenants of a shared machine.
DRIVER_MEM_SHARE = 0.25
DRIVER_MEM_CAP_MB = 8192
DRIVER_MEM_FLOOR_MB = 1024

_BLAS_VARS = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS")


def mem_total_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"no MemTotal line in {meminfo}")


@dataclass(frozen=True)
class Box:
    cores: int
    driver_mem_mb: int
    shuffle_partitions: int
    local_dir: str

    @classmethod
    def detect(cls, work_dir: str) -> "Box":
        cores = len(os.sched_getaffinity(0))
        mem = int(mem_total_mb() * DRIVER_MEM_SHARE)
        mem = max(DRIVER_MEM_FLOOR_MB, min(DRIVER_MEM_CAP_MB, mem))
        return cls(cores=cores, driver_mem_mb=mem,
                   shuffle_partitions=4 * cores,
                   local_dir=os.path.join(work_dir, "spark-local"))

    def settings(self) -> dict:
        return {**asdict(self), "blas_threads": 1}


def pin_process_env(tmp_dir: str) -> None:
    """Must run before numpy or the JVM start: worker processes inherit
    this environment."""
    for var in _BLAS_VARS:
        os.environ[var] = "1"
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp_dir
    # every JVM started from here (spark-submit's launcher too) keeps its
    # temporary files in the work directory and writes no perf data to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}"


def start_session(box: Box, event_log_dir: str | None = None):
    """Start (or, within one process, restart) the SparkSession.

    Returns ``(spark, seconds)``. The profile follows ``bench.py``'s
    measured one (4 shuffle partitions per core, AQE on with coalescing
    off, uncompressed shuffle) with the box-derived sizes above.
    """
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    tmp = os.environ["TMPDIR"]
    b = (
        SparkSession.builder.master(f"local[{box.cores}]")
        .appName("kamae_spark-perfbench")
        .config("spark.driver.memory", f"{box.driver_mem_mb}m")
        .config("spark.local.dir", box.local_dir)
        .config("spark.sql.shuffle.partitions", str(box.shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_log_dir else "false")
    )
    for var in _BLAS_VARS:
        b = b.config(f"spark.executorEnv.{var}", "1")
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """End the JVM that PySpark started for this process and wait for it.
    It exits when its stdin closes; a stopped SparkSession alone leaves
    it running until the interpreter exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.close()
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None

"""SparkSession factory with scale-appropriate defaults.

These settings are the sandbox expression of the 100 TB design
(SURVEY.md §4): AQE on (runtime re-plan + skew-join splitting),
bounded Arrow batches (payloads are multi-KB strings, so record-count
caps bound Python-worker memory), and shuffle partitions sized to the
local core count (on a real cluster: 2-3× total executor cores, or
leave to AQE's ``advisoryPartitionSizeInBytes``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_memory() -> str:
    """About a quarter of the host's MemTotal, capped at 8g. The heap is
    pre-touched (below), so all of it is resident from startup: a fixed
    8g on a 15 GB host left the Python workers too little and the
    kernel OOM-killed the JVM. Floored at 512m (Spark refuses heaps
    under ~450 MB); 8g when /proc/meminfo is unavailable."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "8g"
    return f"{max(512, min(8192, kb // 4 // 1024))}m"


# one value feeds both -Xms and spark.driver.memory: Xms > Xmx would
# stop the JVM from starting
_DRIVER_MEMORY = os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory()

DEFAULT_CONFS = {
    # local[32]: the 1g JVM default GC-thrashes under 32 executor
    # threads, but an oversized heap measurably HURTS on this kernel
    # (longer GC scans + page-zeroing sys time) — 8g is the sweet spot
    # measured for this workload, hence the cap
    "spark.driver.memory": _DRIVER_MEMORY,
    "spark.driver.maxResultSize": "4g",
    # -Xms=-Xmx + pre-touch: dynamic heap growth on this kernel spends
    # whole seconds in page-zeroing system time mid-job (measured: a
    # 32-core run degraded 6s → 110s without it; stable 6s with it)
    "spark.driver.extraJavaOptions": (
        f"-Xms{_DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:+UseG1GC"),
    # JVM↔Python Arrow traffic over Unix domain sockets: loopback TCP
    # on this sandbox kernel costs ~0.7 core-sec of system time per MB
    # (measured); UDS cuts it ~3×. Harmless on real clusters.
    "spark.python.unix.domain.socket.enabled": "true",
    # RAM-backed shuffle dir: this sandbox's VM disk makes shuffle I/O
    # the dominant noise source (measured ~3×); on a real cluster this
    # is the executors' local NVMe
    "spark.local.dir": os.environ.get("SPARK_LOCAL_DIRS",
                                      "/dev/shm/spark-local"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # multi-KB text payloads: cap rows per Arrow batch to bound worker memory
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
    # ...AND cap batch BYTES: 2000 × 11 KB assembled payloads = 22 MB
    # Arrow batches, and large contiguous socket writes degrade up to
    # 5× under this host's memory-pressure episodes (measured: the
    # payload-parse stage went 126 s → 26 s with a 4 MB cap while
    # thin-row stages were unaffected). A byte cap adapts to row width
    # where the row-count cap cannot.
    "spark.sql.execution.arrow.maxBytesPerBatch": "4m",
    "spark.sql.session.timeZone": "UTC",
    # generous broadcast threshold: all our dimension tables are tiny
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def get_spark(app_name: str = "paperslicer_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_confs: dict | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", None)
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    if shuffle_partitions is None:
        try:
            n = int(master.split("[", 1)[1].rstrip("]").replace("*", "0")) or os.cpu_count()
        except (IndexError, ValueError):
            n = os.cpu_count() or 8
        shuffle_partitions = max(2 * n, 8)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

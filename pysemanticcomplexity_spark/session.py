"""SparkSession factory tuned for this engine.

Local sandbox runs on local[N]; the same configs are what we'd submit with
``spark-submit --py-files`` on a multi-executor cluster (north_rule), minus
the master/memory sizing which is cluster-managed there.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def default_driver_memory() -> str:
    """40% of the host's RAM (/proc/meminfo MemTotal), at most 48g; 48g
    where MemTotal is unreadable. In local mode the driver JVM is the whole
    engine and shares the host with one python worker per core, so a fixed
    heap larger than the host gets the JVM OOM-killed."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])     # MemTotal comes first
    except (OSError, ValueError, IndexError):
        return "48g"
    return f"{min(48 * 1024, int(total_kb * 0.4 / 1024))}m"


def get_spark(app_name: str = "pysemanticcomplexity_spark",
              master: str = None,
              shuffle_partitions: int = None,
              extra_conf: dict = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # Pin BLAS to ONE thread per python worker: Spark owns the parallelism
    # (one worker per core), so unpinned OpenBLAS oversubscribes the box —
    # measured on the pandas-UDF matmul kernels (SRP buckets / IVF scan):
    # one unpinned worker grabbed ~15 cores and burned 7x the CPU for the
    # same work, which both thrashes throughput at high parallelism and
    # silently inflates low-parallelism baselines (the round-3 "LSH 0.783
    # @2->8" miss was exactly this — BENCH/SIMILARITY.md). Set via the
    # driver env BEFORE the JVM starts so local-mode python workers
    # inherit it; spark.executorEnv covers the cluster-deploy case.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if shuffle_partitions is None:
        # local mode: match cores; on a real cluster this is sized to
        # 2-3x total executor cores and AQE coalesces down.
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Reference semantics are non-ANSI (NaN propagation, permissive
        # division); Spark 4 defaults ANSI on.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with the engine's standard configuration.

Local-mode knobs follow the public Spark docs (AQE, Arrow, shuffle
partitions ~ cores). At cluster scale the same conf applies except
memory sizing, which is per-executor there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "json_to_parquet_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or '*').
    master: full master URL override (e.g. "local-cluster[4,8,20480]"
    for a real multi-executor layout on one box); wins over `cores`.
    """
    if master is None:
        if cores is None:
            env = os.environ.get("SPARK_GRAFT_CPUS")
            master = f"local[{env}]" if env else "local[*]"
        else:
            master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Python workers are separate processes: make this package importable
    # there regardless of the driver's cwd (cluster deploys use
    # `spark-submit --py-files` instead; see cli.py).
    # Python workers churn multi-MB allocations (codec blobs); keep glibc
    # from mmap/munmap-ing each one (TLB shootdowns serialize at high
    # core counts — measured ~25% kernel-wall inflation at 32 workers)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{prev}" if prev else pkg_parent)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one encode chunk (~31 K rows at 256 chunks / 8 M rows) should
        # arrive as ONE Arrow batch: batch boundaries cost an IPC flush +
        # buffer re-assembly each, measured ~5% of encode wall at 20000
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # local[] mode ignores this; local-cluster / standalone executors
        # default to a 1g heap unless told otherwise
        .config("spark.executor.memory",
                os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # \r-refreshed progress bars share bench.py's final stdout line
        # with its one-line JSON result, breaking newline-split parsers
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Arrow IPC keeps many threads in JNI critical regions; the JVM
        # default of 2 GCLocker allocation retries causes spurious
        # "Retried waiting for GCLocker too often" stalls/failures at
        # high parallelism (JDK-8192647) — raise the retry budget
        .config("spark.driver.extraJavaOptions",
                "-XX:+UnlockDiagnosticVMOptions "
                "-XX:GCLockerRetryAllocationCount=100")
        .config("spark.shuffle.compress", "true")
        .config("spark.io.compression.codec", "zstd")
    )
    # local mode: all executor threads share one machine disk, so shuffle
    # through tmpfs when available — on a real cluster shuffle I/O is
    # per-node NVMe/network and scales with node count
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory tuned for the engine.

Local-mode testing uses local[N] threads; the same config keys are the ones
that matter on a real cluster (AQE, shuffle partitions, Arrow). At 100 TB the
only deltas are executor sizing and `spark.sql.shuffle.partitions` scaled to
~2-3x total cores — AQE coalesces small partitions at runtime either way.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ceiling of the default driver heap
MAX_DRIVER_MEM = 16 << 30


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set (a
    deployment setting), else a quarter of physical memory capped at
    16g. The driver JVM grows its heap toward its cap before it
    collects, so a cap equal to the box's memory lets two engine
    processes on one box get OOM-killed."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 4, MAX_DRIVER_MEM) >> 20}m"


def get_spark(app_name: str = "predictor_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Settings rationale:
    - AQE on: runtime partition coalescing + skew-join splitting; at 100 TB
      this is what rescues skewed groupBy/join keys without manual salting.
    - shuffle.partitions = cores locally (cluster: 2-3x total cores); the
      default 200 over-parallelizes local runs and under-parallelizes 100 TB.
    - Arrow on: every pandas_udf / mapInPandas / toPandas crosses the
      JVM<->Python boundary in columnar batches, not pickled rows.
    - Session timezone UTC: parity with DuckDB-oracle timestamp semantics.
    - ``local_df`` relations past 256 KiB ship as an RDD of Arrow batches:
      past ~8k rows of four columns a LocalTableScan was never faster
      beyond the spread in a build-plus-join probe, and up to 1.9x slower.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Cap BLAS threading in Python workers: numpy's OpenBLAS defaults to
    # one thread PER CORE, so N concurrent applyInPandas training tasks
    # spawn N x cores GEMM threads and thrash the box (the per-series
    # model family is the CPU-heavy path). 4 threads keeps a lone big
    # task fast while bounding full-slot oversubscription. Set via env
    # BEFORE the JVM forks the python worker daemon so workers inherit;
    # spark.executorEnv covers real clusters where the env is not shared.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "4")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.localRelationThreshold",
                str(256 * 1024))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS",
                os.environ["OPENBLAS_NUM_THREADS"])
        .config("spark.executorEnv.OMP_NUM_THREADS",
                os.environ["OMP_NUM_THREADS"])
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

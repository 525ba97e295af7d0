"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings apply on a real
cluster via spark-submit --py-files (shuffle partitions then sized to
cores*2..3 and maxPartitionBytes to keep scan partitions ~128MB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """24g, but at most half the machine's memory: ParallelGC grows the
    heap toward its maximum before it collects old garbage, so a maximum
    above physical memory gets the JVM killed by the kernel instead."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, phys // 2**31))}g"


def get_spark(
    cpus: int | None = None,
    app_name: str = "neural_search_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # SPARK_GRAFT_MASTER overrides the single-JVM local[N] default — used
    # by the multi-JVM scaling experiment (local-cluster[W,C,MB]: separate
    # executor JVMs, each with its own heap + GC, on this one machine)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        # ParallelGC: measured ~25% better 8→32-thread scaling than default
        # G1 on this allocation-heavy batch workload (BENCH.md methodology)
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseParallelGC -Djava.net.preferIPv4Stack=true",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a limit above this sorts globally instead of running
        # TakeOrderedAndProject, whose per-task buffer is sized by k up
        # front: a "return every hit" k such as 10**9 would exhaust the heap
        .config("spark.sql.execution.topKSortFallbackThreshold", "1000000")
    )
    if master.startswith("local-cluster"):
        import sys

        # executors are separate JVMs whose python workers don't inherit
        # the driver's sys.path — point them at this repo + interpreter
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.config("spark.executorEnv.PYTHONPATH", repo_root)
            .config("spark.pyspark.python", sys.executable)
            .config(
                "spark.executor.memory",
                os.environ.get("SPARK_EXECUTOR_MEM", "3g"),
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

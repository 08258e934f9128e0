"""SparkSession factory tuned for the extraction pipeline.

Local-mode knobs here are the sandbox stand-ins for cluster settings; the
same builder works under ``spark-submit --py-files`` on a real cluster
(executor count then comes from the cluster manager, not ``master``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory: in local mode the driver JVM is
    the whole cluster, and its Python workers need the other half."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // 2**20}m"


def get_spark(
    app_name: str = "nolock_ocr_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    The driver heap defaults to $SPARK_DRIVER_MEM, else half the host's
    physical memory.

    Args:
        cpus: local[] thread count; defaults to $SPARK_GRAFT_CPUS, else
            the host's CPU count.
        shuffle_partitions: defaults to cpus; the task-count ceiling after
            both pipeline exchanges (AQE coalesces below it).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large text payloads -> keep Arrow batches moderate (SURVEY.md §4 O6)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        # shuffle/spill scratch on tmpfs: local-mode shuffles are disk
        # round-trips; a spinning/virtio /tmp adds minutes of jitter
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

"""SparkSession factory tuned for the extraction pipeline.

Local-mode sizing here applies to plain ``python`` runs; under
``spark-submit --py-files`` on a real cluster the launcher's master and
sizing stand, and only the pipeline's own confs are added.
"""

from __future__ import annotations

import functools
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory: in local mode the driver JVM is
    the whole cluster, and its Python workers need the other half."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // 2**20}m"


def get_spark(
    app_name: str = "nolock_ocr_spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Under ``spark-submit`` the launcher has started the JVM with its own
    master and sizing (it hands PySpark the gateway port), so this only
    adds the pipeline's own confs. Run from plain ``python``, it builds
    a local-mode session sized from the host: the driver heap defaults
    to $SPARK_DRIVER_MEM, else half the host's physical memory.

    Args:
        cpus: local[] thread count; defaults to $SPARK_GRAFT_CPUS, else
            the host's CPU count. It is also spark.sql.shuffle.partitions,
            the task-count ceiling after both pipeline exchanges (AQE
            coalesces below it). Ignored under spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        if cpus is None:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.default.parallelism", str(cpus))
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
        )
    builder = (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large text payloads -> keep Arrow batches moderate (SURVEY.md §4 O6)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _context_key():
    """The live JVM SparkContext (None before one starts): what a
    memoized Column belongs to."""
    sc = SparkContext._active_spark_context
    return None if sc is None else sc._jsc


_memo: dict = {}
_memo_context = None


def per_context(build):
    """Memoize ``build(*args)`` for the live SparkContext.

    Every ``F.*`` call and Column operator is a py4j round trip (several,
    with PySpark's call-site capture), and the pipeline's expressions
    depend only on column names. Each is therefore built once per context
    and reused by every later build. A new context drops the whole memo,
    so no Column outlives the JVM that made it; nothing is built at
    import time, when no JVM exists. ``args`` must be hashable, and
    every caller shares the cached value, so none may mutate it. Two
    threads that miss at once both build; the later result wins.
    """

    @functools.wraps(build)
    def cached(*args):
        global _memo_context
        context = _context_key()
        if context is not _memo_context:
            _memo.clear()
            _memo_context = context
        key = (build, args)
        value = _memo.get(key)
        if value is None:
            value = _memo[key] = build(*args)
        return value

    return cached

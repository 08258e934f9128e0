"""SparkSession factory tuned for the extraction pipeline.

Local-mode sizing here applies to plain ``python`` runs; under
``spark-submit --py-files`` on a real cluster the launcher's master and
sizing stand, and only the pipeline's own confs are added.

A driver JVM that ``get_spark`` launches itself (plain ``python``) starts
from a dynamic class-data-sharing archive (JEP 350) of the classes the
last such run loaded: in perfbench on 4 vCPUs, session start fell from
~6.0 to ~3.1 s and the warm-up pass from ~10.7 to ~8.0 s. The archive
lives in ``${XDG_CACHE_HOME:-~/.cache}/nolock_ocr_spark/cds/``, one file
of 140-180 MB keyed by the ``java`` build, the Spark jars and the conf
dir; publishing a new key's archive deletes the old one. The first run
for a key has none: its JVM writes it when it exits, which adds ~14 s
to that exit, and that run's set-up is slower than a plain start
(perfbench ``setup_s`` 16-20 s against 13-14.5 s). Delete the
directory to clear it; the next run rebuilds it. Java 17 cannot dump
with a non-empty directory on the classpath, so the launch points
``SPARK_CONF_DIR`` at an empty directory in the cache; CDS is used only
when the configured conf dir holds nothing but ``*.template`` files and
nothing else is added to the classpath. Any failure (no cache, a stale
or short archive, another JDK) is a normal start without CDS.
spark-submit starts the JVM itself, so its jobs get none of this.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import glob
import hashlib
import os
import shlex
import shutil
import struct
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# a JDK 17 dynamic archive: magic and format version, then a table of 7
# regions (6 ints, then file offset, mapping offset, used, two more
# size_t and a pointer); the JVM maps each region without checking the
# file's length, and a short file kills it with SIGBUS
_ARCHIVE_MAGIC_VERSION = (0xF00BABA8, 11)
_REGION = struct.Struct("@6iQQQQQP")
_REGIONS_AT, _N_REGIONS = 16, 7
# what else the launcher can put on the classpath; any of them set and
# the archive's classpath is not the one this module keys it by
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "PYSPARK_SUBMIT_ARGS")
# a dumping JVM takes ~10 s to exit on 4 vCPUs; past this it is killed
_EXIT_WAIT_S = 120


def _default_driver_memory() -> str:
    """Half the host's physical memory: in local mode the driver JVM is
    the whole cluster, and its Python workers need the other half."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // 2**20}m"


def _archive_complete(path: str) -> bool:
    """Whether ``path`` holds a whole JDK 17 dynamic archive: its header
    is that format's and every region it lists lies inside the file."""
    try:
        with open(path, "rb") as f:
            head = f.read(_REGIONS_AT + _N_REGIONS * _REGION.size)
            size = os.fstat(f.fileno()).st_size
    except OSError:
        return False
    if len(head) < _REGIONS_AT + _N_REGIONS * _REGION.size:
        return False
    magic, _crc, version = struct.unpack_from("@IiI", head)
    ends = [
        region[6] + region[8]  # file offset + used
        for region in _REGION.iter_unpack(head[_REGIONS_AT:])
        if region[8]
    ]
    return (magic, version) == _ARCHIVE_MAGIC_VERSION and bool(ends) and max(ends) <= size


def _cds_archive(extra_conf: dict | None) -> str | None:
    """The CDS archive path for a driver JVM this process is about to
    launch (its directory holds the empty conf dir, ``conf``), or None
    when the launch cannot use one."""
    if "spark.driver.extraClassPath" in (extra_conf or {}) or any(
        os.environ.get(name) for name in _CLASSPATH_ENV
    ):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if java is None or any(
            not name.endswith(".template") for name in os.listdir(conf_dir)
        ):
            return None
        java = os.path.realpath(java)
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release")) as f:
            release = f.read()
        # another JDK writes another archive format: no CDS rather than
        # a dump at every exit that _archive_complete never accepts
        if 'JAVA_VERSION="17.' not in release:
            return None
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
            "nolock_ocr_spark", "cds",
        )
        empty = os.path.join(cache, "conf")
        os.makedirs(empty, exist_ok=True)
        key = hashlib.sha256(f"{java}\0{release}\0{empty}\0".encode())
        with os.scandir(os.path.join(spark_home, "jars")) as jars:
            for jar in sorted(jars, key=lambda e: e.name):
                st = jar.stat()
                key.update(f"{jar.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return os.path.join(cache, key.hexdigest()[:24] + ".jsa")


@contextlib.contextmanager
def _conf_dir(path: str | None):
    """``SPARK_CONF_DIR`` set to ``path`` (when given) for a JVM launch."""
    old = os.environ.get("SPARK_CONF_DIR")
    if path is not None:
        os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = old


def _alive(pid: int) -> bool:
    """Whether process ``pid`` exists (a temp file's writer)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _end_jvm(proc: subprocess.Popen, temp: str | None, archive: str | None) -> None:
    """At interpreter exit: end the driver JVM this process launched and
    wait for it, then publish the archive it dumped to ``temp``.

    A context still running is stopped first, as ``spark.stop()`` would,
    so that none of its server threads sees the JVM go. PySpark's
    gateway JVM exits when its stdin closes; one that is dumping an
    archive takes seconds more, and must not outlive this process, still
    writing. The archive appears under its key in one
    ``os.replace``, and only if it is whole, so no JVM maps a partial
    file; the archives of other keys and the temp files of dead
    processes are then deleted.
    """
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=_EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    if temp is None:
        return
    if proc.returncode != 0 or not _archive_complete(temp):
        with contextlib.suppress(OSError):
            os.remove(temp)
        return
    try:
        os.replace(temp, archive)
    except OSError:
        return
    for path in glob.glob(os.path.join(os.path.dirname(archive), "*.jsa*")):
        writer = path.rsplit(".", 2)[1] if path.endswith(".tmp") else ""
        if (path.endswith(".jsa") and path != archive) or (
            writer.isdigit() and not _alive(int(writer))
        ):
            with contextlib.suppress(OSError):
                os.remove(path)


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
    to $SPARK_DRIVER_MEM, else half the host's physical memory. When it
    launches the JVM itself (no gateway yet), the JVM starts from (or
    writes) the class-data-sharing archive, and this process waits for
    it at interpreter exit.

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
    launching = "PYSPARK_GATEWAY_PORT" not in os.environ and SparkContext._gateway is None
    archive = _cds_archive(extra_conf) if launching else None
    temp = None
    if archive:
        if _archive_complete(archive):
            flag = f"-XX:SharedArchiveFile={archive}"
        else:
            temp = f"{archive}.{os.getpid()}.tmp"
            flag = f"-XX:ArchiveClassesAtExit={temp}"
        # the launcher splits these the way a shell would; the JVM's
        # hundreds of [cds] warnings (and a declined archive's) are off
        builder = builder.config(
            "spark.driver.defaultJavaOptions", f"{shlex.quote(flag)} -Xlog:cds*=off"
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    with _conf_dir(archive and os.path.join(os.path.dirname(archive), "conf")):
        spark = builder.getOrCreate()
    if launching:
        atexit.register(_end_jvm, spark.sparkContext._gateway.proc, temp, archive)
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

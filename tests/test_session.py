"""session.get_spark: under a launcher spark-submit's master stands; run
from plain python, the driver JVM's class-data-sharing archive is built,
published, mapped, and declined whenever it cannot be used."""

from __future__ import annotations

import json
import os
import shutil
import struct
import subprocess
import sys
import textwrap

import pytest
from conftest import SF_DIR

from nolock_social_ocr_services_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_master_is_kept(tmp_path):
    """The job's own session lookup (``jobs/run_extract.py``) under
    ``spark-submit --master local[2]``: the session runs on local[2],
    not on the host-sized local[] of a plain ``python`` run."""
    script = tmp_path / "master.py"
    script.write_text(textwrap.dedent("""
        from pyspark.sql import SparkSession
        from nolock_social_ocr_services_spark.session import get_spark

        spark = SparkSession.getActiveSession() or get_spark(app_name="t")
        print("MASTER", spark.sparkContext.master)
        spark.stop()
    """))
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": "3",
    }
    out = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--driver-memory", "512m",
         "--conf", "spark.ui.enabled=false", str(script)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "MASTER local[2]" in out.stdout.splitlines(), out.stdout


# --- the driver JVM's class-data-sharing archive ---------------------------

# one plain-python driver: its JVM's pid, the cache files it mapped, its
# CDS flags and SPARK_CONF_DIR (JVM and Python side), and whether the
# pipeline's output equals the oracle's
DRIVER = textwrap.dedent("""
    import json, os, sys
    from nolock_social_ocr_services_spark import corpus, pipeline
    from nolock_social_ocr_services_spark.session import get_spark
    from tests.pandas_oracle import expected_documents

    spark = get_spark(app_name="cds", cpus=2)
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/maps") as f:
        mapped = sorted({l.split()[-1] for l in f if "nolock_ocr_spark" in l})
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    docs = corpus.synthesize_documents(spark, sys.argv[1]).cache()
    rows = [r.asDict(recursive=True) for r in docs.collect()]
    got = {r.doc_id: [tuple(s) for s in r.spans]
           for r in pipeline.extracted_documents(docs).collect()}
    print("CDS " + json.dumps({
        "pid": pid,
        "mapped": mapped,
        "flags": [a for a in args if "Archive" in a or a.startswith("-Xlog")],
        "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
        "conf_dir": os.environ.get("SPARK_CONF_DIR"),
        "docs": len(rows),
        "oracle": got == expected_documents(rows),
    }))
""")


def _driver_env(cache, **extra):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    return env | {
        "PYTHONPATH": os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "XDG_CACHE_HOME": str(cache),
        "SPARK_DRIVER_MEM": "768m",
    } | extra


def _start_driver(cache, **extra):
    return subprocess.Popen(
        [sys.executable, "-c", DRIVER, SF_DIR], env=_driver_env(cache, **extra),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _result(proc):
    """The driver's report, once it and the JVM it launched have exited."""
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    # no [cds] warnings (hundreds from a dump), and no server thread of
    # the context saw its JVM exit under it
    assert "[cds" not in out + err and "Traceback" not in err, (out + err)[-3000:]
    [line] = [l for l in out.splitlines() if l.startswith("CDS ")]
    result = json.loads(line[4:])
    # the JVM ended with its Python, not after it
    assert not os.path.exists(f"/proc/{result['pid']}"), result["pid"]
    assert result["docs"] and result["oracle"], result
    return result


def _run_driver(cache, **extra):
    return _result(_start_driver(cache, **extra))


def _cds_files(cache):
    folder = cache / "nolock_ocr_spark" / "cds"
    return sorted(p.name for p in folder.iterdir() if p.is_file()) if folder.is_dir() else []


def _archive_path(cache, monkeypatch):
    """The archive a driver with this cache would map."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return session._cds_archive(None)


needs_cds = pytest.mark.skipif(
    not os.path.isdir("/proc/self") or not os.path.isdir(SF_DIR),
    reason="needs /proc and the sf0.001 corpus",
)


@pytest.fixture(scope="module")
def first_run(tmp_path_factory):
    """A driver's first run with an empty cache."""
    cache = tmp_path_factory.mktemp("cds_cache")
    return cache, _run_driver(cache)


@needs_cds
def test_first_run_publishes_the_archive(first_run, monkeypatch):
    """No archive: the JVM dumps one when it exits, and the driver
    publishes it under its key before it exits itself; no temp file is
    left. The launch saw an empty conf dir, and the caller's
    environment was restored."""
    cache, result = first_run
    archive = _archive_path(cache, monkeypatch)
    assert _cds_files(cache) == [os.path.basename(archive)]
    assert session._archive_complete(archive)
    [dump, quiet] = result["flags"]
    assert dump.startswith(f"-XX:ArchiveClassesAtExit={archive}.") and quiet == "-Xlog:cds*=off"
    assert result["mapped"] == []
    assert result["jvm_conf_dir"] == str(cache / "nolock_ocr_spark" / "cds" / "conf")
    assert result["conf_dir"] is None


@needs_cds
def test_published_archive_is_mapped(first_run, monkeypatch):
    """A later run's JVM maps the published archive and gives the same
    output as without it."""
    cache, _ = first_run
    archive = _archive_path(cache, monkeypatch)
    result = _run_driver(cache)
    assert result["mapped"] == [archive]
    assert result["flags"] == [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds*=off"]
    assert _cds_files(cache) == [os.path.basename(archive)]


@needs_cds
def test_truncated_archive_is_replaced(first_run, tmp_path, monkeypatch):
    """A short archive would kill the JVM with SIGBUS if it were mapped:
    the driver starts without it, and its JVM writes a whole one.
    Publishing it deletes another key's archive and a dead writer's temp
    file, and keeps a live writer's."""
    good = _archive_path(first_run[0], monkeypatch)
    archive = _archive_path(tmp_path, monkeypatch)
    with open(good, "rb") as src, open(archive, "wb") as dst:
        dst.write(src.read(os.path.getsize(good) // 2))
    dead = subprocess.Popen(["true"])
    dead.wait()
    old_key = os.path.join(os.path.dirname(archive), "0" * 24 + ".jsa")
    dead_temp, live_temp = (f"{archive}.{pid}.tmp" for pid in (dead.pid, os.getpid()))
    for path in (old_key, dead_temp, live_temp):
        open(path, "wb").close()
    result = _run_driver(tmp_path)
    assert result["mapped"] == []
    assert session._archive_complete(archive)
    assert _cds_files(tmp_path) == sorted(map(os.path.basename, [archive, live_temp]))


@needs_cds
def test_stale_archive_is_not_used(first_run, tmp_path, monkeypatch):
    """An archive whose classpath is not this launch's (another cache's
    conf dir): the JVM declines it and starts normally."""
    archive = _archive_path(tmp_path, monkeypatch)
    os.link(_archive_path(first_run[0], monkeypatch), archive)
    result = _run_driver(tmp_path)
    assert result["flags"][0] == f"-XX:SharedArchiveFile={archive}"
    assert result["mapped"] == []


@needs_cds
def test_config_file_in_conf_dir_means_no_cds(tmp_path):
    """A conf dir with a file that is not a template is on the JVM's
    classpath and read by the launcher: no CDS, and SPARK_CONF_DIR is
    the caller's."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# nothing set\n")
    result = _run_driver(tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert result["flags"] == []
    assert result["jvm_conf_dir"] == result["conf_dir"] == str(conf)
    assert not (tmp_path / "cache").exists()


@needs_cds
def test_unusable_cache_means_no_cds(tmp_path):
    """A cache path that cannot be a directory: a normal start."""
    cache = tmp_path / "cache"
    cache.write_text("")
    result = _run_driver(cache)
    assert result["flags"] == []
    assert "nolock_ocr_spark" not in result["jvm_conf_dir"]


@needs_cds
def test_concurrent_first_runs(tmp_path, monkeypatch):
    """Two first runs at once each dump to their own temp file; both
    succeed and one whole archive is left."""
    procs = [_start_driver(tmp_path) for _ in range(2)]
    results = [_result(p) for p in procs]
    archive = _archive_path(tmp_path, monkeypatch)
    assert all(r["flags"][0].startswith("-XX:ArchiveClassesAtExit=") for r in results)
    assert _cds_files(tmp_path) == [os.path.basename(archive)]
    assert session._archive_complete(archive)


def test_archive_completeness_check(tmp_path):
    """A JDK 17 dynamic-archive header whose regions end past the file's
    end, another format's header, or no header: not complete."""
    def archive(magic=0xF00BABA8, version=11, size=8192):
        head = struct.pack("@IiI4x", magic, 0, version) + session._REGION.pack(
            0, 0, 0, 0, 0, 0, 4096, 0, 4000, 0, 0, 0
        ) + bytes(6 * session._REGION.size)
        path = tmp_path / f"{magic}-{version}-{size}.jsa"
        path.write_bytes(head.ljust(size, b"\0"))
        return str(path)

    assert session._archive_complete(archive())
    assert not session._archive_complete(archive(size=8000))
    assert not session._archive_complete(archive(version=12))
    assert not session._archive_complete(archive(magic=0xF00BABA2))
    assert not session._archive_complete(archive(size=100))
    assert not session._archive_complete(str(tmp_path / "missing.jsa"))


def test_launches_that_cannot_use_cds(tmp_path, monkeypatch):
    """No archive path, so a normal start, when the classpath can differ
    from the one the key covers (a classpath variable, an extra driver
    classpath, a config file in the conf dir) or the JDK is not 17."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    assert session._cds_archive(None) is not None
    assert session._cds_archive({"spark.driver.extraClassPath": "/x.jar"}) is None
    for name in session._CLASSPATH_ENV:
        with monkeypatch.context() as m:
            m.setenv(name, str(tmp_path))
            assert session._cds_archive(None) is None, name
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "log4j2.properties.template").write_text("")
    with monkeypatch.context() as m:
        m.setenv("SPARK_CONF_DIR", str(conf))
        assert session._cds_archive(None) is not None
        (conf / "log4j2.properties").write_text("")
        assert session._cds_archive(None) is None
    jdk = tmp_path / "jdk21"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "release").write_text('JAVA_VERSION="21.0.2"\n')
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    assert session._cds_archive(None) is None

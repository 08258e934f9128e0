"""session.get_spark under a launcher: spark-submit's master stands."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

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

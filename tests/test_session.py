"""The session factory's driver options."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pyspark
from pyspark.sql import SparkSession

ROOT = Path(__file__).resolve().parent.parent


def test_driver_runs_on_c1_tier(spark):
    """The driver started by build_session() stops at the C1 compile tier."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args, args


def test_factory_sets_default_not_extra_java_options(monkeypatch):
    """The tier goes through spark.driver.defaultJavaOptions, so whatever a
    deployment puts in extraJavaOptions is kept and can override it."""
    from ocr_project_spark.session import build_session

    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    opts = build_session()
    assert opts["spark.driver.defaultJavaOptions"] == "-XX:TieredStopAtLevel=1"
    assert "spark.driver.extraJavaOptions" not in opts


def test_factory_turns_off_console_progress(monkeypatch):
    """No ``[Stage N:>`` bar between the lines a job or script prints."""
    from ocr_project_spark.session import build_session

    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    assert build_session()["spark.ui.showConsoleProgress"] == "false"


def test_suite_session_runs_local_on_graft_cpus(spark):
    """Under plain ``python`` the factory launches the JVM and sets the
    local master from SPARK_GRAFT_CPUS."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    assert spark.sparkContext.master == f"local[{cpus}]"


def test_spark_submit_master_stands(tmp_path):
    """Under spark-submit the launcher's ``--master`` is kept: a driver
    submitted with ``--master local[1]`` runs on local[1], not on
    local[SPARK_GRAFT_CPUS]."""
    script = tmp_path / "print_master.py"
    script.write_text(
        "from ocr_project_spark.session import build_session\n"
        "spark = build_session(app_name='master-check')\n"
        "print('MASTER=' + spark.sparkContext.master)\n"
        "spark.stop()\n"
    )
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "2",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_PYTHON": sys.executable,
    }
    submit = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    out = subprocess.run(
        [str(submit), "--master", "local[1]", "--driver-memory", "512m", str(script)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "MASTER=local[1]" in out.stdout.splitlines(), out.stdout

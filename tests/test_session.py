"""The session factory's driver options."""

from __future__ import annotations

from pyspark.sql import SparkSession


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

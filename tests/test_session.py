"""Driver JVM options set by session.get_spark."""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import SparkSession

from docling_gfcr_spark import session


def test_driver_jvm_runs_c1_only(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("TieredStopAtLevel").getValue() == "1"


def test_jit_cap_survives_caller_extra_java_options(monkeypatch):
    """Callers replace spark.driver.extraJavaOptions (perfbench passes its own
    tmpdir flags there), so the cap must live in defaultJavaOptions."""
    captured = {}

    def fake_get_or_create(builder):
        captured.update(builder._options)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    session.get_spark(
        cores=1, extra_conf={"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/x"}
    )
    assert captured["spark.driver.defaultJavaOptions"] == "-XX:TieredStopAtLevel=1"
    assert captured["spark.driver.extraJavaOptions"] == "-Djava.io.tmpdir=/x"

"""Driver JVM options set by session.get_spark, and what a Python worker
pays per task outside the UDF."""

from __future__ import annotations

from types import SimpleNamespace

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

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


def test_worker_task_start_rereads_no_archive(spark):
    """pyspark's worker calls importlib.invalidate_caches() at every task
    start; once the package is imported (as every package UDF does) that
    call must not re-read the zips on the worker's sys.path."""

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        import docling_gfcr_spark  # noqa: F401

        n_zip = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return pd.Series([f"{n_zip},{len(reads)}"] * len(s))

    row = spark.range(1, numPartitions=1).select(probe(F.col("id").cast("string"))).first()
    n_zip, n_reads = map(int, row[0].split(","))
    if n_zip == 0:
        pytest.skip("the Python worker imports nothing from a zip (pyspark not from SPARK_HOME)")
    assert n_reads == 0, f"{n_reads} archive re-reads over {n_zip} zipimporters"

"""Driver JVM options and the Python worker daemon set by
session.get_spark, and what a Python worker pays per task outside the UDF."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_gfcr_spark import daemon, session

ROOT = Path(__file__).resolve().parent.parent


def test_driver_jvm_runs_c1_only(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("TieredStopAtLevel").getValue() == "1"


def _builder_options(monkeypatch, extra_conf: dict[str, str]) -> dict[str, str]:
    """The options get_spark hands the session builder, without a JVM."""
    captured = {}

    def fake_get_or_create(builder):
        captured.update(builder._options)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    session.get_spark(cores=1, extra_conf=extra_conf)
    return captured


def test_jit_cap_survives_caller_extra_java_options(monkeypatch):
    """Callers replace spark.driver.extraJavaOptions (perfbench passes its own
    tmpdir flags there), so the cap must live in defaultJavaOptions."""
    captured = _builder_options(
        monkeypatch, {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/x"}
    )
    assert captured["spark.driver.defaultJavaOptions"] == "-XX:TieredStopAtLevel=1"
    assert captured["spark.driver.extraJavaOptions"] == "-Djava.io.tmpdir=/x"


def test_daemon_module_survives_caller_extra_conf(monkeypatch):
    """A caller's own conf (perfbench passes tmpdirs and JVM flags) keeps the
    preloading worker daemon."""
    captured = _builder_options(
        monkeypatch,
        {"spark.local.dir": "/x", "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/x"},
    )
    assert captured["spark.python.daemon.module"] == "docling_gfcr_spark.daemon"
    assert captured["spark.local.dir"] == "/x"


_DAEMON_IMPORT_PROBE = """
import json, os, sys
sys.argv[1:] = ["pyspark.worker"]  # as the worker factory starts the daemon
from pyspark import daemon
import pandas, pyarrow.pandas_compat
def threads():
    return len(os.listdir("/proc/self/task"))
def sockets():
    out = []
    for fd in os.listdir("/proc/self/fd"):
        try:
            out.append(os.readlink(f"/proc/self/fd/{fd}"))
        except OSError:
            pass
    return [link for link in out if link.startswith("socket:")]
before = threads()
daemon.manager = lambda: sys.exit("entered the manager loop")
import docling_gfcr_spark.daemon as d
print(json.dumps({"missing": [m for m in d.PRELOAD if m not in sys.modules],
                  "threads": [before, threads()], "sockets": sockets()}))
"""


def test_daemon_import_preloads_without_entering_the_manager():
    """Importing the daemon module loads its preload set, and only running it
    as ``__main__`` starts pyspark's fork loop. The package's part of the
    preload starts no thread and opens no socket: fork copies only the
    calling thread, and a socket would be shared by every worker."""
    proc = subprocess.run(
        [sys.executable, "-c", _DAEMON_IMPORT_PROBE],
        cwd=ROOT, env={**os.environ, "PYTHONPATH": str(ROOT)},
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["missing"] == []
    assert got["threads"][1] == got["threads"][0], got
    assert got["sockets"] == []


def test_workers_fork_from_the_preloading_daemon(spark):
    """A plain (non-Arrow) UDF's worker is a child of the package daemon, and
    the preload set is in its sys.modules. The daemon runs no task, so the
    pyarrow and pandas libraries in its own memory map were loaded by its
    preload, not by a task of a reused worker."""
    preload = daemon.PRELOAD

    @F.udf(T.StringType())
    def probe(x):
        import json
        import os
        import sys

        ppid = os.getppid()
        with open(f"/proc/{ppid}/cmdline", "rb") as f:
            cmdline = [a.decode() for a in f.read().split(b"\0") if a]
        with open(f"/proc/{ppid}/maps") as f:
            maps = f.read()
        return json.dumps(
            {
                "cmdline": cmdline,
                "missing": [m for m in preload if m not in sys.modules],
                "parent_maps": [lib for lib in ("/pyarrow/", "/pandas/_libs/") if lib in maps],
            }
        )

    got = json.loads(spark.range(1, numPartitions=1).select(probe(F.lit("x"))).first()[0])
    assert got["cmdline"][1:3] == ["-m", "docling_gfcr_spark.daemon"], got["cmdline"]
    assert got["missing"] == []
    assert got["parent_maps"] == ["/pyarrow/", "/pandas/_libs/"]


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

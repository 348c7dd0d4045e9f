"""SparkSession factory tuned for the extraction engine.

Local-mode defaults mirror what the cluster deployment sets via spark-submit:
AQE on (runtime shuffle coalescing + skew-join splitting), Arrow on (every
Python kernel crosses the JVM boundary as Arrow batches), UTC session TZ
(oracle comparability), shuffle partitions sized to cores locally (on a real
cluster: 2-3x total executor cores, or rely on AQE coalescing from a higher
initial value).

The local driver JVM runs with C1-only JIT (``-XX:TieredStopAtLevel=1``):
HotSpot stops at the cheap C1 tier and never runs C2. Every caller is a
short-lived local session. Per-thread /proc sampling of one cold
``corpus_build`` on a 4-core host (OpenJDK 17) gave 42.5 of ~98 CPU-s to
the JIT compiler threads against 11.2 CPU-s of executor task time; the C2
code that CPU buys does not pay back before the session ends, and the cap
cuts the build's CPU by about a third. The flag goes in
``spark.driver.defaultJavaOptions``, which spark-submit prepends to
``spark.driver.extraJavaOptions``, so a caller that passes its own
``extraJavaOptions`` (perfbench does) keeps the cap. Cluster submits do
not come through here and set their own JVM flags.

Python workers fork from ``docling_gfcr_spark.daemon``
(``spark.python.daemon.module``), which imports pandas, pyarrow's pandas
bridge and the package kernels once, before it forks. Under the bare
``pyspark.daemon`` every worker pays those imports, once per core. In
fresh ``local[4]`` sessions on a 4-core host, a worker's CPU from fork to
its first package UDF call fell from 0.67 to 0.005 s, and the daemon's
own start grew from 1.25 to 1.69 CPU-s: about 2.2 CPU-s less per session.
Like the JIT cap, the conf is set here only; cluster sessions keep
``pyspark.daemon``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "docling_gfcr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource V2 filter pushdown (sources/transcripts_source.py
        # prunes its generated id-range from pushed conv_id predicates)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # bigger Arrow batches amortize the JVM<->Python boundary for the
        # fused extraction UDF; payloads are ~KB-sized strings
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # C1-only JIT, see the module docstring
        .config("spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1")
        # workers fork from a daemon that already imported their modules,
        # see the module docstring
        .config("spark.python.daemon.module", "docling_gfcr_spark.daemon")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

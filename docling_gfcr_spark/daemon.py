"""Python worker daemon that imports the workers' modules before it forks.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark starts it as ``python -m docling_gfcr_spark.daemon pyspark.worker``
in place of ``pyspark.daemon``. It imports :data:`PRELOAD`, then runs
``pyspark.daemon.manager()``, which forks one worker per task slot. The
workers inherit the imported modules copy-on-write, so a session pays
those imports once instead of once per core.

:data:`PRELOAD` is what a worker's first task of each package UDF kind
(the fused extraction UDF, the md5 MinHash kernel, the semantic embed and
assign kernels) imports beyond a bare ``pyspark.daemon``, which already
holds numpy, ``pyspark.worker`` and ``pyspark.sql.pandas.serializers``.
``pyarrow.pandas_compat`` turns Arrow batches into pandas frames and
imports pyarrow. Importing the package also installs ``zipcache`` here,
so forked workers inherit the patched ``zipimporter`` and its stamps.

Fork copies only the calling thread. The threads these imports start
(numpy's OpenBLAS pool, which the bare daemon already holds, and pyarrow's
jemalloc purge thread) are not in the workers; both libraries carry their
own at-fork handling. Add nothing here that opens a file or a socket or
starts a thread of its own. There is no ``try``: a worker needs the package
importable anyway, since package UDFs unpickle by reference.
"""

from __future__ import annotations

import importlib

from pyspark import daemon

PRELOAD = (
    "pandas",
    "pyarrow.pandas_compat",
    "docling_gfcr_spark.pipeline",
    "docling_gfcr_spark.operators.dedup",
    "docling_gfcr_spark.operators.similarity",
)

for _name in PRELOAD:
    importlib.import_module(_name)

if __name__ == "__main__":
    daemon.manager()

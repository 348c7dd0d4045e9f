"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Fan out an under-partitioned input (fewer partitions than the
    session's default parallelism) before a per-row-expensive stage.

    Small parquet inputs (one file < maxPartitionBytes) arrive as a single
    partition, which would serialize shingling/hashing/scoring onto one core.
    At real scale inputs have thousands of splits and this is a no-op.
    """
    want = df.sparkSession.sparkContext.defaultParallelism
    # JVM-side partition count: Python-side ``df.rdd`` would build a whole
    # extra javaToPython conversion plan per call just to ask this question
    # (Dataset.rdd is a cached lazy val, so repeated calls don't re-plan)
    try:
        n = df._jdf.rdd().getNumPartitions()
    except Exception:  # internal API moved: fall back to the public route
        n = df.rdd.getNumPartitions()
    if n < want:
        return df.repartition(want)
    return df

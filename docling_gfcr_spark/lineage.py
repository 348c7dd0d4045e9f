"""Per-partition lineage checkpointing + resume.

North rule: "resumable from checkpoint with per-partition lineage + metrics —
a killed job resumes from the last committed partition without reprocessing."

Design (SURVEY.md §4.3): work is bucketed into ``n_parts`` stable logical
partitions by ``part_id = pmod(xxhash64(conv_id), n_parts)`` — a pure function
of the data, so the same row lands in the same part across runs and cluster
sizes. Parts are processed in waves; each wave

1. writes extracted rows under ``data/part_id=<p>/`` (dynamic partition
   overwrite — a re-run of an uncommitted part replaces, never duplicates);
2. then appends one lineage row per part ``(run_id, part_id, n_parts, status,
   n_turns, nodes_classified, spans_emitted, parse_failures, committed_at)``.

A part's metrics are counted from the files the wave wrote, read back with
the schema :func:`data_schema` derives from the input's (no
schema-inference job, no re-planning); lineage rows are read with
``LINEAGE_SCHEMA`` the same way. The per-part
aggregate is collected to the driver (one row per part, at most the wave's
part count) and the wave's lineage rows, zeros for a part that holds no
rows, are built there as an Arrow-backed local frame.

A crash between (1) and (2) leaves data without lineage; resume reprocesses
that part and the overwrite makes it idempotent. On restart, committed parts
are excluded via a broadcast left-anti join — no reprocessing. ``n_parts`` is
persisted in every lineage row and validated on resume: part ids are only
meaningful under the hash scheme that produced them, so resuming the same
output with a different ``n_parts`` raises instead of silently skipping
wrong rows.

The output dir is also stamped with the input's fingerprint
(:func:`batch_fingerprint`) before the first wave writes. Committed part ids
say nothing about WHICH rows they hold, so a resume with a different input
raises instead of skipping every committed part and reporting success with
none of the new rows written. A dir without a stamp (written before stamps
existed) is adopted: the current input's fingerprint is stamped.

Storage is injected through the small ``ParquetStorage`` interface below
(``overwrite_data_partitions``, ``append_lineage``, ``read_data``,
``read_lineage``, ``read_input_fingerprint``, ``stamp_input_fingerprint``);
the job logic drives storage only through those six methods (pinned by the
conformance test in test_lineage.py).
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

#: AnalysisException conditions meaning "the input does not exist yet" —
#: the ONLY failures that may degrade to first-run/empty semantics. Anything
#: else (permissions, corrupt footer, transient IO) must propagate.
MISSING_INPUT_CONDITIONS = (
    "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA", "TABLE_OR_VIEW_NOT_FOUND"
)


def is_missing_input(e: Exception) -> bool:
    """True iff ``e`` is an AnalysisException classifying as a missing
    path/table. Prefers the structured condition (``getCondition``, Spark
    4.x; ``getErrorClass``, its 3.4+ predecessor) and falls back to message
    matching so pre-4.0 builds — where ``getCondition`` is absent and the
    structured check would silently never trigger — still classify."""
    if not isinstance(e, AnalysisException):
        return False
    # getErrorClass is getCondition's deprecated alias — consult it only
    # when getCondition itself is absent (it warns on every call in 4.x)
    fn = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
    if fn is not None:
        try:
            cond = fn()
        except Exception:
            cond = None
        if cond is not None:
            return cond in MISSING_INPUT_CONDITIONS
    msg = str(e)
    return "Path does not exist" in msg or any(
        c in msg for c in MISSING_INPUT_CONDITIONS
    )

from docling_gfcr_spark import io, pipeline

LINEAGE_SCHEMA = (
    "run_id string, part_id int, n_parts int, status string, n_turns long, "
    "nodes_classified long, spans_emitted long, parse_failures long, errors long, "
    "committed_at double"
)


def batch_fingerprint(input_df: DataFrame) -> str:
    """Order-independent identity of an input batch: row count + an id-set
    digest (sum of xxhash64(conv_id, turn_idx) accumulated in DECIMAL(38,0)
    — ANSI-safe). Pure function of the row set, so any partitioning of the
    same batch fingerprints identically."""
    row = input_df.select(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.sum(F.xxhash64("conv_id", "turn_idx").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("digest"),
    ).collect()[0]
    return f"{row.n_rows}:{row.digest}"


class ParquetStorage:
    """Plain-parquet storage layer: data partitions under ``data/``, lineage
    rows under ``lineage/``."""

    def __init__(self, spark: SparkSession, out_dir: str) -> None:
        self.spark = spark
        self.data_dir = f"{out_dir}/data"
        self.lineage_dir = f"{out_dir}/lineage"
        self.identity_dir = f"{out_dir}/input_identity"

    def overwrite_data_partitions(self, df: DataFrame) -> None:
        """Replace exactly the part_id partitions present in ``df``."""
        (
            df.write.mode("overwrite")
            # writer-scoped (NOT session-wide — that would silently change
            # overwrite semantics for unrelated writes on a shared session)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .parquet(self.data_dir)
        )

    def append_lineage(self, df: DataFrame) -> None:
        df.coalesce(1).write.mode("append").parquet(self.lineage_dir)

    def read_data(self, schema: StructType) -> DataFrame:
        return self.spark.read.schema(schema).parquet(self.data_dir)

    def read_lineage(self) -> DataFrame | None:
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_dir)
        except AnalysisException as e:
            # ONLY a missing lineage dir means "first run": swallowing e.g.
            # a corrupt footer would re-extract every committed part and
            # skip the n_parts check in committed_parts
            if not is_missing_input(e):
                raise
            return None

    def read_input_fingerprint(self) -> str | None:
        return io.read_dir_stamp(self.spark, self.identity_dir, ("fingerprint",)).get("fingerprint")

    def stamp_input_fingerprint(self, fingerprint: str) -> None:
        io.write_dir_stamp(self.spark, self.identity_dir, {"fingerprint": fingerprint})


def with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn("part_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_parts)).cast("int"))


def data_schema(input_schema: StructType) -> StructType:
    """The schema of a job's ``data/``, ``with_part_id(extract_turns(df))``
    for an input of ``input_schema``, without planning it."""
    return pipeline.extracted_schema(input_schema).add("part_id", IntegerType())


def committed_parts(storage: ParquetStorage, n_parts: int) -> set[int]:
    """Committed part ids, validating the persisted hash scheme.

    Raises ``ValueError`` if the lineage table was written under a different
    ``n_parts`` — its part ids would map to different conv_id sets now — or
    holds a committed row written before ``n_parts`` was recorded.
    """
    lineage = storage.read_lineage()
    if lineage is None:
        return set()
    rows = (
        lineage.where(F.col("status") == "committed")
        .select("part_id", "n_parts")
        .distinct()
        .collect()
    )
    seen_n_parts = {r.n_parts for r in rows}
    # the schema'd read gives files written before n_parts existed a NULL
    if None in seen_n_parts:
        raise ValueError(
            "lineage table predates n_parts tracking — its part ids cannot be "
            "validated against this run's hash scheme; rerun the whole job "
            "into a fresh output directory"
        )
    if seen_n_parts - {n_parts}:
        raise ValueError(
            f"lineage table was committed with n_parts={sorted(seen_n_parts)} "
            f"but this run requested n_parts={n_parts}; part ids are not "
            "comparable across hash schemes — rerun with the original value "
            "or start a fresh output directory"
        )
    return {r.part_id for r in rows}


def run_extraction_job(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    n_parts: int = 64,
    n_waves: int = 4,
    mode: str = "agent",
    run_id: str | None = None,
    fail_after_wave: int | None = None,
    storage: ParquetStorage | None = None,
    optimize: bool | None = None,
    validate: bool = True,
    input_fingerprint: str | None = None,
) -> dict:
    """Wave-committed extraction with resume. Returns a run report dict.

    ``optimize``/``validate`` mirror the agent envelope's independent flags
    (pipeline.extract_one); ``fail_after_wave`` is a crash-injection hook
    for resumability tests. ``input_fingerprint`` is ``input_df``'s
    :func:`batch_fingerprint` when the caller already holds it (it costs a
    full scan of the input); resuming ``out_dir`` with a different input
    raises ``ValueError`` before anything is written.
    """
    # n_waves=0 would plan no waves and report success with nothing written;
    # n_parts=0 would make every part_id NULL (pmod by zero)
    if n_parts < 1 or n_waves < 1:
        raise ValueError(
            f"n_parts and n_waves must be >= 1, got n_parts={n_parts}, n_waves={n_waves}"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    storage = storage or ParquetStorage(spark, out_dir)

    fingerprint = input_fingerprint or batch_fingerprint(input_df)
    unstamped = io.check_stamp(
        {"fingerprint": storage.read_input_fingerprint()}, {"fingerprint": fingerprint},
        f"output dir {out_dir!r} holds the extraction of a different input — resuming "
        "would skip every committed part and write none of this input's rows. Use a "
        "fresh output directory per input",
    )
    done = committed_parts(storage, n_parts)
    if unstamped:
        storage.stamp_input_fingerprint(fingerprint)
    todo = [p for p in range(n_parts) if p not in done]
    src = with_part_id(input_df, n_parts)

    schema = data_schema(input_df.schema)
    waves = [todo[i::n_waves] for i in range(n_waves)]
    waves = [w for w in waves if w]
    processed: list[int] = []
    for wi, wave in enumerate(waves):
        wave_df = src.where(F.col("part_id").isin(wave))
        extracted = pipeline.extract_turns(
            wave_df.drop("part_id"), mode=mode, optimize=optimize, validate=validate
        )
        extracted = with_part_id(extracted, n_parts)
        storage.overwrite_data_partitions(extracted.repartition(max(len(wave), 1), "part_id"))
        # a wave whose parts hold NO rows (sparse corpus vs large n_parts)
        # writes nothing — on the very first such wave the data dir does not
        # exist yet, so every part's metrics are zero. ONLY the missing-path
        # case may degrade: any other read failure (permissions, corrupt
        # footer) must fail the wave, not commit it with fabricated metrics
        try:
            data = storage.read_data(schema)
        except AnalysisException as e:
            if not is_missing_input(e):
                raise
            data = None
        per_part = {} if data is None else {
            r[0]: tuple(v or 0 for v in r[1:])
            for r in data.where(F.col("part_id").isin(wave))
            .groupBy("part_id")
            .agg(
                F.count("*"),
                F.sum("n_nodes"),
                F.sum("n_spans"),
                F.sum(F.col("parse_failed").cast("long")),
                F.sum((~F.col("success")).cast("long")),
            )
            .collect()
        }
        # empty parts must still commit (else they would be retried forever)
        committed_at = time.time()
        rows = [
            (run_id, p, n_parts, "committed", *per_part.get(p, (0,) * 5), committed_at)
            for p in wave
        ]
        storage.append_lineage(io.local_frame(spark, rows, LINEAGE_SCHEMA))
        processed.extend(wave)
        if fail_after_wave is not None and wi + 1 >= fail_after_wave:
            raise RuntimeError(f"injected crash after wave {wi + 1}")
    return {
        "run_id": run_id,
        "resumed_parts_skipped": sorted(done),
        "parts_processed": sorted(processed),
        "n_waves": len(waves),
    }


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/data")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(LINEAGE_SCHEMA).parquet(f"{out_dir}/lineage")


def committed_turns(spark: SparkSession, out_dir: str) -> int:
    """Rows under ``out_dir``'s ``data/``: the sum over parts of the
    ``n_turns`` in each part's latest committed lineage row, which its wave
    counted from the part's files at commit. Parts an earlier, crashed run
    committed count too. A read of a few small lineage files, not of
    ``data/``."""
    rows = (
        read_lineage(spark, out_dir)
        .where(F.col("status") == "committed")
        .select("part_id", "n_turns", "committed_at")
        .collect()
    )
    n_turns = {r.part_id: r.n_turns for r in sorted(rows, key=lambda r: r.committed_at)}
    return sum(n_turns.values())

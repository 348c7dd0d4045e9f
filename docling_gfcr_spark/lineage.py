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

A crash between (1) and (2) leaves data without lineage; resume reprocesses
that part and the overwrite makes it idempotent. On restart, committed parts
are excluded via a broadcast left-anti join — no reprocessing. ``n_parts`` is
persisted in every lineage row and validated on resume: part ids are only
meaningful under the hash scheme that produced them, so resuming the same
output with a different ``n_parts`` raises instead of silently skipping
wrong rows.

Storage is injected through the small ``Storage`` interface below. The
sandbox implementation is plain parquet (no Iceberg runtime jar here);
``IcebergStorage`` is the production twin with the identical commit
protocol — ``writeTo(table).overwritePartitions()`` for data waves and
``writeTo(lineage).append()`` for the atomic lineage commit. The job logic
is storage-agnostic (pinned by the conformance test in test_lineage.py).
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

from docling_gfcr_spark import pipeline

LINEAGE_SCHEMA = (
    "run_id string, part_id int, n_parts int, status string, n_turns long, "
    "nodes_classified long, spans_emitted long, parse_failures long, errors long, "
    "committed_at double"
)
_LINEAGE_COLS = [f.split(" ")[0] for f in LINEAGE_SCHEMA.split(", ")]


class ParquetStorage:
    """Plain-parquet storage layer (the sandbox implementation).

    The interface is three methods; an Iceberg implementation maps them to
    ``writeTo(...).overwritePartitions()`` / ``writeTo(...).append()`` /
    ``spark.read.table(...)`` with the same wave-commit semantics.
    """

    def __init__(self, spark: SparkSession, out_dir: str) -> None:
        self.spark = spark
        self.data_dir = f"{out_dir}/data"
        self.lineage_dir = f"{out_dir}/lineage"

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

    def read_data(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir)

    def read_data_partition(self, part_id: int) -> DataFrame:
        """Scan exactly one ``part_id`` partition by path — file listing
        touches ONE directory instead of the whole (growing) table, so
        per-batch metric reads stay O(batch) as history accumulates. The
        partition column itself is not in the result (it lives in the path).
        """
        return self.spark.read.parquet(f"{self.data_dir}/part_id={int(part_id)}")

    def data_partition_exists(self, part_id: int) -> bool:
        """Explicit existence probe via the Hadoop FileSystem API — upsert
        classifies brand-new buckets with this instead of substring-matching
        exception text, which a Spark version or locale change would break
        (round-4 ADVICE finding)."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(f"{self.data_dir}/part_id={int(part_id)}")
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def read_lineage(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.lineage_dir)
        except AnalysisException as e:
            # ONLY a missing lineage dir means "first run": swallowing e.g.
            # a corrupt footer would re-extract every committed part and
            # skip the n_parts check in committed_parts
            if not is_missing_input(e):
                raise
            return None


class IcebergStorage:
    """Iceberg-backed Storage twin: the SAME three-write/two-read commit
    protocol over catalog tables instead of parquet paths.

    - data waves:   ``writeTo(data_table).overwritePartitions()`` — replaces
      exactly the ``part_id`` partitions present in the frame, atomically per
      Iceberg snapshot (the dynamic-overwrite semantics ParquetStorage gets
      from ``partitionOverwriteMode=dynamic``);
    - lineage rows: ``writeTo(lineage_table).append()`` — one atomic commit;
    - reads go through the catalog, so time travel / snapshot isolation come
      free.

    Needs an Iceberg runtime jar + catalog config, which this sandbox does
    not have — so this class is UNVERIFIED SCAFFOLDING here: ``available()``
    returns False, the write/read paths never execute in this environment,
    and only their signatures are conformance-checked. A real integration
    test exists (tests/test_lineage.py::test_iceberg_storage_end_to_end) and
    runs wherever the jar + catalog are configured; until it has run, treat
    the DDL/writeTo specifics as best-effort. The job logic drives Storage
    ONLY through the shared interface (pinned by the conformance test), so
    swapping is a constructor change, not a job change. Create the tables
    once with ``create_tables(extracted_schema_ddl)`` (PARTITIONED BY
    part_id).
    """

    def __init__(self, spark: SparkSession, table_prefix: str) -> None:
        self.spark = spark
        self.data_table = f"{table_prefix}_data"
        self.lineage_table = f"{table_prefix}_lineage"

    @staticmethod
    def available(spark: SparkSession) -> bool:
        try:
            spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
            return True
        except Exception:
            return False

    def create_tables(self, data_schema_ddl: str) -> None:
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.data_table} ({data_schema_ddl}) "
            "USING iceberg PARTITIONED BY (part_id)"
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.lineage_table} "
            f"({LINEAGE_SCHEMA}) USING iceberg"
        )

    def overwrite_data_partitions(self, df: DataFrame) -> None:
        df.writeTo(self.data_table).overwritePartitions()

    def append_lineage(self, df: DataFrame) -> None:
        df.coalesce(1).writeTo(self.lineage_table).append()

    def read_data(self) -> DataFrame:
        return self.spark.read.table(self.data_table)

    def read_data_partition(self, part_id: int) -> DataFrame:
        # catalog tables prune on the partition predicate; no path surgery
        return self.read_data().where(F.col("part_id") == int(part_id)).drop("part_id")

    def data_partition_exists(self, part_id: int) -> bool:
        # a catalog table's missing partition reads as an EMPTY frame (no
        # PATH_NOT_FOUND to classify) — existence reduces to table existence
        return bool(self.spark.catalog.tableExists(self.data_table))

    def read_lineage(self) -> DataFrame | None:
        try:
            return self.spark.read.table(self.lineage_table)
        except AnalysisException as e:  # first run: table not created yet
            if not is_missing_input(e):
                raise
            return None


def with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn("part_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_parts)).cast("int"))


def committed_parts(storage: ParquetStorage, n_parts: int) -> set[int]:
    """Committed part ids, validating the persisted hash scheme.

    Raises ``ValueError`` if the lineage table was written under a different
    ``n_parts`` — its part ids would map to different conv_id sets now.
    """
    lineage = storage.read_lineage()
    if lineage is None:
        return set()
    if "n_parts" not in lineage.columns:
        raise ValueError(
            "lineage table predates n_parts tracking — its part ids cannot be "
            "validated against this run's hash scheme; rerun the whole job "
            "into a fresh output directory"
        )
    rows = (
        lineage.where(F.col("status") == "committed")
        .select("part_id", "n_parts")
        .distinct()
        .collect()
    )
    seen_n_parts = {r.n_parts for r in rows}
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
) -> dict:
    """Wave-committed extraction with resume. Returns a run report dict.

    ``optimize``/``validate`` mirror the agent envelope's independent flags
    (pipeline.extract_one); ``fail_after_wave`` is a crash-injection hook
    for resumability tests.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    storage = storage or ParquetStorage(spark, out_dir)

    done = committed_parts(storage, n_parts)
    todo = [p for p in range(n_parts) if p not in done]
    src = with_part_id(input_df, n_parts)

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
        # exist yet, so the metrics read must degrade to all-zero rows. ONLY
        # the missing-path/table case may degrade: any other read failure
        # (permissions, corrupt footer) must fail the wave, not commit it
        # with fabricated all-zero metrics
        try:
            data = storage.read_data()
        except AnalysisException as e:
            # missing dir -> PATH_NOT_FOUND; dir created but no files yet ->
            # UNABLE_TO_INFER_SCHEMA; Iceberg twin -> TABLE_OR_VIEW_NOT_FOUND
            if not is_missing_input(e):
                raise
            data = None
        agg = (
            data.where(F.col("part_id").isin(wave))
            .groupBy("part_id")
            .agg(
                F.count("*").alias("n_turns"),
                F.sum("n_nodes").alias("nodes_classified"),
                F.sum("n_spans").alias("spans_emitted"),
                F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
                F.sum((~F.col("success")).cast("long")).alias("errors"),
            )
            if data is not None
            else None
        )
        # empty parts must still commit (else they would be retried forever)
        wave_parts = spark.createDataFrame([(p,) for p in wave], "part_id int")
        if agg is None:
            wave_parts = (
                wave_parts.withColumn("n_turns", F.lit(0).cast("long"))
                .withColumn("nodes_classified", F.lit(0).cast("long"))
                .withColumn("spans_emitted", F.lit(0).cast("long"))
                .withColumn("parse_failures", F.lit(0).cast("long"))
                .withColumn("errors", F.lit(0).cast("long"))
            )
        metrics = (
            (wave_parts if agg is None else wave_parts.join(agg, "part_id", "left"))
            .na.fill(0)
            .withColumn("run_id", F.lit(run_id))
            .withColumn("n_parts", F.lit(n_parts))
            .withColumn("status", F.lit("committed"))
            .withColumn("committed_at", F.lit(time.time()))
            .select(*_LINEAGE_COLS)
        )
        storage.append_lineage(metrics)
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
    return spark.read.parquet(f"{out_dir}/lineage")


def upsert_extracted(
    spark: SparkSession,
    out_dir: str,
    updates: DataFrame,
    n_parts: int,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    run_id: str | None = None,
    storage: ParquetStorage | None = None,
) -> dict:
    """MERGE/upsert into the wave-committed table — the CDC shape (late
    corrections, re-extractions, backfills) without rewriting the table.

    Scale design: the update set is hash-bucketed with the SAME part_id rule
    as the table (``with_part_id``), so only the TOUCHED partitions are read
    and rewritten — cost is O(|touched buckets|), not O(table). Within a
    touched partition: existing rows not matching an update key survive
    (left anti), update rows replace matches and insert non-matches — the
    classic MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT. The rewrite
    publishes via the storage layer's dynamic partition overwrite (replayed
    jobs replace, never duplicate), then appends one lineage row per touched
    part (run_id ``upsert-*``) so metrics stay reconcilable — the NEWEST
    lineage row per part_id is the authoritative one after an upsert.

    Safety rails (each one is a silent-data-loss path without it):

    - the update plan is pinned with ``localCheckpoint`` BEFORE the touched
      set is collected — a nondeterministic ``updates`` (sample/limit) could
      otherwise emit a row at write time for a partition whose survivors
      were never read, wiping it;
    - only a missing-path read error means "brand-new bucket"; any OTHER
      read failure re-raises instead of being treated as empty (which would
      overwrite that partition with update rows only);
    - a table with streaming batch-id partitions (lineage ``n_parts=-1``)
      refuses: hash buckets and batch ids don't align, so matched keys could
      never be anti-joined away;
    - data present but lineage unreadable refuses (the n_parts rail cannot
      be checked, so it must not be silently skipped);
    - duplicate keys WITHIN the update set refuse (real MERGE errors on
      multiple source matches — applying both would duplicate the key);
    - ``key_cols`` must include ``conv_id``: the partition bucketing hashes
      conv_id, so a key that omits it could anti-join away unrelated
      conversations' rows inside a touched partition.

    The table must have been written with the same ``n_parts`` (enforced via
    the lineage n_parts check, like resume). Returns
    ``{"touched_parts", "n_updates", "run_id"}``.
    """
    import time as _time
    import uuid as _uuid

    from docling_gfcr_spark.operators.dedup import _free_local_checkpoint

    if "conv_id" not in key_cols:
        raise ValueError(
            "key_cols must include conv_id — partitions are hashed by conv_id, "
            "so a conv_id-free key could delete unrelated conversations' rows"
        )
    storage = storage or ParquetStorage(spark, out_dir)
    lin = storage.read_lineage()
    if lin is None:
        # distinguish "fresh table" (fine: upsert == insert) from "data
        # present but lineage unreadable" (the n_parts rail can't run —
        # refusing beats silently skipping it)
        try:
            storage.read_data()
            has_data = True
        except AnalysisException as e:
            if not is_missing_input(e):
                raise
            has_data = False
        if has_data:
            raise ValueError(
                "table has data but no readable lineage — cannot verify its "
                "n_parts scheme; restore the lineage table before upserting"
            )
    if lin is not None:
        seen = {int(r.n_parts) for r in lin.select("n_parts").distinct().collect()}
        if -1 in seen:
            raise ValueError(
                "table contains streaming batch-id partitions (n_parts=-1): "
                "hash-bucketed upsert cannot align with batch ids — compact to "
                "a hash-bucketed layout first"
            )
        if seen and seen != {n_parts}:
            raise ValueError(
                f"n_parts mismatch: table committed with {sorted(seen)}, upsert called with {n_parts}"
            )
    # pin the update set: every later use (touched list, anti-join, count,
    # write) must see the SAME rows even if the input plan is nondeterministic
    upd = with_part_id(updates, n_parts).localCheckpoint()
    try:
        touched = sorted(
            int(r.part_id) for r in upd.select("part_id").distinct().collect()
        )
        if not touched:
            return {"touched_parts": [], "n_updates": 0, "run_id": None}
        keys = list(key_cols)
        n_updates = upd.count()
        if upd.select(*keys).distinct().count() != n_updates:
            raise ValueError(
                "duplicate keys in the update set — real MERGE semantics "
                "forbid multiple source matches; dedupe updates first"
            )
        # read ONLY the touched partitions (partition-pruned paths)
        existing = None
        exists_probe = getattr(storage, "data_partition_exists", None)
        for pid in touched:
            if exists_probe is not None:
                # explicit FileSystem/catalog probe: brand-new buckets are
                # classified BEFORE the read, so no exception-text matching
                if not exists_probe(pid):
                    continue
                part = storage.read_data_partition(pid).withColumn("part_id", F.lit(pid))
            else:
                # third-party Storage without the probe: legacy classification.
                # ONLY path-missing means "brand-new bucket"; anything else
                # (corrupt footer, transient IO) must abort, not silently
                # drop the partition's rows from the merge
                try:
                    part = storage.read_data_partition(pid).withColumn("part_id", F.lit(pid))
                except Exception as e:
                    msg = str(e)
                    if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                        continue
                    raise
            existing = part if existing is None else existing.unionByName(part)
        if existing is not None:
            survivors = existing.join(upd.select(*keys), keys, "left_anti")
            merged = survivors.unionByName(upd.select(*survivors.columns))
        else:
            # every touched bucket is brand-new: align to the TABLE's schema
            # if the table exists (select raises fast on a divergent update
            # schema instead of writing mixed-schema partition dirs)
            try:
                merged = upd.select(*storage.read_data().columns)
            except AnalysisException as e:
                if not is_missing_input(e):
                    raise
                merged = upd  # table does not exist yet: updates define it
        storage.overwrite_data_partitions(merged.repartition(len(touched), "part_id"))
    finally:
        _free_local_checkpoint(upd)
    rid = run_id or f"upsert-{_uuid.uuid4().hex[:12]}"
    metrics = (
        storage.read_data()
        .where(F.col("part_id").isin(touched))
        .groupBy("part_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_nodes").alias("nodes_classified"),
            F.sum("n_spans").alias("spans_emitted"),
            F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
            F.sum((~F.col("success")).cast("long")).alias("errors"),
        )
        .withColumn("run_id", F.lit(rid))
        .withColumn("n_parts", F.lit(n_parts))
        .withColumn("status", F.lit("committed"))
        .withColumn("committed_at", F.lit(_time.time()))
        .select(*_LINEAGE_COLS)
    )
    storage.append_lineage(metrics)
    return {"touched_parts": touched, "n_updates": n_updates, "run_id": rid}

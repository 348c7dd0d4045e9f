"""End-to-end corpus build: extract -> dedup -> decontaminate -> scrub ->
mix -> pack, lineage-committed per stage with crash-resume — plus the
daily-ingest twin (:func:`run_corpus_ingest`) that dedups a new batch
incrementally against the standing band index instead of recomputing the
corpus.

This is the job a 100 TB training-data user actually runs: every operator
the engine exposes in isolation, chained under ONE resume discipline.
Composition mirrors the reference's batch pipeline shape (markdown_agent
batch loop -> per-file convert -> optimize -> validate -> summary) lifted to
corpus scale: extraction reuses `lineage.run_extraction_job`'s wave/commit
protocol (part-level resume INSIDE the stage), and every downstream stage
commits one lineage row to a stage table after its output parquet lands —
so a killed job resumes at stage granularity without recomputing committed
stages, and a crash BETWEEN data write and lineage append just rewrites that
stage (mode=overwrite, idempotent).

Stage chain and the operator each one exercises:

  1. extract       wave-committed fused-UDF extraction (part-level resume)
  2. assemble      skew-safe two-phase conversation assembly + source tag
  3. dedup_exact   content-hash keep-first
  4. dedup_near    MinHash/LSH candidate pairs -> connected components ->
                   cluster representatives survive
  4b. dedup_semantic (OPTIONAL, ``semantic=(dim, k, threshold)``) SemDeDup
                   over order-invariant hashing-trick embeddings — catches
                   token-reordered near-dups whose shingles are disjoint
                   (MinHash-blind); chain becomes SEMANTIC_STAGES
  5. decontaminate word-8-gram overlap vs a heldout/benchmark set (broadcast)
  6. scrub         PII redaction (6 families, chained Catalyst regexps)
  7. mix           per-source md5-threshold sampling rates
  8. pack          greedy sequence packing via distributed prefix sum

Scale notes (the 100 TB lens): every stage is a declarative DataFrame plan —
extraction is one ArrowEvalPython with zero shuffles, near-dup pair
enumeration is worker-side (no blocking self-join), the heldout set is
broadcast (no corpus shuffle), packing has no global sort. Stage outputs are
parquet dirs (Iceberg tables in production via the same Storage seam
lineage.py documents).

A stage commit costs its data write plus one small append: the stage's row
count (``n_out``) is observed on the write itself (``DataFrame.observe``),
not re-read from the written files, and the one-row lineage frame is an
Arrow-backed local relation (``io.local_frame``), so committing runs no
Python workers. The next stage reads the written dir with the schema this
run wrote, skipping the Parquet schema-inference job; a resumed stage
infers it. ``assemble`` reads the extraction's files with the schema
derived from the input's plan, so it never infers.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

STAGES: tuple[str, ...] = (
    "extract",
    "assemble",
    "dedup_exact",
    "dedup_near",
    "decontaminate",
    "scrub",
    "mix",
    "pack",
)

# the optional SemDeDup pass (``semantic=`` on run_corpus_build): mounted
# AFTER dedup_near because the two catch disjoint near-dup classes —
# MinHash pairs shingle overlap, semantic pruning pairs token-multiset /
# embedding proximity that survives reordering (shuffled boilerplate,
# re-templated concatenations), and running it on the already-minhash-
# deduped corpus keeps its O(C^2) per-cluster cost off docs a cheaper
# stage would have dropped anyway (the same reasoning as exact-before-
# minhash stage order).
SEMANTIC_STAGES: tuple[str, ...] = (
    STAGES[:4] + ("dedup_semantic",) + STAGES[4:]
)

STAGE_LINEAGE_SCHEMA = (
    "run_id string, stage string, stage_idx int, status string, n_out long, "
    "committed_at double"
)


def _stage_lineage_dir(out_dir: str) -> str:
    return f"{out_dir}/stage_lineage"


def read_stage_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    from docling_gfcr_spark import lineage

    try:
        return spark.read.schema(STAGE_LINEAGE_SCHEMA).parquet(_stage_lineage_dir(out_dir))
    except Exception as e:
        # ONLY a missing dir means "first run". A transient/permissions
        # failure must propagate: swallowing it would restart every stage
        # with overwrite — in ingest mode that replays the band-index
        # append (duplicate rows) without any crash having occurred.
        if lineage.is_missing_input(e):
            return None
        raise


def committed_stages(spark: SparkSession, out_dir: str) -> dict[str, str]:
    """stage -> run_id that committed it (earliest commit wins per stage)."""
    lin = read_stage_lineage(spark, out_dir)
    if lin is None:
        return {}
    rows = (
        lin.where(F.col("status") == "committed")
        .groupBy("stage")
        .agg(F.min_by("run_id", "committed_at").alias("run_id"))
        .collect()
    )
    return {r.stage: r.run_id for r in rows}


def _commit_stage(
    spark: SparkSession, out_dir: str, run_id: str, stage: str, n_out: int,
    stages: tuple[str, ...] = STAGES,
) -> None:
    from docling_gfcr_spark import io

    row = io.local_frame(
        spark,
        [(run_id, stage, stages.index(stage), "committed", n_out, time.time())],
        STAGE_LINEAGE_SCHEMA,
    )
    row.write.mode("append").parquet(_stage_lineage_dir(out_dir))


def stage_dir(out_dir: str, stage: str) -> str:
    return f"{out_dir}/{stage}"


def _batch_identity_path(out_dir: str) -> str:
    return f"{out_dir}/batch_identity"


# -- stage bodies shared by the full build and the daily ingest -------------


def _assemble_with_source(ex: DataFrame) -> DataFrame:
    """One doc per conversation (skew-safe two-phase concat) + its source
    tag (tool of the first turn)."""
    from docling_gfcr_spark import pipeline

    docs = pipeline.assemble_conversations(ex)
    src = ex.groupBy("conv_id").agg(F.min_by("tool", "turn_idx").alias("source"))
    return docs.join(src, "conv_id")


def _decontaminate_docs(
    docs: DataFrame, heldout_df: DataFrame, heldout_text_col: str, k: int
) -> DataFrame:
    from docling_gfcr_spark.operators import sampling

    held = heldout_df.select(F.col(heldout_text_col).alias("conv_text"))
    contaminated = sampling.ngram_decontaminate(
        docs, held, text_col="conv_text", id_col="conv_id", k=k
    ).select("conv_id")
    return docs.join(F.broadcast(contaminated), "conv_id", "left_anti")


def _scrub_docs(docs: DataFrame) -> DataFrame:
    from docling_gfcr_spark.operators import text_analysis

    return docs.withColumn("conv_text", text_analysis.pii_redacted_text())


def _mix_docs(docs: DataFrame, weights: dict[str, float] | None, default: float) -> DataFrame:
    from docling_gfcr_spark.operators import sampling

    pred = sampling.source_mixing_predicate(weights or {}, default, id_col="conv_id")
    return docs.where(pred)


def _pack_docs(docs: DataFrame, budget: int) -> DataFrame:
    from docling_gfcr_spark.operators import sampling, text_analysis

    withtok = docs.withColumn("n_tokens", text_analysis.token_count_ws("conv_text"))
    return sampling.pack_sequences(withtok, budget=budget, id_col="conv_id", order_by="hash")


class _StageRunner:
    """Shared stage scaffolding for the build and ingest jobs: read a
    committed stage, publish one stage's output (land parquet with its row
    count observed on the write, then append the lineage row), honor the
    injected-crash test hook. One implementation so the two jobs' resume
    discipline cannot drift.

    ``n_out`` comes from an ``Observation`` on the frame being written: the
    count is taken as the write's tasks run, and Spark merges the observed
    accumulator only from the successful attempt of each task, so it equals
    a re-read count of the written files (pinned by the crash matrices and
    a task-retry test) without the re-read's jobs."""

    def __init__(self, spark, out_dir, run_id, stages, fail_after_stage,
                 fail_before_commit_stage=None):
        for hook in (fail_after_stage, fail_before_commit_stage):
            if hook is not None and hook not in stages:
                raise ValueError(f"unknown stage {hook!r}")
        self.spark, self.out_dir, self.run_id = spark, out_dir, run_id
        self.stages, self.fail_after = stages, fail_after_stage
        self.fail_before_commit = fail_before_commit_stage
        self.done = committed_stages(spark, out_dir)
        self.ran: list[str] = []
        self.n_out: dict[str, int] = {}
        # schemas of the frames this run wrote; read() skips inference for them
        self.written: dict[str, StructType] = {}
        self.fingerprint: str | None = None

    def check_batch_identity(self, input_df: DataFrame) -> None:
        """Stamp the input batch's fingerprint on first run; on resume
        REFUSE a different batch. Reusing a completed run's --output for a
        new batch would otherwise silently no-op: every stage reads as
        committed and the run returns a success-shaped report while the new
        batch's docs never enter the corpus (or the band index). The ingest
        id-collision guard cannot catch that case — fresh ids are absent
        from the index, and the guard is skipped because dedup_incr is
        'done'. The STAGE CHAIN is stamped for the same reason: resuming a
        dir built with a different chain (e.g. with/without the optional
        dedup_semantic stage) would silently skip or double-apply stages —
        committed_stages is keyed by stage name only. A legacy dir missing
        either stamp is adopted (re-stamped with the current values) rather
        than refused."""
        from docling_gfcr_spark import io, lineage

        fp = self.fingerprint = lineage.batch_fingerprint(input_df)
        chain = "|".join(self.stages)
        path = _batch_identity_path(self.out_dir)
        stamped = io.read_dir_stamp(self.spark, path, ("fingerprint", "stage_chain"))
        unstamped = io.check_stamp(
            stamped, {"fingerprint": fp},
            f"output dir {self.out_dir!r} belongs to a different input batch — "
            "resuming would skip every committed stage and silently drop this "
            "batch's documents. Use a fresh --output per batch",
        ) + io.check_stamp(
            stamped, {"stage_chain": chain},
            f"output dir {self.out_dir!r} was built with another stage chain — "
            "resuming across a different chain would silently skip or "
            "double-apply stages. Re-run with the original options or use a "
            "fresh --output",
        )
        if unstamped:
            io.write_dir_stamp(self.spark, path, {"fingerprint": fp, "stage_chain": chain})

    @property
    def skipped(self) -> list[str]:
        return [s for s in self.stages if s in self.done]

    def read(self, stage: str) -> DataFrame:
        schema = self.written.get(stage)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(stage_dir(self.out_dir, stage))

    def committed(self, stage: str, n_out: int) -> None:
        if self.fail_before_commit == stage:
            # models the worst crash window: stage data (and any side
            # effect, e.g. the band append) landed but the lineage row is
            # missing — resume must rewrite the stage idempotently
            raise RuntimeError(f"injected crash before commit of stage {stage}")
        _commit_stage(
            self.spark, self.out_dir, self.run_id, stage, n_out, stages=self.stages
        )
        self.n_out[stage] = n_out
        self.ran.append(stage)
        if self.fail_after == stage:
            raise RuntimeError(f"injected crash after stage {stage}")

    def publish(self, stage: str, df: DataFrame, after=None) -> None:
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n_out")).write.mode("overwrite").parquet(
            stage_dir(self.out_dir, stage)
        )
        self.written[stage] = df.schema
        n_out = obs.get["n_out"]
        if after is not None:
            after()
        self.committed(stage, n_out)

    def report(self) -> dict:
        last = self.stages[-1]
        # a fully resumed run committed nothing itself: count the files
        packed = self.n_out[last] if last in self.n_out else self.read(last).count()
        return {
            "run_id": self.run_id,
            "stages_run": self.ran,
            "stages_skipped_on_resume": self.skipped,
            "packed_rows": packed,
        }


def _run_head_stages(r: _StageRunner, input_df: DataFrame, n_parts, n_waves, mode) -> None:
    """Stages 1-3, shared by build and ingest: wave-committed extraction
    (part-level resume INSIDE the stage), conversation assembly + source
    tag, batch-internal exact dedup."""
    from docling_gfcr_spark import lineage
    from docling_gfcr_spark.operators import dedup

    if "extract" not in r.done:
        lineage.run_extraction_job(
            r.spark, input_df, stage_dir(r.out_dir, "extract"),
            n_parts=n_parts, n_waves=n_waves, mode=mode, run_id=r.run_id,
            input_fingerprint=r.fingerprint,
        )
        r.committed("extract", lineage.committed_turns(r.spark, stage_dir(r.out_dir, "extract")))
    if "assemble" not in r.done:
        ex = (
            lineage.ParquetStorage(r.spark, stage_dir(r.out_dir, "extract"))
            .read_data(lineage.data_schema(input_df.schema))
            .drop("part_id")
        )
        r.publish("assemble", _assemble_with_source(ex))
    if "dedup_exact" not in r.done:
        r.publish(
            "dedup_exact",
            dedup.exact_dedup_keep(r.read("assemble")),
        )


def _run_tail_stages(
    r: _StageRunner, near_stage: str, heldout_df, heldout_text_col, decontam_k,
    mix_weights, mix_default, pack_budget,
) -> None:
    """Stages 5-8, shared by build and ingest: decontaminate (broadcast
    heldout) -> PII scrub -> per-source mix -> sequence packing."""
    if "decontaminate" not in r.done:
        r.publish(
            "decontaminate",
            _decontaminate_docs(r.read(near_stage), heldout_df, heldout_text_col, decontam_k),
        )
    if "scrub" not in r.done:
        r.publish("scrub", _scrub_docs(r.read("decontaminate")))
    if "mix" not in r.done:
        r.publish("mix", _mix_docs(r.read("scrub"), mix_weights, mix_default))
    if "pack" not in r.done:
        r.publish("pack", _pack_docs(r.read("mix"), pack_budget))


def run_corpus_build(
    spark: SparkSession,
    transcripts_df: DataFrame,
    heldout_df: DataFrame,
    out_dir: str,
    n_parts: int = 8,
    n_waves: int = 2,
    mix_weights: dict[str, float] | None = None,
    mix_default: float = 1.0,
    pack_budget: int = 2048,
    minhash: tuple[int, int, int, str] = (32, 8, 5, "md5"),
    decontam_k: int = 8,
    heldout_text_col: str = "text",
    mode: str = "agent",
    run_id: str | None = None,
    semantic: tuple[int, int, float] | None = None,
    semantic_max_cluster: int | None = None,
    fail_after_stage: str | None = None,
    fail_before_commit_stage: str | None = None,
) -> dict:
    """Run (or resume) the full corpus build. Returns a report dict.

    ``semantic=(dim, n_centroids, threshold)`` mounts the optional SemDeDup
    pass (similarity.semantic_prune: hashing-trick embeddings -> spherical
    k-means -> within-cluster greedy pruning) as a ninth stage after
    dedup_near — the chain becomes ``SEMANTIC_STAGES``. It catches
    token-REORDERED near-dups whose shingles are disjoint (MinHash-blind);
    the stage chain is stamped into the batch identity, so resuming a dir
    across a different ``semantic`` setting refuses instead of silently
    skipping or double-applying stages. This stage deduplicates the whole
    corpus once, like dedup_near; the DAILY path is
    :func:`run_corpus_ingest`'s incremental twin (same ``semantic=`` tuple
    plus ``sem_table``/``sem_path``), which compares each batch against the
    standing kept-embedding index instead of re-clustering the corpus.
    ``semantic_max_cluster`` forwards semantic_prune's skew valve (a
    degenerate codebook or dense direction can hand one worker an O(C^2)
    cluster; clusters at or under the cap are untouched).

    ``fail_after_stage`` injects a crash AFTER that stage's commit — the
    resumability test hook, mirroring run_extraction_job's fail_after_wave.
    ``fail_before_commit_stage`` injects the crash in the worst window:
    after the stage's data write (and side effects) but BEFORE its lineage
    row lands. A resumed run (same ``out_dir``) skips committed stages
    entirely; the extract stage additionally resumes at part granularity
    through run_extraction_job's own lineage. The out_dir is stamped with
    the input batch's fingerprint on first run, and a resume with a
    different batch refuses (a reused --output would otherwise silently
    skip every stage).
    """
    from docling_gfcr_spark.operators import dedup

    run_id = run_id or uuid.uuid4().hex[:12]
    n_hashes, bands, k, hash_fn = minhash
    stages = SEMANTIC_STAGES if semantic else STAGES
    r = _StageRunner(
        spark, out_dir, run_id, stages, fail_after_stage, fail_before_commit_stage
    )
    r.check_batch_identity(transcripts_df)

    _run_head_stages(r, transcripts_df, n_parts, n_waves, mode)

    # -- 4. near dedup: LSH pairs -> connected components -> keep reps -----
    if "dedup_near" not in r.done:
        docs = r.read("dedup_exact")
        # connected_components reads the mined pairs once (its first step
        # checkpoints the undirected edge set); no pairs converge in one
        # round to no labels, which drops no doc
        pairs = dedup.minhash_lsh_pairs(
            docs, text_col="conv_text", id_col="conv_id",
            n_hashes=n_hashes, bands=bands, k=k, hash_fn=hash_fn,
        )
        comps = dedup.connected_components(pairs)
        losers = comps.where(F.col("node") != F.col("comp")).select(
            F.col("node").alias("conv_id")
        )
        r.publish("dedup_near", docs.join(F.broadcast(losers), "conv_id", "left_anti"))

    # -- 4b (optional). semantic near dedup: embed -> SemDeDup -> survivors -
    near_stage = "dedup_near"
    if semantic:
        if "dedup_semantic" not in r.done:
            dim, n_centroids, threshold = semantic
            from docling_gfcr_spark.operators import similarity

            r.publish(
                "dedup_semantic",
                similarity.semantic_prune(
                    r.read("dedup_near"), text_col="conv_text", id_col="conv_id",
                    dim=dim, n_centroids=n_centroids, threshold=threshold,
                    max_cluster=semantic_max_cluster,
                ),
            )
        near_stage = "dedup_semantic"

    _run_tail_stages(
        r, near_stage, heldout_df, heldout_text_col, decontam_k,
        mix_weights, mix_default, pack_budget,
    )
    return r.report()


def read_packed(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(stage_dir(out_dir, "pack"))


INGEST_STAGES: tuple[str, ...] = (
    "extract",
    "assemble",
    "dedup_exact",
    "dedup_incr",
    "decontaminate",
    "scrub",
    "mix",
    "pack",
)

# optional SemDeDup pass for the DAILY ingest (``semantic=`` + ``sem_table``/
# ``sem_path`` on run_corpus_ingest): incremental against the standing
# kept-embedding index — O(batch) per day, the corpus is never re-embedded.
INGEST_SEMANTIC_STAGES: tuple[str, ...] = (
    INGEST_STAGES[:4] + ("dedup_semantic",) + INGEST_STAGES[4:]
)


def run_corpus_ingest(
    spark: SparkSession,
    batch_df: DataFrame,
    heldout_df: DataFrame,
    out_dir: str,
    band_table: str,
    band_path: str,
    n_parts: int = 8,
    n_waves: int = 2,
    mix_weights: dict[str, float] | None = None,
    mix_default: float = 1.0,
    pack_budget: int = 2048,
    minhash: tuple[int, int, int, str] = (32, 8, 5, "md5"),
    decontam_k: int = 8,
    heldout_text_col: str = "text",
    mode: str = "agent",
    run_id: str | None = None,
    bootstrap: bool = False,
    hot_band_cap: int | None = None,
    check_id_collision: bool = True,
    semantic: tuple[int, int, float] | None = None,
    sem_table: str | None = None,
    sem_path: str | None = None,
    sem_hot_cluster_cap: int | None = None,
    fail_after_stage: str | None = None,
    fail_before_commit_stage: str | None = None,
) -> dict:
    """DAILY-INGEST twin of :func:`run_corpus_build`: the same eight-stage
    chain over ONE day's batch, with near-dedup run INCREMENTALLY against
    the standing band index (``band_table``) instead of recomputing the
    corpus — O(batch) work per ingest regardless of corpus size. This is
    the job a 100 TB pipeline runs every day after the initial build; the
    build's `dedup_near` full-corpus stage runs exactly once, ever.

    dedup_incr discipline (keep-first kernel `dedup.keep_first_drops`):
    the batch is signed ONCE, pairs are mined against (committed corpus +
    the batch itself) via the
    band_hash-bucketed index join (corpus side exchange-free), keep-first
    drops batch docs duplicating committed docs, and the SURVIVORS' band
    keys are appended to the index so tomorrow's batch dedups against them.
    Publish order inside the stage: survivors parquet -> band append ->
    lineage commit. A crash between append and commit re-runs the stage on
    resume: the parquet overwrite is idempotent and duplicate band rows are
    harmless (pair mining distincts; recap_band_index maintenance removes
    them) — at-least-once index append, exactly-once survivors.

    ``bootstrap=True`` allows the very first batch to run with no committed
    band table (otherwise a mistyped table name would silently dedup
    against nothing — dedup.incremental_minhash_pairs raises).

    ``semantic=(dim, n_centroids, threshold)`` (with ``sem_table`` /
    ``sem_path``) mounts INCREMENTAL SemDeDup as a fifth stage after
    dedup_incr — the semantic twin of the band index: the batch is embedded
    + assigned once against the codebook persisted at bootstrap
    (``<sem_path>_centroids``), compared per cluster against the standing
    kept-embedding index (similarity.incremental_semantic_verdicts;
    committed keepers win, the keep-first-by-arrival convention), and the
    SURVIVORS' (id, vec_id, cluster, embedding) rows are appended so
    tomorrow's batch compares against them. Publish order inside the stage
    mirrors dedup_incr: survivors parquet -> index append -> lineage
    commit; a crash between append and commit re-runs the stage on resume —
    the kernel excludes a doc's own committed copy (same vec_id, same
    embedding) from its comparisons, so the at-least-once append is
    harmless and the re-run reproduces identical verdicts (a same-vec_id
    row with a DIFFERENT embedding is a cross-day surrogate collision and
    refuses). ``sem_hot_cluster_cap`` bounds the committed keepers compared
    per cluster (lowest-surrogate representatives — the hot_band_cap
    idiom). The codebook is trained once on the bootstrap batch; retraining
    is maintenance (it re-partitions the keeper space), mirrored by the
    params + codebook digest stamped on the index table. Note the BAND
    index still receives every dedup_incr survivor's keys — including docs
    the semantic stage then prunes — intentionally: the index must remember
    everything accepted-or-pruned, else tomorrow's re-submission of a
    pruned doc's content would be readmitted.

    ``check_id_collision`` (default on) enforces the incremental-dedup
    precondition that batch ids are DISJOINT from committed ids: a
    double-ingested batch would otherwise pass silently (its docs pair
    only with their own committed copies, and self-pairs are excluded) and
    commit every document twice. The guard runs BEFORE extraction (one
    column-pruned scan of the index probed by the broadcast batch ids,
    early-exiting on the first hit) so a doomed re-submit refuses in
    seconds instead of after the head stages. Turn it off ONLY when
    resuming a run that crashed BETWEEN the band append and the stage
    commit — that re-run legitimately sees its own ids in the index (the
    at-least-once append).
    """
    from docling_gfcr_spark.operators import dedup

    if semantic and not (sem_table and sem_path):
        raise ValueError("semantic ingest needs sem_table and sem_path")
    run_id = run_id or uuid.uuid4().hex[:12]
    n_hashes, bands, k, hash_fn = minhash
    stages = INGEST_SEMANTIC_STAGES if semantic else INGEST_STAGES
    r = _StageRunner(
        spark, out_dir, run_id, stages, fail_after_stage,
        fail_before_commit_stage,
    )
    r.check_batch_identity(batch_df)

    # fail-fast BEFORE extraction (the dominant pipeline cost): a doomed
    # double-ingest must refuse in seconds, not after hours of head stages.
    # Skipped when dedup_incr is already committed — that resume
    # legitimately sees its own ids in the index.
    if (
        check_id_collision
        and "dedup_incr" not in r.done
        and spark.catalog.tableExists(band_table)
    ):
        clash = (
            spark.table(band_table)
            .join(
                F.broadcast(batch_df.select(F.col("conv_id").alias("id")).distinct()),
                "id",
            )
            .take(1)
        )
        if clash:
            raise ValueError(
                f"batch id {clash[0].id!r} is already committed in band "
                f"table {band_table!r} — incremental dedup requires "
                "disjoint batch ids (a double-ingested batch would "
                "silently commit every doc twice). If this run crashed "
                "between the band append and the stage commit, resume "
                "with check_id_collision=False."
            )

    _run_head_stages(r, batch_df, n_parts, n_waves, mode)

    # -- 4. incremental near dedup vs the standing index -------------------
    if "dedup_incr" not in r.done:
        docs = r.read("dedup_exact")
        # sign ONCE: the keys feed pair mining AND (filtered to survivors)
        # the index append — MinHash is the dominant per-batch cost
        banded = dedup.minhash_band_keys(
            docs, text_col="conv_text", id_col="conv_id",
            n_hashes=n_hashes, bands=bands, k=k, hash_fn=hash_fn,
        ).localCheckpoint()
        try:
            pairs = dedup.incremental_minhash_pairs(
                spark, band_table, new_banded=banded,
                n_hashes=n_hashes, bands=bands, k=k, hash_fn=hash_fn,
                allow_missing_table=bootstrap,
            )
            dropped = dedup.keep_first_drops(pairs, docs.select("conv_id"))
            survivors = docs.join(dropped, docs["conv_id"] == dropped["id"], "left_anti")

            def _append_bands() -> None:
                # read survivors back from the WRITTEN stage (the committed
                # truth), not the live plan — the append must match the files
                surv = r.read("dedup_incr").select(F.col("conv_id").alias("id"))
                dedup.commit_minhash_bands(
                    None, band_table, band_path,
                    n_hashes=n_hashes, bands=bands, k=k, hash_fn=hash_fn,
                    mode="append" if spark.catalog.tableExists(band_table) else "overwrite",
                    hot_band_cap=hot_band_cap,
                    banded=banded.join(surv, "id", "left_semi"),
                )
                spark.catalog.refreshTable(band_table)

            r.publish("dedup_incr", survivors, after=_append_bands)
        finally:
            dedup._free_local_checkpoint(banded)

    # -- 4b (optional). incremental semantic dedup vs the standing index ---
    near_stage = "dedup_incr"
    if semantic:
        if "dedup_semantic" not in r.done:
            from docling_gfcr_spark.operators import similarity

            dim, n_centroids, threshold = semantic
            docs = r.read("dedup_incr")
            cent_path = f"{sem_path.rstrip('/')}_centroids"
            if spark.catalog.tableExists(sem_table):
                cent = similarity.load_semantic_centroids(spark, cent_path)
            elif bootstrap:
                # train the codebook ONCE on the first batch; deterministic,
                # so a crash-before-index-write resume retrains identically
                emb = docs.select(
                    similarity.md5_surrogate_id(
                        F.col("conv_id").cast("string")
                    ).alias("vec_id"),
                    similarity.make_hashing_embed_udf(dim)(
                        F.col("conv_text").cast("string")
                    ).alias("embedding"),
                )
                cent = similarity.train_ivf_centroids(emb, n_centroids=n_centroids)
                similarity.save_semantic_centroids(spark, cent_path, cent)
            else:
                raise ValueError(
                    f"semantic index {sem_table!r} does not exist and "
                    "bootstrap=False — a mistyped table would silently dedup "
                    "against nothing"
                )
            # sign once: embeddings feed the verdicts AND (filtered to
            # survivors) the index append
            ea = similarity.embed_and_assign(docs, cent, dim=dim).localCheckpoint()
            try:
                verdicts = similarity.incremental_semantic_verdicts(
                    spark, sem_table, ea, threshold, dim, n_centroids, cent,
                    hot_cluster_cap=sem_hot_cluster_cap,
                    allow_missing_table=bootstrap,
                )
                losers = verdicts.where(~F.col("kept")).select("vec_id")
                survivors = docs.join(
                    F.broadcast(losers),
                    similarity.md5_surrogate_id(F.col("conv_id").cast("string"))
                    == F.col("vec_id"),
                    "left_anti",
                )

                def _append_semantic() -> None:
                    # same committed-truth rule as the band append: read the
                    # WRITTEN stage, not the live plan
                    surv = r.read("dedup_semantic").select(
                        F.col("conv_id").cast("string").alias("id")
                    )
                    similarity.commit_semantic_index(
                        spark, sem_table, sem_path,
                        ea.join(surv, "id", "left_semi"),
                        dim, n_centroids, threshold, cent,
                        mode="append"
                        if spark.catalog.tableExists(sem_table)
                        else "overwrite",
                    )
                    spark.catalog.refreshTable(sem_table)

                r.publish("dedup_semantic", survivors, after=_append_semantic)
            finally:
                dedup._free_local_checkpoint(ea)
        near_stage = "dedup_semantic"

    _run_tail_stages(
        r, near_stage, heldout_df, heldout_text_col, decontam_k,
        mix_weights, mix_default, pack_budget,
    )
    return r.report()


def main() -> None:
    """Cluster entrypoint.

    Submit:
        spark-submit --py-files dist/docling_gfcr_spark.zip jobs/corpus_build.py \
            --input <transcripts parquet/table> --heldout <benchmark parquet> \
            --output <job root> --n-parts 4096 --waves 64 \
            [--mix html=0.6 --mix json=0.5] [--pack-budget 4096] [--run-id r42]

    On restart with the same --output, committed stages are skipped; the
    extract stage resumes at part granularity. Local smoke: --local-cores N
    --synth-convs M.

    Daily ingest (incremental near-dedup against the standing band index
    instead of the full-corpus dedup_near stage): add --band-table and
    --band-path; --bootstrap allows the very first batch to run before the
    index exists. Use a FRESH --output per batch (the stage lineage is
    per-run); the band table is the cross-batch state.

    Index maintenance (run periodically, like compaction; requires ingest
    quiescence): --recap-cap N with --band-table/--band-path rewrites the
    index keeping at most N ids per band key globally — per-commit
    hot-band caps drift upward under append-mode ingest. No input/output
    args needed in this mode.

    NOTE: the standing band table (ingest + recap modes) lives in the Spark
    CATALOG — cross-process use (daily spark-submit batches, a separate
    maintenance run) requires a persistent metastore (Hive/Iceberg/Glue),
    which is the normal cluster deployment; plain local-mode sessions have
    an in-memory catalog, so local smoke runs must keep index producer and
    consumer in ONE process.
    """
    import argparse
    import json
    import os
    import sys

    try:
        import docling_gfcr_spark  # noqa: F401
    except ImportError:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path")
    ap.add_argument("--table", help="catalog table name instead of --input")
    ap.add_argument("--heldout", help="heldout/benchmark parquet (text column)")
    ap.add_argument("--heldout-text-col", default="text")
    ap.add_argument("--output", default=None, help="job root (required except with --recap-cap)")
    ap.add_argument("--n-parts", type=int, default=4096)
    ap.add_argument("--waves", type=int, default=64)
    ap.add_argument("--mode", choices=["agent", "cli"], default="agent")
    ap.add_argument("--mix", action="append", default=[], metavar="SOURCE=RATE")
    ap.add_argument("--mix-default", type=float, default=1.0)
    ap.add_argument("--pack-budget", type=int, default=4096)
    ap.add_argument(
        "--minhash", default="32,8,5,md5", metavar="N,BANDS,K,FN",
        help="minhash signature params; MUST match a standing band index "
        "(ingest refuses incomparable keys). fn: md5|fast",
    )
    ap.add_argument("--decontam-k", type=int, default=8)
    ap.add_argument(
        "--semantic", default=None, metavar="DIM,K,THRESHOLD",
        help="mount the optional SemDeDup stage: hashing-trick embedding "
        "dim, k-means centroid count, within-cluster cosine drop threshold "
        "— e.g. 64,1024,0.95. Build mode dedups the whole corpus after "
        "dedup_near; ingest mode (add --sem-table/--sem-path) runs "
        "INCREMENTALLY against the standing kept-embedding index",
    )
    ap.add_argument("--sem-table", default=None, help="semantic ingest: standing kept-embedding index table")
    ap.add_argument("--sem-path", default=None, help="semantic ingest: index table path (codebook at <path>_centroids)")
    ap.add_argument("--sem-hot-cluster-cap", type=int, default=None, help="semantic ingest: committed-keepers-per-cluster cap (skew valve)")
    ap.add_argument("--semantic-max-cluster", type=int, default=None, help="semantic build: split clusters larger than N into hash sub-buckets (skew valve)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--local-cores", type=int, default=0, help="local smoke mode")
    ap.add_argument("--synth-convs", type=int, default=0, help="generate synthetic input")
    ap.add_argument("--band-table", default=None, help="ingest mode: standing band index table")
    ap.add_argument("--band-path", default=None, help="ingest mode: band index table path")
    ap.add_argument("--bootstrap", action="store_true", help="ingest mode: first batch, index may not exist")
    ap.add_argument("--allow-id-collision", action="store_true",
                    help="ingest mode: skip the duplicate-batch guard (ONLY for "
                    "resuming a crash between band append and stage commit)")
    ap.add_argument("--hot-band-cap", type=int, default=None, help="ingest mode: per-commit band-key cap (skew valve)")
    ap.add_argument("--recap-cap", type=int, default=None, help="maintenance mode: globally re-cap the band index and exit")
    ap.add_argument(
        "--sem-recluster", type=int, default=None, metavar="K",
        help="maintenance mode: dedupe + retrain/reassign the kept-embedding "
        "index with K centroids (0 = keep the stamped count) and exit; "
        "needs --sem-table/--sem-path and ingest quiescence",
    )
    args = ap.parse_args()
    if bool(args.band_table) != bool(args.band_path):
        raise SystemExit("--band-table and --band-path go together")
    if args.recap_cap is not None and not args.band_table:
        raise SystemExit("--recap-cap needs --band-table/--band-path")
    if args.sem_recluster is not None and not args.sem_table:
        raise SystemExit("--sem-recluster needs --sem-table/--sem-path")
    if args.recap_cap is None and args.sem_recluster is None and not args.output:
        raise SystemExit("--output is required")

    if args.local_cores:
        from docling_gfcr_spark.session import get_spark

        spark = get_spark(app_name="corpus_build", cores=args.local_cores)
    else:
        from pyspark.sql import SparkSession as _SS

        spark = _SS.builder.appName("docling_gfcr_corpus_build").getOrCreate()
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    from docling_gfcr_spark import io, transcripts

    if args.recap_cap is not None:
        # maintenance mode: globally re-tighten the hot-band cap, then exit
        from docling_gfcr_spark.operators import dedup

        before = spark.table(args.band_table).count()
        dedup.recap_band_index(spark, args.band_table, args.band_path, args.recap_cap)
        after = spark.table(args.band_table).count()
        print(json.dumps({"recapped": args.band_table, "cap": args.recap_cap,
                          "rows_before": before, "rows_after": after}))
        spark.stop()
        return

    if args.sem_recluster is not None:
        # maintenance mode: dedupe + retrain/reassign the kept-embedding
        # index (semantic twin of --recap-cap), then exit
        from docling_gfcr_spark.operators import similarity

        before = spark.table(args.sem_table).count()
        cent = similarity.recluster_semantic_index(
            spark, args.sem_table, args.sem_path,
            n_centroids=args.sem_recluster if args.sem_recluster > 0 else None,
        )
        after = spark.table(args.sem_table).count()
        print(json.dumps({"reclustered": args.sem_table,
                          "n_centroids": int(cent.shape[0]),
                          "rows_before": before, "rows_after": after}))
        spark.stop()
        return

    if args.synth_convs:
        input_df = transcripts.make_transcripts(spark, args.synth_convs, seed=42)
    elif args.table:
        input_df = spark.read.table(args.table)
    elif args.input:
        input_df = spark.read.parquet(args.input)
    else:
        raise SystemExit("one of --input/--table/--synth-convs required")
    io.validate_input_schema(input_df)
    if args.heldout:
        heldout_df = spark.read.parquet(args.heldout)
    else:  # no benchmark set: decontamination is a no-op against empty
        heldout_df = spark.createDataFrame([], f"{args.heldout_text_col} string")
    mix_weights = {}
    for spec in args.mix:
        src, _, rate = spec.partition("=")
        mix_weights[src] = float(rate)

    mh = args.minhash.split(",")
    if len(mh) != 4:
        raise SystemExit("--minhash wants N,BANDS,K,FN")
    common = dict(
        n_parts=args.n_parts, n_waves=args.waves,
        mix_weights=mix_weights, mix_default=args.mix_default,
        pack_budget=args.pack_budget, mode=args.mode,
        minhash=(int(mh[0]), int(mh[1]), int(mh[2]), mh[3]),
        decontam_k=args.decontam_k,
        heldout_text_col=args.heldout_text_col, run_id=args.run_id,
    )
    semantic = None
    if args.semantic:
        sm = args.semantic.split(",")
        if len(sm) != 3:
            raise SystemExit("--semantic wants DIM,K,THRESHOLD")
        semantic = (int(sm[0]), int(sm[1]), float(sm[2]))
    if bool(args.sem_table) != bool(args.sem_path):
        raise SystemExit("--sem-table and --sem-path go together")
    if args.band_table:
        if semantic and not args.sem_table:
            raise SystemExit(
                "--semantic in ingest mode needs --sem-table/--sem-path "
                "(the standing kept-embedding index)"
            )
        report = run_corpus_ingest(
            spark, input_df, heldout_df, args.output,
            args.band_table, args.band_path,
            bootstrap=args.bootstrap, hot_band_cap=args.hot_band_cap,
            check_id_collision=not args.allow_id_collision,
            semantic=semantic, sem_table=args.sem_table, sem_path=args.sem_path,
            sem_hot_cluster_cap=args.sem_hot_cluster_cap,
            **common,
        )
    else:
        report = run_corpus_build(
            spark, input_df, heldout_df, args.output, semantic=semantic,
            semantic_max_cluster=args.semantic_max_cluster, **common
        )
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()

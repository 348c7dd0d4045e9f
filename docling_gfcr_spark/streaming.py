"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2B: no streams anywhere), so the
batch pipeline is the core product; this module exposes the same extraction
semantics over a stream for ingest-time deployment, plus watermarked windowed
aggregation over an event stream — the two standard streaming shapes.

Local tests drive these with a file source + memory sink +
``processAllAvailable()`` (synchronous drain), per the Spark docs pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_gfcr_spark import pipeline

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_extract(spark: SparkSession, input_dir: str, schema: str | None = None) -> DataFrame:
    """Streaming extraction: same fused UDF, readStream->transform.

    The extraction stage is stateless (per-turn equality invariant), so it
    composes with any trigger/sink; ordering/assembly belong downstream in a
    batch compaction pass, as in the Lambda-ish layout the lineage table
    implies.
    """
    from docling_gfcr_spark.transcripts import SCHEMA as TRANSCRIPTS_SCHEMA

    src = (
        spark.readStream.schema(schema or TRANSCRIPTS_SCHEMA)
        .format("parquet")
        .load(input_dir)
    )
    return pipeline.extract_turns(src, mode="agent")


def windowed_event_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type (late data dropped
    after the watermark horizon)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_user_activity(
    events: DataFrame, gap: str = "20 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session-window aggregation per user (merge events closer than ``gap``).

    One declarative plan serves BOTH engines of the stream==batch invariant:
    on a streaming DF the watermark bounds session state and append mode
    emits each session once it can no longer grow; on a batch DF the
    watermark is a no-op and the result is the full session table. Session
    semantics: [first_ts, last_ts + gap) with merge-on-overlap — a new
    session starts iff the inter-event gap is >= ``gap``.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def clicks_with_error_within(
    clicks: DataFrame, errors: DataFrame, horizon_s: int = 600, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream INNER join: for every click, the error events by the
    same user within ``horizon_s`` seconds after it.

    On two streaming DFs this is Spark's watermarked stream-stream join —
    the time-range condition plus both watermarks bound the join state
    (clicks held ~horizon+watermark, errors ~watermark); inner joins emit
    eagerly, so the drained result equals the same plan on batch inputs
    (pinned by tests). On batch DFs the watermarks are no-ops.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    e = errors.withWatermark("ts", watermark).select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("error_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") > F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_s} SECOND"))
    )
    return c.join(e, cond, "inner").select(
        "click_id", F.col("c_user").alias("user_id"), "click_ts", "error_id", "error_ts"
    )


def run_stream_to_memory(spark: SparkSession, stream_df: DataFrame, name: str) -> DataFrame:
    """Drive a streaming DF to completion over the currently-available files
    and return the materialized result (memory sink)."""
    q = (
        stream_df.writeStream.outputMode("complete" if _has_agg(stream_df) else "append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def _has_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().logical().toString()


def stream_dedup_exact(stream: DataFrame, text_col: str = "text", watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: watermarked ``dropDuplicates`` on the content
    hash — the ingest-time twin of ``operators.dedup.exact_dedup_keep``.

    ``dropDuplicatesWithinWatermark`` is load-bearing: plain
    ``dropDuplicates(['content_hash'])`` only applies watermark eviction when
    the event-time column is part of the dedup key, so its state would grow
    unboundedly. The WithinWatermark variant evicts each hash once it ages
    past the horizon — bounded state on an unbounded 100 TB/day stream.
    Exact GLOBAL dedup stays a batch compaction job; this stage kills the
    duplicates that arrive close together (retries, double-sends).
    """
    return (
        stream.withColumn("content_hash", F.md5(F.col(text_col)))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .drop("content_hash")
    )


def stream_extract_durable(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    mode: str = "agent",
    checkpoint_dir: str | None = None,
):
    """Streaming ingest with the SAME durable-commit protocol as the batch
    job: each micro-batch writes extracted rows under ``part_id=<batch_id>``
    (dynamic partition overwrite — a replayed batch replaces, never
    duplicates: exactly-once on top of at-least-once delivery) and then
    appends one lineage row per batch. foreachBatch is the Spark-idiomatic
    bridge from a stream to a transactional sink.

    Returns the started StreamingQuery (caller drains/stops it).
    """
    import time as _time

    from docling_gfcr_spark import lineage

    storage = lineage.ParquetStorage(spark, out_dir)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        extracted = pipeline.extract_turns(batch_df, mode=mode).withColumn(
            "part_id", F.lit(int(batch_id))
        )
        storage.overwrite_data_partitions(extracted)
        # read back ONLY this batch's partition path: scanning the whole data
        # dir and filtering would re-list every partition ever written, making
        # each micro-batch slower as stream history grows
        metrics = (
            storage.read_data_partition(int(batch_id))
            .agg(
                F.count("*").alias("n_turns"),
                F.sum("n_nodes").alias("nodes_classified"),
                F.sum("n_spans").alias("spans_emitted"),
                F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
                F.sum((~F.col("success")).cast("long")).alias("errors"),
            )
            .withColumn("part_id", F.lit(int(batch_id)))
            .withColumn("run_id", F.lit("stream"))
            # streaming parts are batch ids, not hash buckets: n_parts=-1
            # marks them non-comparable so batch resume refuses to mix
            .withColumn("n_parts", F.lit(-1))
            .withColumn("status", F.lit("committed"))
            .withColumn("committed_at", F.lit(_time.time()))
            .select(*lineage._LINEAGE_COLS)
        )
        storage.append_lineage(metrics)

    # foreachBatch gets the pre-extraction stream (extraction happens inside
    # the batch fn so a replayed batch re-extracts deterministically)
    from docling_gfcr_spark.transcripts import SCHEMA as TRANSCRIPTS_SCHEMA

    src = spark.readStream.schema(TRANSCRIPTS_SCHEMA).format("parquet").load(input_dir)
    writer = src.writeStream.foreachBatch(commit_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_ingest_neardup(
    spark: SparkSession,
    input_dir: str,
    bands_table: str,
    bands_path: str,
    out_dir: str,
    schema: str = "doc_id long, text string",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    hash_fn: str = "md5",
    hot_band_cap: int | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """STREAMING near-dup ingest — the daily-ingest shape of
    ``dedup.incremental_minhash_pairs`` run continuously. Each micro-batch:

    1. mines candidate pairs against (committed corpus + the batch itself)
       via the band_hash-bucketed index — no corpus recompute, corpus side
       exchange-free;
    2. applies the KEEP-FIRST policy: drop a batch doc that near-dups an
       already-committed doc, or a smaller-id doc in the same batch;
    3. writes the surviving (clean) docs under ``part_id=<batch_id>`` with
       dynamic partition overwrite — a replayed batch replaces, never
       duplicates (exactly-once outputs over at-least-once delivery);
    4. APPENDS the survivors' band keys to the committed index, so later
       batches dedup against them.

    The band index append is at-least-once on replay (a replayed batch's
    committed copies share their doc ids, so re-checking is a no-op —
    self-pairs are excluded — and duplicate index rows only produce
    duplicate candidates, removed by the pair-level distinct).

    Returns the started StreamingQuery (caller drains/stops it).
    """
    from docling_gfcr_spark.operators import dedup

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        # at-least-once delivery can duplicate a doc_id WITHIN one batch:
        # collapse to one row per id up front (the duplicate rows are
        # replays of the same doc), else both rows would ride into the
        # clean output and the band index
        batch_df = batch_df.dropDuplicates([id_col])
        # sign the batch ONCE: the band keys feed pair mining AND (filtered
        # to survivors) the index append — MinHash is the dominant per-batch
        # cost and must not run twice
        banded = dedup.minhash_band_keys(
            batch_df, id_col=id_col, n_hashes=n_hashes, bands=bands, k=k, hash_fn=hash_fn
        ).localCheckpoint()
        pairs = None
        try:
            pairs = dedup.incremental_minhash_pairs(
                spark, bands_table, new_banded=banded,
                n_hashes=n_hashes, bands=bands, k=k, hash_fn=hash_fn,
                allow_missing_table=True,  # first-batch bootstrap
            ).localCheckpoint()  # pin: used for two drop classes below
            dropped = dedup.keep_first_drops(pairs, batch_df.select(id_col))
            survivors = batch_df.join(
                dropped, batch_df[id_col] == dropped["id"], "left_anti"
            )
            (
                survivors.withColumn("part_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_id")
                .parquet(out_dir)
            )
            surv_banded = banded.join(
                survivors.select(F.col(id_col).alias("id")).distinct(), "id", "left_semi"
            )
            dedup.commit_minhash_bands(
                None, bands_table, bands_path,
                n_hashes=n_hashes, bands=bands, k=k, hash_fn=hash_fn,
                mode="append" if spark.catalog.tableExists(bands_table) else "overwrite",
                hot_band_cap=hot_band_cap,
                banded=surv_banded,
            )
            # the append ran in foreachBatch's CLONED session; the OUTER
            # session's relation cache still lists the pre-append files —
            # without this refresh the NEXT batch (and any caller) would
            # dedup against a stale index and miss cross-batch dups
            spark.catalog.refreshTable(bands_table)
        finally:
            from docling_gfcr_spark.operators.dedup import _free_local_checkpoint

            if pairs is not None:
                _free_local_checkpoint(pairs)
            _free_local_checkpoint(banded)

    src = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        src = src.option("maxFilesPerTrigger", int(max_files_per_trigger))
    writer = src.load(input_dir).writeStream.foreachBatch(commit_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_ingest_semantic(
    spark: SparkSession,
    input_dir: str,
    sem_table: str,
    sem_path: str,
    out_dir: str,
    schema: str = "doc_id long, text string",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    n_centroids: int = 16,
    threshold: float = 0.95,
    hot_cluster_cap: int | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """STREAMING semantic (SemDeDup) ingest — the semantic twin of
    :func:`stream_ingest_neardup`, running
    ``similarity.incremental_semantic_verdicts`` continuously against the
    standing kept-embedding index. Each micro-batch:

    1. embeds + assigns the batch once (hashing-trick embeddings, codebook
       in the UDF closure — the codebook is trained on the FIRST batch and
       persisted at ``<sem_path>_centroids``; every later batch loads it,
       digest-checked against the index stamp);
    2. compares per cluster against (committed keepers + the batch itself),
       committed keepers winning — keep-first by arrival;
    3. writes surviving docs under ``part_id=<batch_id>`` with dynamic
       partition overwrite (exactly-once outputs over at-least-once
       delivery);
    4. APPENDS the survivors' (id, vec_id, cluster, embedding) rows to the
       index so later batches compare against them.

    Replay safety mirrors the batch job: a replayed batch's committed
    copies share their surrogate vec_ids and the kernel self-excludes them
    (same embedding), so re-checking is a no-op; a same-vec_id row with a
    different embedding is a cross-day surrogate collision and fails the
    batch instead of silently aliasing docs.

    Returns the started StreamingQuery (caller drains/stops it).
    """
    import numpy as np

    from docling_gfcr_spark.operators import similarity
    from docling_gfcr_spark.operators.dedup import _free_local_checkpoint

    cent_path = f"{sem_path.rstrip('/')}_centroids"
    cent_cache: list = []  # the codebook is immutable once trained

    def _codebook(batch_df: DataFrame) -> np.ndarray:
        if cent_cache:
            return cent_cache[0]
        if spark.catalog.tableExists(sem_table):
            cent = similarity.load_semantic_centroids(spark, cent_path)
        else:  # first batch: train once, persist beside the index
            emb = batch_df.select(
                similarity.md5_surrogate_id(F.col(id_col).cast("string")).alias("vec_id"),
                similarity.make_hashing_embed_udf(dim)(
                    F.col(text_col).cast("string")
                ).alias("embedding"),
            )
            cent = similarity.train_ivf_centroids(emb, n_centroids=n_centroids)
            similarity.save_semantic_centroids(spark, cent_path, cent)
        cent_cache.append(cent)
        return cent

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.dropDuplicates([id_col])
        cent = _codebook(batch_df)
        # embed + assign ONCE: feeds the verdicts AND (filtered to
        # survivors) the index append
        ea = similarity.embed_and_assign(
            batch_df, cent, text_col=text_col, id_col=id_col, dim=dim
        ).localCheckpoint()
        losers = None
        try:
            verdicts = similarity.incremental_semantic_verdicts(
                spark, sem_table, ea, threshold, dim, n_centroids, cent,
                hot_cluster_cap=hot_cluster_cap,
                allow_missing_table=True,  # first-batch bootstrap
            )
            # pin the (small) loser set: the survivors plan is evaluated by
            # BOTH the clean-docs write and the index-append semi-join, and
            # without the checkpoint each evaluation would re-run the whole
            # verdicts cogroup
            losers = verdicts.where(~F.col("kept")).select("vec_id").localCheckpoint()
            survivors = batch_df.join(
                F.broadcast(losers),
                similarity.md5_surrogate_id(F.col(id_col).cast("string"))
                == F.col("vec_id"),
                "left_anti",
            )
            (
                survivors.withColumn("part_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_id")
                .parquet(out_dir)
            )
            surv_ea = ea.join(
                survivors.select(F.col(id_col).cast("string").alias("id")).distinct(),
                "id",
                "left_semi",
            )
            similarity.commit_semantic_index(
                spark, sem_table, sem_path, surv_ea, dim, n_centroids, threshold,
                cent,
                mode="append" if spark.catalog.tableExists(sem_table) else "overwrite",
            )
            # the append ran in foreachBatch's CLONED session; refresh the
            # OUTER session's relation cache or the next batch compares
            # against a stale file listing (same gotcha as the band index)
            spark.catalog.refreshTable(sem_table)
        finally:
            _free_local_checkpoint(ea)
            if losers is not None:
                _free_local_checkpoint(losers)

    src = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        src = src.option("maxFilesPerTrigger", int(max_files_per_trigger))
    writer = src.load(input_dir).writeStream.foreachBatch(commit_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stateful_turn_progress(stream: DataFrame):
    """Custom stateful streaming operator (applyInPandasWithState): per
    conversation, maintain running (n_turns, max_turn_idx, n_batches) across
    micro-batches — the live-ingest counterpart of the batch lineage metrics.

    State: one row per conv_id, updated incrementally; emits the running
    totals each batch the conversation appears in (update mode).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "conv_id string, n_turns long, max_turn_idx long, n_batches long"
    state_schema = "n_turns long, max_turn_idx long, n_batches long"

    def update(key, pdfs, state: GroupState):
        n_turns, max_idx, n_batches = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n_turns += len(pdf)
            if len(pdf):
                max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        n_batches += 1
        state.update((n_turns, max_idx, n_batches))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n_turns],
                "max_turn_idx": [max_idx],
                "n_batches": [n_batches],
            }
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        update, output_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )

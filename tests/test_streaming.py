"""Structured Streaming surface tests (file source -> memory sink, drained
synchronously with processAllAvailable)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from docling_gfcr_spark import pipeline, streaming, transcripts

# the events table the session-window stream==batch tests write and stream
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

SF = "/root/testdata/sf0.001"


def test_stream_extract_matches_batch(spark, tmp_path):
    """The fused extraction UDF gives the same rows over a file stream
    (drained by run_stream_to_memory) as over the same files read as a
    batch."""
    src = str(tmp_path / "stream_src")
    tdf = transcripts.make_transcripts(spark, 8, mean_turns=4, seed=3, parallelism=2)
    tdf.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(transcripts.SCHEMA).format("parquet").load(src)
    out = streaming.run_stream_to_memory(
        spark, pipeline.extract_turns(stream, mode="agent"), "stream_extract_t"
    )
    got = (
        out.select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    batch = (
        pipeline.extract_turns(spark.read.parquet(src), mode="agent")
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, batch)


def test_session_window_stream_equals_batch(spark, tmp_path):
    """sessionized_user_activity is ONE plan for both engines: the drained
    append-mode stream (file source) must equal the batch run on the same
    data. A far-future sentinel event pushes the watermark past every real
    session so append mode flushes them all."""
    src = str(tmp_path / "sess_src")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    sentinel = spark.sql(
        "SELECT CAST(999999999 AS LONG) event_id, timestamp'2030-01-01 00:00:00' ts, "
        "CAST(-1 AS LONG) user_id, 'click' event_type, 0.0 value, '{}' props"
    )
    ev.unionByName(sentinel).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(src)
    agg = streaming.sessionized_user_activity(stream, gap="20 minutes", watermark="10 minutes")
    q = agg.writeStream.outputMode("append").format("memory").queryName("sess_eq_t").start()
    q.processAllAvailable()
    q.stop()
    key = ["user_id", "session_start"]
    got = (
        spark.table("sess_eq_t").where("user_id != -1").toPandas()
        .sort_values(key).reset_index(drop=True)
    )
    want = (
        streaming.sessionized_user_activity(ev, gap="20 minutes").toPandas()
        .sort_values(key).reset_index(drop=True)
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want)


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join (the broadcast-enrichment shape: a stream enriched
    against a slowly-changing dimension): every micro-batch row joins the
    static side; result equals the batch join."""
    src = str(tmp_path / "enrich_src")
    spark.read.parquet(f"{SF}/events.parquet").write.mode("overwrite").parquet(src)
    dim = spark.createDataFrame(
        [(i, f"tier-{i % 3}") for i in range(150)], "user_id long, tier string"
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(src)
    j = stream.join(F.broadcast(dim), "user_id").select("event_id", "user_id", "tier")
    q = j.writeStream.outputMode("append").format("memory").queryName("enrich_t").start()
    q.processAllAvailable()
    q.stop()
    key = ["event_id"]
    got = spark.table("enrich_t").toPandas().sort_values(key).reset_index(drop=True)
    want = (
        spark.read.parquet(src).join(dim, "user_id").select("event_id", "user_id", "tier")
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want)


def test_commit_minhash_bands_hot_band_cap(spark, tmp_path):
    """A giant exact-dup cluster collides in EVERY band; the cap keeps N
    representatives per (band, band_hash) — a skew valve for the ingest
    join — while a new dup still links into the cluster."""
    from docling_gfcr_spark.operators import dedup

    same = "the very same text repeated verbatim across the whole cluster"
    docs = spark.createDataFrame(
        [(i, same) for i in range(60)] + [(100, "something else entirely here")],
        "doc_id long, text string",
    )
    table = "cap_bands_t"
    dedup.commit_minhash_bands(
        docs, table, str(tmp_path / "bands"), n_hashes=8, bands=4, k=3,
        hash_fn="md5", hot_band_cap=3,
    )
    per_key = (
        spark.table(table).groupBy("band", "band_hash").count().toPandas()["count"]
    )
    assert per_key.max() <= 3  # capped everywhere
    newb = spark.createDataFrame([(200, same)], "doc_id long, text string")
    pairs = dedup.incremental_minhash_pairs(
        spark, table, newb, n_hashes=8, bands=4, k=3, hash_fn="md5"
    ).toPandas()
    # the new dup pairs with the representatives (not all 60 members)
    assert len(pairs) >= 1 and all(b == 200 for b in pairs.id_b)
    spark.sql(f"DROP TABLE IF EXISTS {table}")

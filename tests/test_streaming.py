"""Structured Streaming surface tests (file source -> memory sink, drained
synchronously with processAllAvailable)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from docling_gfcr_spark import pipeline, streaming, transcripts

SF = "/root/testdata/sf0.001"


def test_stream_extract_matches_batch(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    tdf = transcripts.make_transcripts(spark, 8, mean_turns=4, seed=3, parallelism=2)
    tdf.write.mode("overwrite").parquet(src)

    out = streaming.run_stream_to_memory(
        spark, streaming.stream_extract(spark, src), "stream_extract_t"
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


def test_windowed_event_counts_match_batch_bucketing(spark, tmp_path):
    src = str(tmp_path / "events_src")
    spark.read.parquet(f"{SF}/events.parquet").write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(streaming.EVENTS_SCHEMA).format("parquet").load(src)
    )
    agg = streaming.windowed_event_counts(stream, window="5 minutes")
    got = streaming.run_stream_to_memory(spark, agg, "stream_win_t").toPandas()

    batch = (
        spark.read.parquet(src)
        .groupBy(
            F.date_format(
                F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / 300) * 300),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .toPandas()
    )
    key = ["window_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, batch)


def test_stream_dedup_exact_drops_in_horizon_duplicates(spark, tmp_path):
    """Watermarked streaming dedup: duplicate payloads inside the watermark
    horizon are dropped; the survivor set matches batch exact-dedup."""
    src = str(tmp_path / "dedup_src")
    tdf = transcripts.make_transcripts(spark, 6, mean_turns=4, seed=5, parallelism=2)
    dup = tdf.limit(5)  # re-send five rows verbatim
    tdf.unionByName(dup).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(transcripts.SCHEMA).format("parquet").load(src)
    )
    out = streaming.run_stream_to_memory(
        spark, streaming.stream_dedup_exact(stream), "stream_dedup_t"
    )
    got = out.toPandas()
    n_distinct = tdf.select(F.md5("text")).distinct().count()
    assert len(got) == n_distinct
    assert got["text"].map(lambda t: t).nunique() == n_distinct


def test_stream_extract_durable_exactly_once(spark, tmp_path):
    """foreachBatch durable sink: two input waves -> per-batch partitioned
    data + lineage rows; totals match the input, no loss, no duplicates."""
    src = str(tmp_path / "durable_src")
    out_dir = str(tmp_path / "durable_out")
    ckpt = str(tmp_path / "durable_ckpt")
    import os

    os.makedirs(src, exist_ok=True)
    tdf = transcripts.make_transcripts(spark, 8, mean_turns=4, seed=6, parallelism=2).cache()
    half1 = tdf.where(F.col("turn_idx") % 2 == 0)
    half2 = tdf.where(F.col("turn_idx") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(src + "/w1")

    q = streaming.stream_extract_durable(spark, src + "/w*", out_dir, checkpoint_dir=ckpt)
    q.processAllAvailable()
    half2.coalesce(1).write.mode("overwrite").parquet(src + "/w2")
    q.processAllAvailable()
    q.stop()

    data = spark.read.parquet(out_dir + "/data")
    assert data.count() == tdf.count()
    assert data.select("conv_id", "turn_idx").distinct().count() == tdf.count()
    lin = spark.read.parquet(out_dir + "/lineage").toPandas()
    assert lin["n_turns"].sum() == tdf.count()
    assert (lin["status"] == "committed").all()
    # extracted text equals the batch pipeline's (stream == batch invariant)
    got = (
        data.select("conv_id", "turn_idx", "extracted_text")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    want = (
        pipeline.extract_turns(tdf, mode="agent")
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_stateful_turn_progress_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-conversation state across micro-batches:
    feed two file batches, assert totals accumulate."""
    src = str(tmp_path / "stateful_src")
    import os

    os.makedirs(src, exist_ok=True)
    tdf = transcripts.make_transcripts(spark, 6, mean_turns=5, seed=4, parallelism=2)
    half1 = tdf.where(F.col("turn_idx") % 2 == 0)
    half2 = tdf.where(F.col("turn_idx") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(src + "/b1")

    stream = (
        spark.readStream.schema(transcripts.SCHEMA).format("parquet").load(src + "/b*")
    )
    out = streaming.stateful_turn_progress(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_t")
        .start()
    )
    q.processAllAvailable()
    half2.coalesce(1).write.mode("overwrite").parquet(src + "/b2")
    q.processAllAvailable()
    q.stop()

    res = spark.table("stateful_t").toPandas()
    # last emission per conv must equal the full per-conv totals
    final = res.sort_values("n_batches").groupby("conv_id").last()
    want = tdf.groupBy("conv_id").count().toPandas().set_index("conv_id")["count"]
    for conv_id, row in final.iterrows():
        assert row.n_turns == want[conv_id], conv_id
        assert row.n_batches >= 2  # state genuinely crossed micro-batches
        assert row.max_turn_idx == want[conv_id] - 1  # dense turn ids


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

    stream = spark.readStream.schema(streaming.EVENTS_SCHEMA).format("parquet").load(src)
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


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Watermarked stream-stream inner join (clicks x errors, 10-min range
    condition): the drained streaming result must equal the identical plan
    on batch inputs."""
    src = str(tmp_path / "ssj_src")
    spark.read.parquet(f"{SF}/events.parquet").write.mode("overwrite").parquet(src)

    s = spark.readStream.schema(streaming.EVENTS_SCHEMA).format("parquet").load(src)
    j = streaming.clicks_with_error_within(
        s.where("event_type = 'click'"), s.where("event_type = 'error'"), horizon_s=600
    )
    q = j.writeStream.outputMode("append").format("memory").queryName("ssj_eq_t").start()
    q.processAllAvailable()
    q.stop()
    key = ["click_id", "error_id"]
    got = spark.table("ssj_eq_t").toPandas().sort_values(key).reset_index(drop=True)
    b = spark.read.parquet(src)
    want = (
        streaming.clicks_with_error_within(
            b.where("event_type = 'click'"), b.where("event_type = 'error'"), horizon_s=600
        )
        .toPandas().sort_values(key).reset_index(drop=True)
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
    stream = spark.readStream.schema(streaming.EVENTS_SCHEMA).format("parquet").load(src)
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


def test_stream_ingest_neardup_keep_first(spark, tmp_path):
    """Continuous near-dup ingest: batch docs duplicating committed docs (or
    smaller-id batch peers) are dropped; survivors land exactly-once under
    part_id=<batch_id> and their band keys join the committed index for the
    NEXT batch to dedup against."""
    import time

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()

    def txt():
        return " ".join(rng.choice(vocab, size=40))

    base1, base11 = txt(), txt()
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    b1 = {"doc_id": [1, 2, 3, 4, 5], "text": [base1, base1, txt(), txt(), txt()]}
    b2 = {"doc_id": [10, 11, 12], "text": [base1, base11, base11]}
    b3 = {"doc_id": [20, 21], "text": [base11, txt()]}
    pq.write_table(pa.table(b1), str(in_dir / "b1.parquet"))
    time.sleep(1.1)  # file-source ordering is by modification time
    pq.write_table(pa.table(b2), str(in_dir / "b2.parquet"))
    time.sleep(1.1)
    pq.write_table(pa.table(b3), str(in_dir / "b3.parquet"))

    table = "stream_neardup_bands_t"
    q = streaming.stream_ingest_neardup(
        spark,
        str(in_dir),
        table,
        str(tmp_path / "bands"),
        str(tmp_path / "out"),
        n_hashes=32,
        bands=8,
        k=3,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(str(tmp_path / "out")).toPandas()
    by_part = {
        int(p): sorted(int(i) for i in out[out.part_id == p].doc_id)
        for p in out.part_id.unique()
    }
    # batch 0: doc2 == doc1 -> keep-first drops 2
    assert by_part[0] == [1, 3, 4, 5]
    # batch 1: doc10 == committed doc1 -> dropped; doc12 == doc11 (in-batch,
    # keep-first) -> dropped; doc11 survives
    assert by_part[1] == [11]
    # batch 2: doc20 == doc11 committed by the PREVIOUS batch -> dropped
    # (pins the cross-batch index refresh: a stale relation cache would
    # miss it); doc21 survives
    assert by_part[2] == [21]
    # the committed index holds exactly the survivors
    idx_ids = {int(r.id) for r in spark.table(table).select("id").distinct().collect()}
    assert idx_ids == {1, 3, 4, 5, 11, 21}
    spark.sql(f"DROP TABLE IF EXISTS {table}")


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


def test_stream_ingest_semantic_keep_first(spark, tmp_path):
    """Continuous SEMANTIC ingest: batch docs whose token multiset matches a
    committed doc (word-REVERSED — MinHash-blind, cosine exactly 1.0) are
    dropped, committed keepers winning; survivors land exactly-once under
    part_id=<batch_id> and their embeddings join the committed index for
    the NEXT batch (pins the cross-batch index refresh). The codebook is
    trained on batch 0 and reused by every later batch."""
    import time

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def txt(i):
        return " ".join(f"s{i}_{j}" for j in range(20))

    def rev(t):
        return " ".join(reversed(t.split(" ")))

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # batch 0: doc2 = reversed doc1 (in-batch semantic dup)
    b1 = {"doc_id": [1, 2, 3, 4], "text": [txt(1), rev(txt(1)), txt(3), txt(4)]}
    # batch 1: doc10 = reversed committed doc3; doc11 fresh
    b2 = {"doc_id": [10, 11], "text": [rev(txt(3)), txt(11)]}
    # batch 2: doc20 = reversed doc11 (committed by the PREVIOUS batch)
    b3 = {"doc_id": [20, 21], "text": [rev(txt(11)), txt(21)]}
    pq.write_table(pa.table(b1), str(in_dir / "b1.parquet"))
    time.sleep(1.1)
    pq.write_table(pa.table(b2), str(in_dir / "b2.parquet"))
    time.sleep(1.1)
    pq.write_table(pa.table(b3), str(in_dir / "b3.parquet"))

    table = "stream_sem_idx_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    q = streaming.stream_ingest_semantic(
        spark,
        str(in_dir),
        table,
        str(tmp_path / "semidx"),
        str(tmp_path / "out"),
        dim=64,
        n_centroids=2,
        threshold=0.95,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(str(tmp_path / "out")).toPandas()
    by_part = {
        int(p): sorted(int(i) for i in out[out.part_id == p].doc_id)
        for p in out.part_id.unique()
    }
    import hashlib

    surr = lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
    # batch 0 in-batch pair (1, 2): keep-first by SURROGATE order
    keep0 = 1 if surr(1) < surr(2) else 2
    assert by_part[0] == sorted([keep0, 3, 4])
    # batch 1: doc10 duplicates COMMITTED doc3 -> dropped regardless of order
    assert by_part[1] == [11]
    # batch 2: doc20 duplicates doc11 committed by the previous batch
    assert by_part[2] == [21]
    # the kept-embedding index holds exactly the survivors
    idx = {int(r.id) for r in spark.table(table).select("id").distinct().collect()}
    assert idx == {keep0, 3, 4, 11, 21}
    # codebook persisted once, digest-stamped on the index
    from docling_gfcr_spark.operators import similarity

    cent = similarity.load_semantic_centroids(spark, str(tmp_path / "semidx_centroids"))
    assert cent.shape == (2, 64)
    props = {
        str(r.key): str(r.value)
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    assert props["semantic.centroids_md5"] == similarity.centroids_digest(cent)
    spark.sql(f"DROP TABLE IF EXISTS {table}")

"""Custom `transcripts` data source (Python DataSource V2 API)."""

from __future__ import annotations

import pandas as pd

from docling_gfcr_spark import transcripts
from docling_gfcr_spark.sources import register_transcripts_source


def test_datasource_equals_generator_at_any_parallelism(spark):
    register_transcripts_source(spark)
    want = (
        transcripts.make_transcripts(spark, 25, mean_turns=5, seed=11, parallelism=3)
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    for par in (1, 4, 16):
        got = (
            spark.read.format("transcripts")
            .option("n_conv", 25).option("mean_turns", 5).option("seed", 11)
            .option("parallelism", par).load()
            .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)


def test_streaming_datasource_micro_batches(spark, tmp_path):
    """readStream.format('transcripts'): the bounded replay stream emits the
    full corpus across micro-batches, equal to the batch source's rows."""
    register_transcripts_source(spark)
    stream = (
        spark.readStream.format("transcripts")
        .option("n_conv", 20).option("seed", 9).option("mean_turns", 4)
        .option("convs_per_batch", 6)
        .load()
    )
    q = (
        stream.writeStream.format("memory").queryName("tsrc_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.table("tsrc_t").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    want = (
        spark.read.format("transcripts")
        .option("n_conv", 20).option("seed", 9).option("mean_turns", 4).load()
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_streaming_datasource_checkpoint_restart_and_replay(spark, tmp_path):
    """Offsets survive restart: a second query on the same checkpoint
    continues where the first stopped (no loss, no duplicates), and
    readBetweenOffsets (the crash-recovery replay path Spark calls for a
    WAL-planned-but-uncommitted batch) returns exactly the offset range."""
    register_transcripts_source(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run(n_conv: int) -> None:
        q = (
            spark.readStream.format("transcripts")
            .option("n_conv", n_conv).option("seed", 4).option("mean_turns", 3)
            .option("convs_per_batch", 4).load()
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run(8)   # first run: convs 0..7
    run(16)  # restart same checkpoint: must continue at conv 8, not replay
    got = spark.read.parquet(out)
    want = transcripts.make_transcripts(spark, 16, mean_turns=3, seed=4, parallelism=2)
    assert got.count() == want.count()
    assert got.select("conv_id", "turn_idx").distinct().count() == want.count()

    # direct replay-path contract
    from docling_gfcr_spark.sources.transcripts_source import TranscriptsStreamReader

    r = TranscriptsStreamReader({"n_conv": "16", "seed": "4", "mean_turns": "3"})
    replay = list(r.readBetweenOffsets({"next_conv": 4}, {"next_conv": 8}))
    fresh, _ = r.read({"next_conv": 4})
    assert replay == list(fresh)[: len(replay)] or replay == list(r._rows(4, 8))


def test_datasource_filter_pushdown_prunes_generation(spark):
    """conv_id equality/range predicates push into the source (only the
    requested id-range is generated); unsupported predicates stay in Spark
    and results equal the unpruned where()."""
    from pyspark.sql import functions as F

    register_transcripts_source(spark)

    def src():
        return (
            spark.read.format("transcripts")
            .option("n_conv", 200).option("seed", 3).option("mean_turns", 4)
            .option("pushdown", "true").load()
        )

    full = src().toPandas()
    eq = src().where(F.col("conv_id") == "conv-00000007").toPandas()
    assert set(eq.conv_id) == {"conv-00000007"}
    assert len(eq) == (full.conv_id == "conv-00000007").sum()

    rng = src().where(
        (F.col("conv_id") >= "conv-00000100") & (F.col("conv_id") <= "conv-00000104")
    ).toPandas()
    assert sorted(set(rng.conv_id)) == [f"conv-{i:08d}" for i in range(100, 105)]

    # mixed: pushable range + unsupported predicate evaluated by Spark
    mixed = src().where(
        (F.col("conv_id") >= "conv-00000100")
        & (F.col("conv_id") <= "conv-00000104")
        & (F.col("tool") == "markdown")
    ).toPandas()
    want = full[
        (full.conv_id >= "conv-00000100")
        & (full.conv_id <= "conv-00000104")
        & (full.tool == "markdown")
    ]
    assert len(mixed) == len(want) and set(mixed.tool) <= {"markdown"}

    # NON-CANONICAL comparands must NOT be consumed: string order on padded
    # ids != integer order, so these must fall back to Spark evaluation and
    # match the unpruned where() exactly (code-review regression)
    for pred, pandas_mask in [
        (F.col("conv_id") == "conv-7", full.conv_id == "conv-7"),          # 0 rows
        (F.col("conv_id") >= "conv-4", full.conv_id >= "conv-4"),          # 0 rows
        (F.col("conv_id") <= "conv-4", full.conv_id <= "conv-4"),          # all rows
        (F.col("conv_id") <= "conv-000000041", full.conv_id <= "conv-000000041"),
    ]:
        got = src().where(pred).count()
        assert got == int(pandas_mask.sum()), pred

    # and pruning genuinely happens at the reader level
    from pyspark.sql.datasource import EqualTo

    from docling_gfcr_spark.sources.transcripts_source import PushdownTranscriptsReader

    r = PushdownTranscriptsReader({"n_conv": "200"})
    leftover = list(r.pushFilters([EqualTo(("conv_id",), "conv-00000007")]))
    assert leftover == [] and (r._lo, r._hi) == (7, 8)
    parts = r.partitions()
    assert len(parts) == 1 and (parts[0].start, parts[0].end) == (7, 8)
    # non-canonical: yielded back, range untouched
    r2 = PushdownTranscriptsReader({"n_conv": "200"})
    leftover2 = list(r2.pushFilters([EqualTo(("conv_id",), "conv-7")]))
    assert len(leftover2) == 1 and (r2._lo, r2._hi) == (0, 200)


def test_datasource_partition_count_and_pipeline_compose(spark):
    register_transcripts_source(spark)
    df = (
        spark.read.format("transcripts")
        .option("n_conv", 40).option("seed", 2).option("parallelism", 8).load()
    )
    assert df.rdd.getNumPartitions() == 8
    from docling_gfcr_spark import pipeline

    out = pipeline.extract_turns(df, mode="agent")
    assert out.where("success").count() > 0

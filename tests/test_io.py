from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_gfcr_spark import io, pipeline, transcripts


def test_check_stamp_refuses_names_and_adopts():
    """The one stamp comparison (no JVM): an equal stamp passes, a key
    stamped with another value raises naming the key, and a key the stamp
    lacks (absent or None) is handed back for the caller to adopt."""
    want = {"fingerprint": "12:345", "stage_chain": "extract|pack"}
    assert io.check_stamp(dict(want), want, "refused") == []
    with pytest.raises(ValueError, match="different input.*stage_chain='extract'"):
        io.check_stamp(
            {**want, "stage_chain": "extract"}, want, "different input"
        )
    assert io.check_stamp({"fingerprint": "12:345"}, want, "refused") == ["stage_chain"]
    assert io.check_stamp({"fingerprint": None}, want, "refused") == list(want)
    assert io.check_stamp({}, want, "refused") == list(want)


def test_validate_input_schema_accepts_generator(spark):
    tdf = transcripts.make_transcripts(spark, 3, seed=1, parallelism=1)
    assert io.validate_input_schema(tdf) is tdf


def test_validate_input_schema_rejects_with_diff(spark):
    bad = spark.createDataFrame([(1, "x")], "conv_id int, text string")
    with pytest.raises(TypeError) as e:
        io.validate_input_schema(bad)
    msg = str(e.value)
    assert "conv_id is int" in msg and "missing column turn_idx" in msg


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    tdf = transcripts.make_transcripts(spark, 40, seed=4, parallelism=4)
    ex = pipeline.extract_turns(tdf).select("conv_id", "turn_idx", "quality_score")
    io.write_bucketed(ex, "t_left", str(tmp_path / "l"), "conv_id", n_buckets=8)
    io.write_bucketed(
        ex.groupBy("conv_id").agg(F.count("*").alias("n")),
        "t_right",
        str(tmp_path / "r"),
        "conv_id",
        n_buckets=8,
    )
    joined = (
        spark.table("t_left")
        .join(spark.table("t_right").hint("merge"), "conv_id")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "bucketed join must be co-located (no shuffle)"
    assert joined.count() == ex.count()
    spark.sql("DROP TABLE IF EXISTS t_left")
    spark.sql("DROP TABLE IF EXISTS t_right")

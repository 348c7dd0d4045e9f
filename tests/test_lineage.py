"""Resume semantics: a killed job continues from the last committed partition
without reprocessing committed parts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_gfcr_spark import lineage, pipeline, transcripts


def test_crash_resume_no_reprocessing(spark, tmp_path):
    out = str(tmp_path / "job")
    tdf = transcripts.make_transcripts(spark, 24, mean_turns=4, seed=11, parallelism=4).cache()
    expected_total = tdf.count()

    with pytest.raises(RuntimeError, match="injected crash"):
        lineage.run_extraction_job(
            spark, tdf, out, n_parts=8, n_waves=4, run_id="run1", fail_after_wave=2
        )
    committed_after_crash = lineage.committed_parts(lineage.ParquetStorage(spark, out), 8)
    assert 0 < len(committed_after_crash) < 8

    # resume under a different hash scheme must refuse, not silently skip
    with pytest.raises(ValueError, match="n_parts"):
        lineage.run_extraction_job(spark, tdf, out, n_parts=16, n_waves=4)

    report = lineage.run_extraction_job(spark, tdf, out, n_parts=8, n_waves=4, run_id="run2")
    assert set(report["resumed_parts_skipped"]) == committed_after_crash
    assert set(report["parts_processed"]).isdisjoint(committed_after_crash)

    # every part committed exactly once, by the run that first completed it
    lin = lineage.read_lineage(spark, out).toPandas()
    assert sorted(lin["part_id"].tolist()) == list(range(8))
    assert set(lin[lin.part_id.isin(list(committed_after_crash))]["run_id"]) == {"run1"}

    # output is complete and row-exact: no loss, no duplicates
    data = lineage.read_extracted(spark, out)
    assert data.count() == expected_total
    assert data.select("conv_id", "turn_idx").distinct().count() == expected_total

    # lineage metrics agree with the data
    agg = data.groupBy("part_id").agg(F.count("*").alias("n")).toPandas().set_index("part_id")
    for _, row in lin.iterrows():
        n = agg["n"].get(row.part_id, 0)  # empty parts commit with n_turns=0
        assert n == row.n_turns


def test_part_id_stability(spark):
    tdf = transcripts.make_transcripts(spark, 10, mean_turns=3, seed=5, parallelism=2)
    a = lineage.with_part_id(tdf, 16).select("conv_id", "part_id").distinct().toPandas()
    b = lineage.with_part_id(tdf.repartition(7), 16).select("conv_id", "part_id").distinct().toPandas()
    assert a.sort_values("conv_id").reset_index(drop=True).equals(
        b.sort_values("conv_id").reset_index(drop=True)
    )


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_data_schema_equals_the_planned_schema(spark, ts_type):
    """The schema a job's data/ is read with, derived without planning the
    extraction, is the one with_part_id(extract_turns(df)) plans, for either
    timestamp type of the input."""
    tdf = transcripts.make_transcripts(spark, 2, mean_turns=2, seed=1, parallelism=1)
    tdf = tdf.withColumn("ts", F.col("ts").cast(ts_type))
    planned = lineage.with_part_id(pipeline.extract_turns(tdf), 8).schema
    assert lineage.data_schema(tdf.schema) == planned


def test_completed_job_is_noop_on_rerun(spark, tmp_path):
    out = str(tmp_path / "job2")
    tdf = transcripts.make_transcripts(spark, 6, mean_turns=3, seed=2, parallelism=2)
    lineage.run_extraction_job(spark, tdf, out, n_parts=4, n_waves=2, run_id="a")
    report = lineage.run_extraction_job(spark, tdf, out, n_parts=4, n_waves=2, run_id="b")
    assert report["parts_processed"] == []
    assert set(lineage.read_lineage(spark, out).toPandas()["run_id"]) == {"a"}


def test_extraction_resume_refuses_a_different_input(spark, tmp_path):
    """Committed part ids say nothing about which rows they hold: input B
    resumed into input A's output would skip every committed part and
    report success with none of B's rows written. The output is stamped
    with its input's fingerprint and a different input raises before any
    write; an output without a stamp is adopted by the same input."""
    out = tmp_path / "two_inputs"
    a = transcripts.make_transcripts(spark, 6, mean_turns=3, seed=1, parallelism=2)
    b = transcripts.make_transcripts(spark, 6, mean_turns=3, seed=2, parallelism=2)
    assert lineage.batch_fingerprint(a) != lineage.batch_fingerprint(b)
    lineage.run_extraction_job(spark, a, str(out), n_parts=4, n_waves=2, run_id="a")
    want = sorted(tuple(r) for r in lineage.read_extracted(spark, str(out)).collect())

    files = lambda: sorted(str(p) for p in out.rglob("*.parquet"))  # noqa: E731
    before = files()
    with pytest.raises(ValueError, match="different input"):
        lineage.run_extraction_job(spark, b, str(out), n_parts=4, n_waves=2, run_id="b")
    assert files() == before
    assert sorted(tuple(r) for r in lineage.read_extracted(spark, str(out)).collect()) == want

    # an unstamped dir (written before stamps existed) is adopted
    import shutil

    shutil.rmtree(out / "input_identity")
    r = lineage.run_extraction_job(spark, a, str(out), n_parts=4, n_waves=2, run_id="a2")
    assert r["parts_processed"] == []
    storage = lineage.ParquetStorage(spark, str(out))
    assert storage.read_input_fingerprint() == lineage.batch_fingerprint(a)
    with pytest.raises(ValueError, match="different input"):
        lineage.run_extraction_job(spark, b, str(out), n_parts=4, n_waves=2)


@pytest.mark.parametrize("n_parts,n_waves", [(0, 2), (-1, 2), (4, 0), (4, -3)])
def test_extraction_job_rejects_bad_partition_counts(spark, n_parts, n_waves):
    """n_waves < 1 would plan no waves and report success with nothing
    written; n_parts < 1 would make every part_id NULL. Both raise before
    the job touches storage (lineage read included)."""

    class UntouchableStorage:
        def __getattr__(self, name):
            raise AssertionError(f"storage.{name} touched before validation")

    tdf = transcripts.make_transcripts(spark, 2, mean_turns=2, seed=1, parallelism=1)
    with pytest.raises(ValueError, match="n_parts and n_waves must be >= 1"):
        lineage.run_extraction_job(
            spark, tdf, "unused", n_parts=n_parts, n_waves=n_waves,
            storage=UntouchableStorage(),
        )


def test_storage_interface_conformance(spark, tmp_path):
    """run_extraction_job drives storage ONLY through the ParquetStorage
    commit-protocol methods, so another storage layer is a constructor
    change, never a job change."""
    contract = [
        "overwrite_data_partitions",
        "append_lineage",
        "read_data",
        "read_lineage",
        "read_input_fingerprint",
        "stamp_input_fingerprint",
    ]

    # a recording proxy proves the job touches nothing outside the contract
    class RecordingStorage:
        def __init__(self, inner):
            self._inner = inner
            self.calls = []

        def __getattr__(self, name):
            if name.startswith("_"):
                raise AttributeError(name)
            attr = getattr(self._inner, name)
            if callable(attr):
                def wrapped(*a, **kw):
                    self.calls.append(name)
                    return attr(*a, **kw)
                return wrapped
            return attr

    out = str(tmp_path / "conformance")
    tdf = transcripts.make_transcripts(spark, 6, mean_turns=3, seed=3, parallelism=2)
    rec = RecordingStorage(lineage.ParquetStorage(spark, out))
    lineage.run_extraction_job(spark, tdf, out, n_parts=4, n_waves=2, storage=rec)
    assert set(rec.calls) == set(contract), set(rec.calls) ^ set(contract)


def test_spans_roundtrip_through_parquet(spark, tmp_path):
    """Nested array<struct> spans must survive the durable sink byte-exactly."""
    out = str(tmp_path / "spansjob")
    tdf = transcripts.make_transcripts(spark, 8, mean_turns=4, seed=13, parallelism=2)
    lineage.run_extraction_job(spark, tdf, out, n_parts=4, n_waves=2)
    direct = pipeline.extract_turns(tdf).select("conv_id", "turn_idx", "spans").toPandas()
    stored = (
        lineage.read_extracted(spark, out).select("conv_id", "turn_idx", "spans").toPandas()
    )
    key = ["conv_id", "turn_idx"]
    direct = direct.sort_values(key).reset_index(drop=True)
    stored = stored.sort_values(key).reset_index(drop=True)
    for a, b in zip(direct.spans, stored.spans):
        assert [tuple(x) for x in a] == [tuple(x) for x in b]


def test_tool_entry_envelope(spark, tmp_path):
    """EP2 tool envelope (jobs/tool_entry.py <- reference claude_tool.py):
    schema shape, required-param errors, success envelope with aliasing and
    return_content inlining — driven through run_tool (the stdin main() is a
    thin JSON wrapper over it)."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent / "jobs"))
    import tool_entry

    s = tool_entry.TOOL_SCHEMA
    assert s["input_schema"]["required"] == ["input", "output_dir"]
    assert "return_content" in s["input_schema"]["properties"]

    assert tool_entry.run_tool({})["success"] is False
    assert "input" in tool_entry.run_tool({})["error"]
    assert tool_entry.run_tool({"input": "/x"})["success"] is False
    # a malformed parameter is an error envelope, returned before Spark starts
    bad = tool_entry.run_tool({"input": "x", "output_dir": "y", "content_limit": "abc"})
    assert bad["success"] is False and "ValueError" in bad["error"], bad

    src = str(tmp_path / "tool_src")
    out = str(tmp_path / "tool_out")
    transcripts.make_transcripts(spark, 5, mean_turns=3, seed=9, parallelism=2).write.parquet(src)
    # run_tool owns its own session lifecycle; the module-scoped fixture
    # session survives because get_spark returns the active one and .stop()
    # ends it -- so run in a subprocess to keep the fixture session alive
    import json as _json
    import subprocess

    proc = subprocess.run(
        [sys.executable, str(__import__("pathlib").Path(__file__).parent.parent / "jobs" / "tool_entry.py")],
        input=_json.dumps({"input": src, "output_dir": out, "return_content": True,
                           "content_limit": 5, "n_parts": 4, "local_cores": 2}),
        capture_output=True, text=True, timeout=600,
    )
    resp = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert resp["success"] is True, resp
    assert resp["conversion_method"] == "spark_pipeline"
    assert resp["n_turns"] > 0 and len(resp["content"]) == 5
    # n_turns comes from the committed lineage rows, not from data/ itself
    assert resp["n_turns"] == spark.read.parquet(f"{out}/data").count()
    assert {"conv_id", "turn_idx", "method", "extracted_text"} <= set(resp["content"][0])
    # bad stdin JSON -> error envelope, not a traceback
    proc2 = subprocess.run(
        [sys.executable, str(__import__("pathlib").Path(__file__).parent.parent / "jobs" / "tool_entry.py")],
        input="{not json", capture_output=True, text=True, timeout=120,
    )
    resp2 = _json.loads(proc2.stdout.strip().splitlines()[-1])
    assert resp2["success"] is False and "invalid JSON" in resp2["error"]


def test_resume_refuses_unreadable_lineage(spark, tmp_path):
    """A lineage table that exists but cannot be read fails the resume. Read
    as 'first run', it would re-extract every committed part and skip the
    n_parts refusal in committed_parts."""
    out = tmp_path / "corrupt"
    tdf = transcripts.make_transcripts(spark, 12, mean_turns=3, seed=41, parallelism=2)
    lineage.run_extraction_job(spark, tdf, str(out), n_parts=4, n_waves=2)
    lineage_files = list((out / "lineage").glob("*.parquet"))
    assert lineage_files
    for f in lineage_files:
        with open(f, "r+b") as fh:
            fh.truncate(8)  # no footer left

    def snapshot():
        return {
            str(p.relative_to(out)): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in (out / "data").rglob("*")
        }

    before = snapshot()
    with pytest.raises(Exception) as err:
        lineage.run_extraction_job(spark, tdf, str(out), n_parts=8, n_waves=2)
    assert not isinstance(err.value, ValueError)  # the read failed, not the n_parts check
    assert snapshot() == before


def test_resume_refuses_lineage_without_n_parts(spark, tmp_path):
    """A lineage table written before n_parts was recorded cannot have its
    part ids checked against this run's hash scheme, so resuming it raises
    rather than trusting them."""
    out = str(tmp_path / "legacy")
    legacy = "run_id string, part_id int, status string, n_turns long, committed_at double"
    spark.createDataFrame([("old", 0, "committed", 3, 0.0)], legacy).write.parquet(
        f"{out}/lineage"
    )
    with pytest.raises(ValueError, match="predates n_parts tracking"):
        lineage.committed_parts(lineage.ParquetStorage(spark, out), 4)


# ---------------------------------------------------------------------------
# composed corpus-build job (jobs/corpus_build.py) — stage-level resume
# ---------------------------------------------------------------------------


def test_corpus_build_stage_resume_and_idempotence(spark, tmp_path, monkeypatch):
    """The composed extract->dedup->decontaminate->scrub->mix->pack job:
    run1 crashes after dedup_exact; run2 must skip exactly the committed
    stages and finish; a third run with everything committed is a no-op
    that still reports the packed table. Each run fingerprints its input
    once (a full scan), shared by the build and its extraction stage. (The
    VALUE check — per-stage counts + packed digest vs a pure-Python/DuckDB
    replay — is the corpus_build_end_to_end driver-gate query.)"""
    from jobs import corpus_build

    fingerprints = []
    real_fingerprint = lineage.batch_fingerprint

    def counting_fingerprint(df):
        fingerprints.append(1)
        return real_fingerprint(df)

    monkeypatch.setattr(lineage, "batch_fingerprint", counting_fingerprint)
    out = str(tmp_path / "cbuild")
    tdf = transcripts.make_transcripts(spark, 12, mean_turns=4, seed=21, parallelism=2)
    held = spark.createDataFrame([("no overlap with anything here at all ok",)], "text string")
    kwargs = dict(n_parts=2, n_waves=1, mode="cli", pack_budget=1024)
    with pytest.raises(RuntimeError, match="injected crash"):
        corpus_build.run_corpus_build(
            spark, tdf, held, out, run_id="r1", fail_after_stage="dedup_exact", **kwargs
        )
    assert len(fingerprints) == 1  # the run that ran extraction too
    r2 = corpus_build.run_corpus_build(spark, tdf, held, out, run_id="r2", **kwargs)
    assert r2["stages_skipped_on_resume"] == ["extract", "assemble", "dedup_exact"]
    assert r2["stages_run"] == ["dedup_near", "decontaminate", "scrub", "mix", "pack"]
    assert r2["packed_rows"] > 0
    # fully-committed rerun: nothing recomputed, same packed table
    r3 = corpus_build.run_corpus_build(spark, tdf, held, out, run_id="r3", **kwargs)
    assert len(fingerprints) == 3
    assert r3["stages_run"] == []
    assert len(r3["stages_skipped_on_resume"]) == len(corpus_build.STAGES)
    assert r3["packed_rows"] == r2["packed_rows"]
    # every stage has exactly one committed lineage row, in stage order
    lin = corpus_build.read_stage_lineage(spark, out).toPandas()
    assert sorted(lin.stage) == sorted(corpus_build.STAGES)
    assert set(lin.status) == {"committed"}
    # unknown crash stage refuses up front
    with pytest.raises(ValueError, match="unknown stage"):
        corpus_build.run_corpus_build(
            spark, tdf, held, out, fail_after_stage="nope", **kwargs
        )


def test_corpus_ingest_incremental_dedup_and_resume(spark, tmp_path):
    """The daily-ingest twin: batch 1 bootstraps the band index (an
    internal exact dup resolves keep-first), batch 2 dedups incrementally
    against the COMMITTED index (a doc duplicating a day-1 conversation is
    dropped without recomputing day 1), survives an injected crash at the
    dedup_incr stage, and grows the index by exactly the survivors' band
    keys. A mismatched-minhash ingest refuses before mining."""
    from jobs import corpus_build

    band_table = "t_ingest_bands"
    band_path = str(tmp_path / "bands")
    spark.sql(f"DROP TABLE IF EXISTS {band_table}")
    held = spark.createDataFrame([("zz qq ww no overlap at all here really",)], "text string")
    kwargs = dict(n_parts=2, n_waves=1, mode="cli", pack_budget=1024)

    # batch 1 (bootstrap): 8 convs + one whole-conversation copy
    b1 = transcripts.make_transcripts(spark, 8, mean_turns=4, seed=31, parallelism=2)
    cp = b1.where(F.col("conv_id") == "conv-00000001").withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-copy"))
    )
    out1 = str(tmp_path / "day1")
    corpus_build.run_corpus_ingest(
        spark, b1.unionByName(cp), held, out1, band_table, band_path,
        run_id="d1", bootstrap=True, **kwargs,
    )
    surv1 = spark.read.parquet(corpus_build.stage_dir(out1, "dedup_incr"))
    ids1 = {r.conv_id for r in surv1.select("conv_id").collect()}
    assert "conv-00000001" in ids1 and "conv-00000001-copy" not in ids1
    assert spark.table(band_table).count() == 8 * len(ids1)  # bands=8 per doc

    # a missing index without bootstrap refuses (mistyped table name)
    with pytest.raises(ValueError, match="does not exist"):
        corpus_build.run_corpus_ingest(
            spark, b1, held, str(tmp_path / "dayx"), "t_ingest_nope",
            str(tmp_path / "nope"), **kwargs,
        )

    # batch 2: one doc duplicating a COMMITTED day-1 conversation (cli-mode
    # extraction is name-independent -> identical text -> collides in every
    # band) + two genuinely fresh convs; crash injected after dedup_incr
    dup = b1.where(F.col("conv_id") == "conv-00000002").withColumn(
        "conv_id", F.lit("conv-d2-dup")
    )
    fresh = transcripts.make_transcripts(
        spark, 2, mean_turns=4, seed=77, parallelism=2
    ).withColumn("conv_id", F.concat(F.lit("d2-"), F.col("conv_id")))
    out2 = str(tmp_path / "day2")
    with pytest.raises(RuntimeError, match="injected crash"):
        corpus_build.run_corpus_ingest(
            spark, dup.unionByName(fresh), held, out2, band_table, band_path,
            run_id="d2", fail_after_stage="dedup_incr", **kwargs,
        )
    r2 = corpus_build.run_corpus_ingest(
        spark, dup.unionByName(fresh), held, out2, band_table, band_path,
        run_id="d2b", **kwargs,
    )
    assert r2["stages_skipped_on_resume"] == [
        "extract", "assemble", "dedup_exact", "dedup_incr"
    ]
    surv2 = spark.read.parquet(corpus_build.stage_dir(out2, "dedup_incr"))
    ids2 = {r.conv_id for r in surv2.select("conv_id").collect()}
    assert "conv-d2-dup" not in ids2
    assert ids2 == {"d2-conv-00000000", "d2-conv-00000001"}
    # the index grew by exactly the survivors' keys — the crashed run's
    # append committed with the stage, the resumed run did not re-append
    assert spark.table(band_table).count() == 8 * (len(ids1) + len(ids2))
    assert r2["packed_rows"] > 0

    # mismatched minhash params vs the committed index: refuse, don't
    # silently dedup against nothing (unseen ids so the id-collision guard,
    # which runs first, stays quiet)
    fresh3 = transcripts.make_transcripts(
        spark, 1, mean_turns=3, seed=78, parallelism=1
    ).withColumn("conv_id", F.concat(F.lit("d3-"), F.col("conv_id")))
    with pytest.raises(ValueError, match="incomparable"):
        corpus_build.run_corpus_ingest(
            spark, fresh3, held, str(tmp_path / "day3"), band_table, band_path,
            minhash=(16, 4, 5, "md5"), **kwargs,
        )

    # double-ingesting a committed batch (fresh out_dir, same ids) must
    # refuse — its docs pair only with their own committed copies and
    # self-pairs are excluded, so without the guard every doc commits twice
    with pytest.raises(ValueError, match="already committed"):
        corpus_build.run_corpus_ingest(
            spark, dup.unionByName(fresh), held, str(tmp_path / "day2dup"),
            band_table, band_path, run_id="d2c", **kwargs,
        )
    spark.sql(f"DROP TABLE IF EXISTS {band_table}")


def test_corpus_ingest_append_crash_escape_hatch(spark, tmp_path):
    """The documented recovery path for a crash BETWEEN the band append and
    the dedup_incr stage commit: the guard refuses the plain resume (the
    batch's own ids are in the index), check_id_collision=False resumes,
    and the batch's docs are NOT dropped as duplicates of their own
    crashed-append copies (self-pairs are excluded by id inequality)."""
    from docling_gfcr_spark.operators import dedup
    from jobs import corpus_build

    band_table = "t_ingest_bands_eh"
    band_path = str(tmp_path / "bands")
    spark.sql(f"DROP TABLE IF EXISTS {band_table}")
    held = spark.createDataFrame([("zz qq ww no overlap at all here really",)], "text string")
    kwargs = dict(n_parts=2, n_waves=1, mode="cli", pack_budget=1024)

    b1 = transcripts.make_transcripts(spark, 4, mean_turns=3, seed=41, parallelism=2)
    corpus_build.run_corpus_ingest(
        spark, b1, held, str(tmp_path / "day1"), band_table, band_path,
        run_id="d1", bootstrap=True, **kwargs,
    )

    b2 = transcripts.make_transcripts(
        spark, 2, mean_turns=3, seed=91, parallelism=2
    ).withColumn("conv_id", F.concat(F.lit("eh-"), F.col("conv_id")))
    out2 = str(tmp_path / "day2")
    # crash after dedup_exact: dedup_incr did NOT commit...
    with pytest.raises(RuntimeError, match="injected crash"):
        corpus_build.run_corpus_ingest(
            spark, b2, held, out2, band_table, band_path,
            run_id="d2", fail_after_stage="dedup_exact", **kwargs,
        )
    # ...but simulate its band append having landed before the crash
    docs2 = spark.read.parquet(corpus_build.stage_dir(out2, "dedup_exact"))
    dedup.commit_minhash_bands(
        docs2.select(F.col("conv_id").alias("doc_id"), F.col("conv_text").alias("text")),
        band_table, band_path, mode="append",
    )
    spark.catalog.refreshTable(band_table)

    # the plain resume refuses (and refuses FAST: before re-extraction)
    with pytest.raises(ValueError, match="already committed"):
        corpus_build.run_corpus_ingest(
            spark, b2, held, out2, band_table, band_path, run_id="d2b", **kwargs,
        )
    # the documented escape hatch completes and keeps the batch's docs
    r = corpus_build.run_corpus_ingest(
        spark, b2, held, out2, band_table, band_path, run_id="d2c",
        check_id_collision=False, **kwargs,
    )
    surv = spark.read.parquet(corpus_build.stage_dir(out2, "dedup_incr"))
    ids = {row.conv_id for row in surv.select("conv_id").collect()}
    assert ids == {"eh-conv-00000000", "eh-conv-00000001"}
    assert "dedup_incr" in r["stages_run"]
    spark.sql(f"DROP TABLE IF EXISTS {band_table}")


def test_extraction_job_survives_all_empty_first_wave(spark, tmp_path):
    """A sparse corpus vs a large n_parts can make the FIRST wave's parts
    all empty: nothing is written, the data dir does not exist yet, and the
    wave's metrics read must degrade to zero rows instead of failing the
    job (hit via the corpus_build CLI with default n_parts=4096)."""
    out = str(tmp_path / "sparse")
    tdf = transcripts.make_transcripts(spark, 3, mean_turns=3, seed=5, parallelism=2)
    report = lineage.run_extraction_job(spark, tdf, out, n_parts=256, n_waves=16)
    assert len(report["parts_processed"]) == 256
    lin = lineage.read_lineage(spark, out)
    assert lin.where(F.col("status") == "committed").count() == 256
    # every turn still extracted exactly once
    data = lineage.read_extracted(spark, out)
    assert data.count() == tdf.count()
    # resume is a no-op
    r2 = lineage.run_extraction_job(spark, tdf, out, n_parts=256, n_waves=16)
    assert r2["parts_processed"] == []


# ---------------------------------------------------------------------------
# crash matrix: EVERY stage boundary, BOTH crash windows, both composed jobs
# ---------------------------------------------------------------------------


def _packed_rows(spark, out):
    from jobs import corpus_build

    df = spark.read.parquet(corpus_build.stage_dir(out, "pack"))
    return sorted(tuple(r) for r in df.collect())


def _assert_n_out_matches_files(spark, out, stages):
    """Every committed stage's lineage n_out equals a count of the rows its
    directory holds."""
    from jobs import corpus_build

    n_out = {r.stage: r.n_out for r in corpus_build.read_stage_lineage(spark, out).collect()}
    assert set(n_out) == set(stages)
    for s in stages:
        d = corpus_build.stage_dir(out, s)
        n = (lineage.read_extracted(spark, d) if s == "extract" else spark.read.parquet(d)).count()
        assert n_out[s] == n, (out, s, n_out[s], n)


def _matrix_input(spark, n, seed):
    """Small corpus with a planted whole-conversation exact dup so the dedup
    stages do real work across the crash walk (cli mode: extraction is
    name-independent, so the copy collides byte-for-byte)."""
    tdf = transcripts.make_transcripts(spark, n, mean_turns=3, seed=seed, parallelism=2)
    cp = tdf.where(F.col("conv_id") == "conv-00000001").withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-copy"))
    )
    return tdf.unionByName(cp)


def test_corpus_build_crash_matrix_every_boundary(spark, tmp_path):
    """Fault-inject EVERY stage boundary of the composed build in BOTH crash
    windows — after a stage's lineage commit, and the worst window (stage
    data landed, lineage row missing) — as a chained walk: each invocation
    resumes from the previous crash and crashes at the next boundary, so
    every boundary gets both a crash and a resume. After each crash the
    committed-stage set must be exactly the expected prefix; the final
    packed rows must equal the no-crash run's, value for value."""
    from jobs import corpus_build

    tdf = _matrix_input(spark, 10, seed=51)
    held = spark.createDataFrame([("nothing overlaps here at all",)], "text string")
    kwargs = dict(n_parts=2, n_waves=1, mode="cli", pack_budget=1024)

    base = str(tmp_path / "base")
    corpus_build.run_corpus_build(spark, tdf, held, base, run_id="base", **kwargs)
    want = _packed_rows(spark, base)
    assert want

    for window in ("fail_after_stage", "fail_before_commit_stage"):
        out = str(tmp_path / window)
        for i, stage in enumerate(corpus_build.STAGES):
            with pytest.raises(RuntimeError, match="injected crash"):
                corpus_build.run_corpus_build(
                    spark, tdf, held, out, run_id=f"w{i}", **{window: stage}, **kwargs
                )
            committed = set(corpus_build.committed_stages(spark, out))
            n_done = i + 1 if window == "fail_after_stage" else i
            assert committed == set(corpus_build.STAGES[:n_done]), (window, stage)
        corpus_build.run_corpus_build(spark, tdf, held, out, run_id="fin", **kwargs)
        assert _packed_rows(spark, out) == want, window
        # exactly one committed lineage row per stage — no double commits
        lin = corpus_build.read_stage_lineage(spark, out).toPandas()
        assert sorted(lin.stage) == sorted(corpus_build.STAGES), window
        assert set(lin.status) == {"committed"}
        # each row was committed by a different run of the walk
        _assert_n_out_matches_files(spark, out, corpus_build.STAGES)


def test_corpus_ingest_crash_matrix_every_boundary(spark, tmp_path):
    """Same matrix for the daily-ingest twin, whose dedup_incr stage has a
    SIDE EFFECT (the band-index append) inside the crash window: a crash
    before that stage's commit leaves the batch's own band keys in the
    index, the plain resume must REFUSE (id-collision guard), the
    documented check_id_collision=False hatch must complete, and the
    at-least-once append must leave the DISTINCT index identical to the
    no-crash run's."""
    from jobs import corpus_build

    batch = _matrix_input(spark, 8, seed=61)
    held = spark.createDataFrame([("zz qq ww no overlap at all here really",)], "text string")
    kwargs = dict(n_parts=2, n_waves=1, mode="cli", pack_budget=1024)

    def run(out, table, path, **kw):
        return corpus_build.run_corpus_ingest(
            spark, batch, held, out, table, path, bootstrap=True, **kw, **kwargs
        )

    spark.sql("DROP TABLE IF EXISTS t_cm_base")
    run(str(tmp_path / "base"), "t_cm_base", str(tmp_path / "bands_base"), run_id="base")
    want = _packed_rows(spark, str(tmp_path / "base"))
    assert want
    base_bands = sorted(tuple(r) for r in spark.table("t_cm_base").distinct().collect())

    incr_idx = corpus_build.INGEST_STAGES.index("dedup_incr")
    for window in ("fail_after_stage", "fail_before_commit_stage"):
        table = {"fail_after_stage": "t_cm_after", "fail_before_commit_stage": "t_cm_before"}[window]
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        path = str(tmp_path / f"bands_{table}")
        out = str(tmp_path / window)
        for i, stage in enumerate(corpus_build.INGEST_STAGES):
            # the one boundary where the resume legitimately sees its own
            # ids in the index: crash landed the append but not the commit
            need_hatch = window == "fail_before_commit_stage" and i == incr_idx + 1
            if need_hatch:
                with pytest.raises(ValueError, match="already committed"):
                    run(out, table, path, run_id=f"g{i}", **{window: stage})
            with pytest.raises(RuntimeError, match="injected crash"):
                run(
                    out, table, path, run_id=f"w{i}",
                    check_id_collision=not need_hatch, **{window: stage},
                )
            committed = set(corpus_build.committed_stages(spark, out))
            n_done = i + 1 if window == "fail_after_stage" else i
            assert committed == set(corpus_build.INGEST_STAGES[:n_done]), (window, stage)
        run(out, table, path, run_id="fin")
        assert _packed_rows(spark, out) == want, window
        _assert_n_out_matches_files(spark, out, corpus_build.INGEST_STAGES)
        # duplicate band rows (at-least-once append) never change the index
        # CONTENT: distinct rows match the no-crash index exactly
        got_bands = sorted(tuple(r) for r in spark.table(table).distinct().collect())
        assert got_bands == base_bands, window
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql("DROP TABLE IF EXISTS t_cm_base")


def test_stage_publish_job_budget(spark, tmp_path, monkeypatch):
    """One stage publish costs two Spark jobs: the data write, whose row
    count is observed as it runs, and the lineage append. A re-read count
    after the write (schema inference + count) would add jobs. A lineage
    frame built from a Python list would not add a job, but its write
    would start Python workers (~1.3 CPU-s per commit): every such frame,
    and a pandas frame that silently falls back from Arrow, goes through
    SparkContext.parallelize, which is made to fail here."""
    import uuid

    from pyspark import SparkContext
    from pyspark.sql.types import StructType

    from jobs import corpus_build

    def python_rdd(*a, **kw):
        raise AssertionError("a driver-built frame went through a Python RDD")

    monkeypatch.setattr(SparkContext, "parallelize", python_rdd)
    out = str(tmp_path / "budget")
    r = corpus_build._StageRunner(spark, out, "budget", corpus_build.STAGES, None)
    docs = spark.range(40).select(
        F.format_string("conv-%d", "id").alias("conv_id"), (F.col("id") % 3).alias("n")
    )
    sc = spark.sparkContext
    group = f"publish-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one stage publish")
    try:
        r.publish("assemble", docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2

    d = corpus_build.stage_dir(out, "assemble")
    assert r.n_out == {"assemble": 40}
    assert spark.read.parquet(d).count() == 40
    # the next stage's read uses the written schema, equal to inference
    assert r.read("assemble").schema == spark.read.parquet(d).schema
    lin = corpus_build.read_stage_lineage(spark, out)
    assert lin.schema == StructType.fromDDL(corpus_build.STAGE_LINEAGE_SCHEMA)
    row = lin.collect()[0]
    assert (row.run_id, row.stage, row.stage_idx, row.status, row.n_out) == (
        "budget", "assemble", 1, "committed", 40
    )


def test_extraction_wave_job_budget(spark, tmp_path, monkeypatch):
    """A two-wave extraction on a fresh dir runs 11 Spark jobs: the input
    stamp, then per wave the data write (shuffle map + write), the per-part
    metrics collect (shuffle map + result) and the lineage append. Reading
    the wave's files back with inferred schema adds one footer-inference
    job per wave (13). Every driver-built frame (stamp, lineage rows) must
    take the Arrow path: SparkContext.parallelize is made to fail."""
    import uuid

    from pyspark import SparkContext

    tdf = transcripts.make_transcripts(spark, 12, mean_turns=3, seed=21, parallelism=2)
    fingerprint = lineage.batch_fingerprint(tdf)

    def python_rdd(*a, **kw):
        raise AssertionError("a driver-built frame went through a Python RDD")

    monkeypatch.setattr(SparkContext, "parallelize", python_rdd)
    out = str(tmp_path / "waves")
    sc = spark.sparkContext
    group = f"wave-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "two-wave extraction")
    try:
        lineage.run_extraction_job(
            spark, tdf, out, n_parts=8, n_waves=2, run_id="budget",
            input_fingerprint=fingerprint,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 11
    monkeypatch.undo()

    lin = lineage.read_lineage(spark, out).toPandas().set_index("part_id")
    assert sorted(lin.index) == list(range(8))
    got = lineage.read_extracted(spark, out).groupBy("part_id").agg(
        F.count("*").alias("n"), F.sum("n_nodes").alias("nodes")
    ).toPandas().set_index("part_id")
    for p, row in lin.iterrows():
        assert row.n_turns == got["n"].get(p, 0)
        assert row.nodes_classified == got["nodes"].get(p, 0)


_RETRY_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[2])
from pyspark import TaskContext
from pyspark.sql import functions as F
from docling_gfcr_spark.session import get_spark
from jobs import corpus_build

# local[2,2]: two cores, and a failed task gets one retry
spark = get_spark(app_name="publish_retry", cores=2,
                  extra_conf={"spark.master": "local[2,2]"})

@F.udf("long")
def fail_first_attempt(x):
    # partition 0 (ids 0..999) dies on its LAST row, after the rows before
    # it have crossed the observed count
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0 and x == 999:
        raise RuntimeError("injected first-attempt failure")
    return x

out = sys.argv[1]
r = corpus_build._StageRunner(spark, out, "retry", corpus_build.STAGES, None)
docs = spark.range(0, 2000, 1, 2).select(
    F.format_string("conv-%d", "id").alias("conv_id"), fail_first_attempt("id").alias("n")
)
sc = spark.sparkContext
sc.setJobGroup("publish-retry", "publish with a failed task attempt")
r.publish("assemble", docs)
failed = sum(
    sc.statusTracker().getStageInfo(st).numFailedTasks
    for j in sc.statusTracker().getJobIdsForGroup("publish-retry")
    for st in sc.statusTracker().getJobInfo(j).stageIds
)
lin = corpus_build.read_stage_lineage(spark, out).collect()
print(json.dumps({
    "failed_tasks": failed,
    "n_out": [row.n_out for row in lin],
    "reread": spark.read.parquet(corpus_build.stage_dir(out, "assemble")).count(),
}))
spark.stop()
"""


def test_stage_publish_n_out_survives_task_retry(tmp_path):
    """A write task whose first attempt fails after counting rows is
    retried; the observed n_out must count the successful attempt only and
    equal a re-read of the files. The shared session runs local[8] with no
    task retries, so this runs in its own local[2,2] session."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    script = tmp_path / "publish_retry.py"
    script.write_text(_RETRY_SCRIPT)
    root = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "out"), str(root)],
        capture_output=True, text=True, timeout=600, cwd=root,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["failed_tasks"] >= 1, got
    assert got == {"failed_tasks": got["failed_tasks"], "n_out": [2000], "reread": 2000}


def test_corpus_jobs_refuse_reused_output_for_new_batch(spark, tmp_path):
    """Reusing a completed run's --output for a NEW batch must refuse, not
    silently no-op: every stage reads as committed, so the new batch's docs
    would never enter the corpus (or, in ingest mode, the band index) while
    the run returns a success-shaped report. The same batch resumes fine."""
    from jobs import corpus_build

    held = spark.createDataFrame([("no overlap here at all",)], "text string")
    kwargs = dict(n_parts=2, n_waves=1, mode="cli", pack_budget=1024)
    b1 = transcripts.make_transcripts(spark, 4, mean_turns=3, seed=71, parallelism=2)
    b2 = transcripts.make_transcripts(spark, 4, mean_turns=3, seed=72, parallelism=2).withColumn(
        "conv_id", F.concat(F.lit("n-"), F.col("conv_id"))
    )

    out = str(tmp_path / "build")
    corpus_build.run_corpus_build(spark, b1, held, out, run_id="r1", **kwargs)
    r = corpus_build.run_corpus_build(spark, b1, held, out, run_id="r2", **kwargs)
    assert r["stages_run"] == []  # same batch: benign no-op resume
    with pytest.raises(ValueError, match="different input batch"):
        corpus_build.run_corpus_build(spark, b2, held, out, run_id="r3", **kwargs)

    band_table, band_path = "t_reuse_bands", str(tmp_path / "bands")
    spark.sql(f"DROP TABLE IF EXISTS {band_table}")
    out_i = str(tmp_path / "ingest")
    corpus_build.run_corpus_ingest(
        spark, b1, held, out_i, band_table, band_path, run_id="d1", bootstrap=True, **kwargs
    )
    n_bands = spark.table(band_table).count()
    # the id-collision guard CANNOT catch this (fresh ids, dedup_incr done);
    # the batch fingerprint must
    with pytest.raises(ValueError, match="different input batch"):
        corpus_build.run_corpus_ingest(
            spark, b2, held, out_i, band_table, band_path, run_id="d2", **kwargs
        )
    assert spark.table(band_table).count() == n_bands  # index untouched
    spark.sql(f"DROP TABLE IF EXISTS {band_table}")


def test_is_missing_input_classification():
    """Missing-input classification prefers the structured condition and
    falls back to message matching (pre-getCondition builds); non-missing
    analysis errors and non-AnalysisExceptions never classify as missing."""
    from pyspark.errors import AnalysisException

    assert lineage.is_missing_input(
        AnalysisException("[PATH_NOT_FOUND] Path does not exist: /nope")
    )
    assert lineage.is_missing_input(AnalysisException("Path does not exist: /nope"))
    assert not lineage.is_missing_input(AnalysisException("permission denied: /secret"))
    assert not lineage.is_missing_input(ValueError("PATH_NOT_FOUND"))


def test_read_stage_lineage_propagates_non_missing_failures(spark, tmp_path, monkeypatch):
    """Only a MISSING lineage dir may mean 'first run'; a transient read
    failure must propagate — swallowing it would restart every stage with
    overwrite (in ingest mode: a replayed band append without any crash)."""
    from pyspark.errors import AnalysisException

    from jobs import corpus_build

    out = str(tmp_path / "job")
    assert corpus_build.read_stage_lineage(spark, out) is None  # truly missing

    real_reader = spark.read

    class _FailingRead:
        def schema(self, schema):
            return self

        def parquet(self, path):
            raise AnalysisException("permission denied: " + path)

    monkeypatch.setattr(type(spark), "read", property(lambda self: _FailingRead()))
    try:
        with pytest.raises(AnalysisException, match="permission denied"):
            corpus_build.read_stage_lineage(spark, out)
    finally:
        monkeypatch.undo()
    assert real_reader is not None


def test_corpus_build_semantic_stage_crash_windows_and_chain_guard(spark, tmp_path):
    """The optional dedup_semantic stage under the same resume discipline as
    the rest of the chain: crash at BOTH windows on its boundary, resume,
    and the final packed rows must equal the no-crash semantic run's. The
    stage must drop a planted word-REVERSED conversation that MinHash missed
    (disjoint shingles), and the stamped stage chain must refuse a resume
    with a different ``semantic`` setting in EITHER direction."""
    from jobs import corpus_build

    tdf = _matrix_input(spark, 8, seed=81)
    rows = []
    for cid in ("sem-orig-000", "sem-perm-000"):
        for t in range(3):
            words = [f"sw{t}_{j}" for j in range(18)]
            txt = " ".join(words if cid == "sem-orig-000" else list(reversed(words)))
            rows.append((cid, t, "user", txt, "plain", None))
    tdf = tdf.unionByName(
        spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
    )
    held = spark.createDataFrame([("nothing overlaps here at all",)], "text string")
    kwargs = dict(
        n_parts=2, n_waves=1, mode="cli", pack_budget=1024, semantic=(64, 4, 0.95)
    )

    base = str(tmp_path / "base")
    corpus_build.run_corpus_build(spark, tdf, held, base, run_id="base", **kwargs)
    want = _packed_rows(spark, base)
    near = {
        r.conv_id
        for r in spark.read.parquet(
            corpus_build.stage_dir(base, "dedup_near")
        ).select("conv_id").collect()
    }
    sem = {
        r.conv_id
        for r in spark.read.parquet(
            corpus_build.stage_dir(base, "dedup_semantic")
        ).select("conv_id").collect()
    }
    assert {"sem-orig-000", "sem-perm-000"} <= near  # MinHash-blind pair
    assert len(sem & {"sem-orig-000", "sem-perm-000"}) == 1  # semantic catches it

    for window in ("fail_after_stage", "fail_before_commit_stage"):
        out = str(tmp_path / window)
        with pytest.raises(RuntimeError, match="injected crash"):
            corpus_build.run_corpus_build(
                spark, tdf, held, out, run_id="w", **{window: "dedup_semantic"}, **kwargs
            )
        committed = set(corpus_build.committed_stages(spark, out))
        n_done = 5 if window == "fail_after_stage" else 4
        assert committed == set(corpus_build.SEMANTIC_STAGES[:n_done]), window
        corpus_build.run_corpus_build(spark, tdf, held, out, run_id="fin", **kwargs)
        assert _packed_rows(spark, out) == want, window
        lin = corpus_build.read_stage_lineage(spark, out).toPandas()
        assert sorted(lin.stage) == sorted(corpus_build.SEMANTIC_STAGES), window

    # chain guard, both directions
    with pytest.raises(ValueError, match="stage chain"):
        corpus_build.run_corpus_build(
            spark, tdf, held, base, run_id="r3",
            **{k: v for k, v in kwargs.items() if k != "semantic"},
        )
    plain = str(tmp_path / "plain")
    corpus_build.run_corpus_build(
        spark, tdf, held, plain, run_id="p1",
        **{k: v for k, v in kwargs.items() if k != "semantic"},
    )
    with pytest.raises(ValueError, match="stage chain"):
        corpus_build.run_corpus_build(spark, tdf, held, plain, run_id="p2", **kwargs)


def test_corpus_ingest_semantic_stage_crash_windows(spark, tmp_path):
    """Incremental SemDeDup in the daily ingest under the same discipline as
    dedup_incr: two days, a day-2 word-REVERSED copy of a COMMITTED day-1
    doc (MinHash-incremental-blind, semantic drops it), crash at BOTH
    windows on the new stage's boundary — including the worst one, where
    the index append landed but the lineage row didn't — and after resume
    the DISTINCT index must hold exactly one row per surviving doc across
    both days. The stamped chain refuses a resume without ``semantic``."""
    from jobs import corpus_build

    base = transcripts.make_transcripts(spark, 12, mean_turns=3, seed=91, parallelism=2)
    plant = []
    for t in range(3):
        words = [f"pv{t}_{j}" for j in range(16)]
        plant.append(("p-orig", t, "user", " ".join(words), "plain", None))
        plant.append(("p-perm", t, "user", " ".join(reversed(words)), "plain", None))
    plant_df = spark.createDataFrame(plant, transcripts.SCHEMA)
    day1 = base.where(
        F.col("conv_id").isin([f"conv-{i:08d}" for i in range(8)])
    ).unionByName(plant_df.where(F.col("conv_id") == "p-orig"))
    day2 = base.where(
        F.col("conv_id").isin([f"conv-{i:08d}" for i in range(8, 12)])
    ).unionByName(plant_df.where(F.col("conv_id") == "p-perm"))
    held = spark.createDataFrame([("zz qq nothing overlaps here",)], "text string")

    for window in ("fail_after_stage", "fail_before_commit_stage"):
        bt = f"t_sis_b_{window[:9]}"
        st = f"t_sis_s_{window[:9]}"
        for t in (bt, st):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        root = str(tmp_path / window)
        kwargs = dict(
            n_parts=2, n_waves=1, mode="cli", pack_budget=1024,
            semantic=(64, 3, 0.95), sem_table=st, sem_path=f"{root}/semidx",
        )
        corpus_build.run_corpus_ingest(
            spark, day1, held, f"{root}/d1", bt, f"{root}/bands",
            run_id="d1", bootstrap=True, **kwargs,
        )
        with pytest.raises(RuntimeError, match="injected crash"):
            corpus_build.run_corpus_ingest(
                spark, day2, held, f"{root}/d2", bt, f"{root}/bands",
                run_id="d2a", **{window: "dedup_semantic"}, **kwargs,
            )
        n_done = 5 if window == "fail_after_stage" else 4
        committed = set(corpus_build.committed_stages(spark, f"{root}/d2"))
        assert committed == set(corpus_build.INGEST_SEMANTIC_STAGES[:n_done]), window
        corpus_build.run_corpus_ingest(
            spark, day2, held, f"{root}/d2", bt, f"{root}/bands",
            run_id="d2b", **kwargs,
        )
        incr = {
            r.conv_id
            for r in spark.read.parquet(
                corpus_build.stage_dir(f"{root}/d2", "dedup_incr")
            ).select("conv_id").collect()
        }
        surv = {
            r.conv_id
            for r in spark.read.parquet(
                corpus_build.stage_dir(f"{root}/d2", "dedup_semantic")
            ).select("conv_id").collect()
        }
        assert "p-perm" in incr, "MinHash-incremental must miss the permuted dup"
        assert "p-perm" not in surv, "semantic ingest must drop it"
        n_d1 = spark.read.parquet(
            corpus_build.stage_dir(f"{root}/d1", "dedup_semantic")
        ).count()
        assert spark.table(st).distinct().count() == n_d1 + len(surv), (
            "at-least-once append must leave DISTINCT index == survivors"
        )
        lin = corpus_build.read_stage_lineage(spark, f"{root}/d2").toPandas()
        assert sorted(lin.stage) == sorted(corpus_build.INGEST_SEMANTIC_STAGES)
        assert set(lin.status) == {"committed"}
        for t in (bt, st):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    # chain guard: resuming a semantic-ingest dir WITHOUT semantic refuses
    bt, st = "t_sis_b_chain", "t_sis_s_chain"
    for t in (bt, st):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    root = str(tmp_path / "chain")
    kwargs = dict(
        n_parts=2, n_waves=1, mode="cli", pack_budget=1024,
        semantic=(64, 3, 0.95), sem_table=st, sem_path=f"{root}/semidx",
    )
    corpus_build.run_corpus_ingest(
        spark, day1, held, f"{root}/d1", bt, f"{root}/bands",
        run_id="d1", bootstrap=True, **kwargs,
    )
    with pytest.raises(ValueError, match="stage chain"):
        corpus_build.run_corpus_ingest(
            spark, day1, held, f"{root}/d1", bt, f"{root}/bands", run_id="d1b",
            n_parts=2, n_waves=1, mode="cli", pack_budget=1024,
        )
    # missing sem_table/sem_path refuses up front
    with pytest.raises(ValueError, match="sem_table"):
        corpus_build.run_corpus_ingest(
            spark, day1, held, f"{root}/dx", bt, f"{root}/bands",
            run_id="dx", semantic=(64, 3, 0.95),
            n_parts=2, n_waves=1, mode="cli", pack_budget=1024,
        )
    for t in (bt, st):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corpus_build_semantic_max_cluster_passthrough(spark, tmp_path):
    """The build job's semantic skew valve: a cap far above every cluster
    size must leave the packed output byte-identical to the uncapped run
    (the documented common case — sub-bucket count is 1 at or under the
    cap), proving the valve is wired through without changing semantics."""
    from jobs import corpus_build

    tdf = _matrix_input(spark, 6, seed=97)
    held = spark.createDataFrame([("nothing here overlaps",)], "text string")
    kwargs = dict(n_parts=2, n_waves=1, mode="cli", pack_budget=1024,
                  semantic=(64, 3, 0.95))
    a, b = str(tmp_path / "uncapped"), str(tmp_path / "capped")
    corpus_build.run_corpus_build(spark, tdf, held, a, run_id="u", **kwargs)
    corpus_build.run_corpus_build(
        spark, tdf, held, b, run_id="c", semantic_max_cluster=10_000, **kwargs
    )
    assert _packed_rows(spark, a) == _packed_rows(spark, b)


def test_corpus_ingest_semantic_continues_after_recluster(spark, tmp_path):
    """Maintenance mid-stream: bootstrap day 1, recluster the kept-embedding
    index with a different centroid count, then ingest day 2 — the job must
    load the NEW codebook (restamped digest) and still drop a word-REVERSED
    copy of a day-1 keeper against the re-clustered index."""
    from docling_gfcr_spark.operators import similarity
    from jobs import corpus_build

    base = transcripts.make_transcripts(spark, 10, mean_turns=3, seed=99, parallelism=2)
    plant = []
    for t in range(3):
        words = [f"rv{t}_{j}" for j in range(16)]
        plant.append(("r-orig", t, "user", " ".join(words), "plain", None))
        plant.append(("r-perm", t, "user", " ".join(reversed(words)), "plain", None))
    plant_df = spark.createDataFrame(plant, transcripts.SCHEMA)
    day1 = base.where(
        F.col("conv_id").isin([f"conv-{i:08d}" for i in range(6)])
    ).unionByName(plant_df.where(F.col("conv_id") == "r-orig"))
    day2 = base.where(
        F.col("conv_id").isin([f"conv-{i:08d}" for i in range(6, 10)])
    ).unionByName(plant_df.where(F.col("conv_id") == "r-perm"))
    held = spark.createDataFrame([("zz qq nothing overlaps",)], "text string")

    bt, st = "t_rc_bands", "t_rc_sem"
    for t in (bt, st):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    root = str(tmp_path / "rc")
    kwargs = dict(n_parts=2, n_waves=1, mode="cli", pack_budget=1024,
                  semantic=(64, 2, 0.95), sem_table=st, sem_path=f"{root}/semidx")
    try:
        corpus_build.run_corpus_ingest(
            spark, day1, held, f"{root}/d1", bt, f"{root}/bands",
            run_id="d1", bootstrap=True, **kwargs,
        )
        n_d1 = spark.read.parquet(
            corpus_build.stage_dir(f"{root}/d1", "dedup_semantic")
        ).count()

        similarity.recluster_semantic_index(spark, st, f"{root}/semidx", n_centroids=3)

        # day 2 runs with n_centroids matching the RE-CLUSTERED stamp
        kw2 = dict(kwargs, semantic=(64, 3, 0.95))
        corpus_build.run_corpus_ingest(
            spark, day2, held, f"{root}/d2", bt, f"{root}/bands",
            run_id="d2", **kw2,
        )
        surv = {
            r.conv_id
            for r in spark.read.parquet(
                corpus_build.stage_dir(f"{root}/d2", "dedup_semantic")
            ).select("conv_id").collect()
        }
        assert "r-perm" not in surv, "permuted copy must drop vs the re-clustered index"
        n_d2 = len(surv)
        assert spark.table(st).select("vec_id").distinct().count() == n_d1 + n_d2
        # a later run still claiming the OLD centroid count refuses (stamp);
        # fresh ids so the band-table disjointness guard doesn't fire first
        day3 = day2.withColumn("conv_id", F.concat(F.lit("n3-"), F.col("conv_id")))
        with pytest.raises(ValueError, match="incomparable"):
            corpus_build.run_corpus_ingest(
                spark, day3, held, f"{root}/d3x", bt, f"{root}/bands",
                run_id="d3x", **kwargs,
            )
    finally:
        for t in (bt, st):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

"""End-to-end pipeline tests: per-turn text equality vs the local oracle.

The north-rule invariant: for every (conv_id, turn_idx), the Spark pipeline's
extracted text equals applying the same kernels locally (single-threaded
oracle), under stable turn ordering — regardless of partitioning/salting.
"""

from __future__ import annotations

import pandas as pd
import pytest

from docling_gfcr_spark import pipeline, transcripts

N_CONV = 30
SEED = 7


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts.make_transcripts(
        spark, N_CONV, mean_turns=5, seed=SEED, mega_every=10, skew_factor=8, parallelism=8
    ).cache()


@pytest.fixture(scope="module")
def extracted(spark, tdf):
    return pipeline.extract_turns(tdf, mode="agent").cache()


def local_oracle(mode: str = "agent") -> pd.DataFrame:
    rows = []
    for c in range(N_CONV):
        for r in transcripts.gen_conv_rows(SEED, c, mean_turns=5, mega_every=10, skew_factor=8):
            name = f"{r['conv_id']}-{r['turn_idx']:06d}".replace(" ", "_")
            x = pipeline.extract_one(r["text"], r["tool"], name, mode)
            rows.append(
                {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], "expected": x["extracted_text"]}
            )
    return pd.DataFrame(rows)


def test_generator_deterministic_across_parallelism(spark):
    a = transcripts.make_transcripts(spark, 12, seed=3, parallelism=1).toPandas()
    b = transcripts.make_transcripts(spark, 12, seed=3, parallelism=8).toPandas()
    key = ["conv_id", "turn_idx"]
    a, b = a.sort_values(key).reset_index(drop=True), b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_schema_matches_input_hint(tdf):
    assert [f.name for f in tdf.schema.fields] == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    kinds = {f.name: f.dataType.simpleString() for f in tdf.schema.fields}
    assert kinds["turn_idx"] == "int" and kinds["ts"] == "timestamp"


def test_per_turn_equality_vs_local_oracle(extracted):
    got = (
        extracted.select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = local_oracle().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(exp)
    mismatches = (got["extracted_text"].values != exp["expected"].values).sum()
    assert mismatches == 0, f"{mismatches}/{len(got)} turns differ from oracle"


def test_per_turn_equality_survives_salted_repartition(spark, tdf):
    """Extraction is per-turn, so a skew-salted layout (each conversation's
    64-turn slabs spread over 4 salts) must not change any turn's text."""
    from pyspark.sql import functions as F

    salt = F.pmod(F.floor(F.col("turn_idx") / 64), F.lit(4))
    salted = tdf.withColumn("_salt", salt).repartition(16, "conv_id", "_salt")
    got = (
        pipeline.extract_turns(salted.drop("_salt"), mode="agent")
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = local_oracle().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (got["extracted_text"].values == exp["expected"].values).all()


def test_boilerplate_never_extracted(extracted):
    from pyspark.sql import functions as F

    n_bad = extracted.where(
        F.col("extracted_text").contains(transcripts.NAV_MARKER)
        | F.col("extracted_text").contains(transcripts.AD_MARKER)
        | F.col("extracted_text").contains(transcripts.FOOTER_MARKER)
    ).count()
    assert n_bad == 0


def test_stable_order_and_rn(extracted):
    from pyspark.sql import functions as F

    o = pipeline.with_stable_order(extracted)
    bad = o.where(F.col("rn") != F.col("turn_idx") + 1).count()
    assert bad == 0  # turn_idx is dense from 0 in the generator


def test_assemble_conversations_order(spark, extracted, monkeypatch):
    monkeypatch.setattr(pipeline, "_BUCKET_TURNS", 4)  # several slabs per conv
    conv = pipeline.assemble_conversations(extracted).toPandas()
    assert len(conv) == N_CONV
    # reconstruct one conversation locally and compare exactly
    exp = local_oracle()
    one = exp[exp.conv_id == exp.conv_id.min()].sort_values("turn_idx")
    want = "\n".join(one["expected"].tolist())
    got = conv[conv.conv_id == exp.conv_id.min()]["conv_text"].iloc[0]
    assert got == want


def test_error_rows_never_dropped(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("c1", 0, "user", None, "html", None), ("c1", 1, "user", "{bad json", "json", None)],
        schema=transcripts.SCHEMA,
    )
    out = pipeline.extract_turns(df).toPandas().sort_values("turn_idx")
    assert len(out) == 2
    assert out.iloc[0]["success"] == False  # noqa: E712 — null payload -> error record
    assert out.iloc[1]["parse_failed"] == True  # noqa: E712 — bad json routed, kept


def test_spans_nonempty_for_html(extracted):
    from pyspark.sql import functions as F

    html_rows = extracted.where((F.col("method") == "html") & F.col("success"))
    with_spans = html_rows.where(F.col("n_spans") > 0).count()
    assert with_spans == html_rows.count() and with_spans > 0


def test_unsupported_kind_rejected_not_dropped(spark):
    df = spark.createDataFrame(
        [("c9", 0, "user", "some text", "unsupported_ext", None),
         ("c9", 1, "user", "%PDF-1.4\n\x01\x02junk", "binary_stub", None)],
        schema=transcripts.SCHEMA,
    )
    out = pipeline.extract_turns(df).toPandas().sort_values("turn_idx")
    assert len(out) == 2  # rejected rows routed, never dropped (F1/O1)
    assert not out.iloc[0]["success"] and "não suportada" in out.iloc[0]["error"]
    assert not out.iloc[1]["success"] and "binário" in out.iloc[1]["error"]


def test_pdf_text_json_pages_assembly(spark):
    import json as _json

    pages = ["first page", "second page"]
    df = spark.createDataFrame(
        [("c8", 0, "user", _json.dumps(pages), "pdf_text", None)],
        schema=transcripts.SCHEMA,
    )
    out = pipeline.extract_turns(df, mode="cli").toPandas()
    assert out.iloc[0]["extracted_text"] == (
        "\n\n# Página 1\n\nfirst page\n"
        "\n\n# Página 2\n\nsecond page"
    )


def test_write_order_shuffled_but_rn_stable(spark):
    tdf = transcripts.make_transcripts(spark, 5, mean_turns=10, seed=9, parallelism=1)
    pdf = tdf.toPandas()
    one = pdf[pdf.conv_id == pdf.conv_id.iloc[0]]
    assert list(one.turn_idx) != sorted(one.turn_idx), "write order should be shuffled"
    ordered = pipeline.with_stable_order(pipeline.extract_turns(tdf)).toPandas()
    g = ordered[ordered.conv_id == one.conv_id.iloc[0]].sort_values("rn")
    assert list(g.turn_idx) == sorted(g.turn_idx)


def test_agent_vs_cli_mode_divergence(spark):
    """The reference's two entry points emit different fallback output
    (SURVEY.md §7.3): EP1/cli writes raw text, EP3/agent title-wraps and runs
    the optimizer. Both modes are exposed and pinned here."""
    df = spark.createDataFrame(
        [("c7", 0, "user", "plain body text", "plain", None)], schema=transcripts.SCHEMA
    )
    cli = pipeline.extract_turns(df, mode="cli").toPandas().iloc[0]
    agent = pipeline.extract_turns(df, mode="agent").toPandas().iloc[0]
    assert cli["extracted_text"] == "plain body text"
    assert agent["extracted_text"].startswith("---\ntitle: c7-000000\n")
    assert "# c7-000000\n\nplain body text" in agent["extracted_text"]
    assert agent["extracted_text"].endswith("\n")


def test_office_sidecar_routes(spark):
    """docx/xlsx/pptx sidecars (reference whitelist convert.py:32-41) route
    through the office kernels; malformed sidecars fall back to raw (F3)."""
    import json as _json

    docx = _json.dumps({"paragraphs": [
        {"style": "Title", "text": "Doc title"},
        {"style": "Heading2", "text": "Part"},
        {"style": "Normal", "text": "body text here"},
        {"style": "List", "text": "item one"},
    ]})
    xlsx = _json.dumps({"sheets": {"S1": [["a", "b"], [1, 2]]}})
    pptx = _json.dumps({"slides": [{"title": "Intro", "bullets": ["x", "y"]}]})
    df = spark.createDataFrame(
        [("c1", 0, "user", docx, "docx", None),
         ("c1", 1, "user", xlsx, "xlsx", None),
         ("c1", 2, "user", pptx, "pptx", None),
         ("c1", 3, "user", "{not json", "docx", None)],
        schema=transcripts.SCHEMA,
    )
    out = pipeline.extract_turns(df, mode="cli").toPandas().sort_values("turn_idx")
    assert out.iloc[0]["extracted_text"] == (
        "# Doc title\n\n## Part\n\nbody text here\n\n- item one"
    )
    assert out.iloc[1]["extracted_text"] == "## S1\n\n| a | b |\n| --- | --- |\n| 1 | 2 |"
    assert out.iloc[2]["extracted_text"] == "# Intro\n\n- x\n\n- y"
    assert list(out["method"])[:3] == ["docx", "xlsx", "pptx"]
    # malformed sidecar: parse_failed -> raw passthrough, row kept, success
    assert out.iloc[3]["method"] == "raw" and out.iloc[3]["parse_failed"]
    assert out.iloc[3]["extracted_text"] == "{not json"


def test_adoc_and_doc_routes(spark):
    """.adoc gets a structural AsciiDoc->markdown kernel (reference whitelist
    convert.py:32-41); legacy .doc (agent whitelist markdown_agent.py:131)
    shares the docx sidecar route — neither rides the generic text fallback."""
    import json as _json

    adoc = "= Top\n:toc: left\n== Sub\n\nbody here\n* one\n** two\n----\nlit text\n----"
    doc = _json.dumps({"paragraphs": [
        {"style": "Title", "text": "Legacy doc"},
        {"style": "Normal", "text": "word body"},
    ]})
    df = spark.createDataFrame(
        [("c9", 0, "user", adoc, "adoc", None),
         ("c9", 1, "user", adoc, "asciidoc", None),
         ("c9", 2, "user", doc, "doc", None)],
        schema=transcripts.SCHEMA,
    )
    out = pipeline.extract_turns(df, mode="cli").toPandas().sort_values("turn_idx")
    want_adoc = "# Top\n## Sub\n\nbody here\n- one\n  - two\n```\nlit text\n```"
    assert out.iloc[0]["extracted_text"] == want_adoc
    assert out.iloc[1]["extracted_text"] == want_adoc
    assert list(out["method"]) == ["adoc", "adoc", "doc"]
    assert out.iloc[2]["extracted_text"] == "# Legacy doc\n\nword body"
    assert out["success"].all()


def test_image_route_parses_real_headers(spark):
    import base64 as _b64

    from docling_gfcr_spark.kernels import media as _media

    png = _b64.b64encode(_media.build_png(24, 16, seed=1)).decode()
    tiff = _b64.b64encode(_media.build_tiff(640, 480)).decode()
    junk = _b64.b64encode(b"not an image at all").decode()
    df = spark.createDataFrame(
        [("c2", 0, "user", png, "png", None),
         ("c2", 1, "user", tiff, "tiff", None),
         ("c2", 2, "user", junk, "jpeg", None)],
        schema=transcripts.SCHEMA,
    )
    out = pipeline.extract_turns(df, mode="cli").toPandas().sort_values("turn_idx")
    assert out.iloc[0]["extracted_text"] == (
        "# c2-000000\n\n<!-- image -->\n\n- format: png\n- width: 24\n- height: 16"
    )
    assert "- width: 640\n- height: 480" in out.iloc[1]["extracted_text"]
    assert out.iloc[0]["method"] == "image_meta" and out.iloc[0]["success"]
    # junk bytes: reference generic-fallback apology, still a success row
    assert out.iloc[2]["method"] == "generic" and out.iloc[2]["success"]
    assert "não pôde ser processado" in out.iloc[2]["extracted_text"]


def test_csv_and_xml_routes(spark):
    """csv -> markdown pipe table (docling's flavor, quoting honoured);
    xml -> markup kernel text extraction (tags stripped, text kept)."""
    csv_payload = 'name,score\n"alpha, prime",10\nbeta,20'
    xml_payload = (
        "<?xml version='1.0'?><doc><title>Heading words</title>"
        "<section><para>body text with enough words to be kept as main content here</para>"
        "</section></doc>"
    )
    df = spark.createDataFrame(
        [("c4", 0, "user", csv_payload, "csv", None),
         ("c4", 1, "user", xml_payload, "xml", None)],
        schema=transcripts.SCHEMA,
    )
    out = pipeline.extract_turns(df, mode="cli").toPandas().sort_values("turn_idx")
    assert out.iloc[0]["extracted_text"] == (
        "| name | score |\n| --- | --- |\n| alpha, prime | 10 |\n| beta | 20 |"
    )
    assert out.iloc[0]["method"] == "csv"
    xml_text = out.iloc[1]["extracted_text"]
    assert "body text with enough words" in xml_text
    assert "<para>" not in xml_text and "<doc>" not in xml_text
    assert out.iloc[1]["method"] == "xml" and out.iloc[1]["n_spans"] > 0


def test_text_b64_encoding_cascade_wired(spark):
    """S4 through the pipeline: raw bytes (base64) hit the utf-8 -> latin-1
    cascade; a cp1252-encoded payload is NOT valid utf-8, so the fallback
    step actually fires and, per the reference's order (convert.py:144),
    latin-1 — not cp1252 — decodes it."""
    import base64 as _b64

    utf8 = _b64.b64encode("seção de extração".encode("utf-8")).decode()
    cp1252 = _b64.b64encode("análise — rápida".encode("cp1252")).decode()
    df = spark.createDataFrame(
        [("c3", 0, "user", utf8, "text_b64", None),
         ("c3", 1, "user", cp1252, "text_b64", None)],
        schema=transcripts.SCHEMA,
    )
    out = pipeline.extract_turns(df, mode="cli").toPandas().sort_values("turn_idx")
    assert out.iloc[0]["extracted_text"] == "# c3-000000\n\nseção de extração"
    # latin-1 decode of cp1252 bytes: é survives (same codepoint), the
    # em-dash (0x97) becomes the latin-1 control char — byte-faithful to the
    # reference cascade, which tries latin-1 before cp1252
    want = "análise — rápida".encode("cp1252").decode("latin-1")
    assert out.iloc[1]["extracted_text"] == f"# c3-000001\n\n{want}"
    assert (out["method"] == "generic_b64").all() and out["success"].all()


def test_pdf_encrypted_routes_to_error_envelope(spark):
    """An encrypted PDF payload must take the PIPELINE-level clean-refusal
    route: the /Encrypt trailer check raises inside the parser, the row
    becomes the reference's PDF-failure error record (success=false, text
    empty), and the row is never dropped. Also pins that the FIXTURE/gate
    corpus (make_fixtures' generator params) actually contains the kind, so
    the driver's extract_transcripts hash covers this route every round."""
    import base64 as _b64

    import numpy as np

    payload = transcripts.build_pdf_encrypted_payload(np.random.RandomState(7))
    assert b"/Encrypt" in _b64.b64decode(payload)
    df = spark.createDataFrame(
        [("ce", 0, "user", payload, "pdf_encrypted", None)],
        schema=transcripts.SCHEMA,
    )
    out = pipeline.extract_turns(df, mode="agent").toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    assert row["method"] == "error" and not row["success"]
    assert row["extracted_text"] == "" and row["error"]
    # deterministic presence in the gate corpus (same params as
    # tools/make_fixtures.compute_extract_transcripts, cheap prefix)
    kinds = {
        r["tool"]
        for c in range(60)
        for r in transcripts.gen_conv_rows(42, c, mean_turns=6, mega_every=50, skew_factor=10)
    }
    assert "pdf_encrypted" in kinds


def test_new_kinds_flow_through_generator(spark):
    """The synthetic corpus now emits office/image/text_b64 kinds and every
    one of them extracts (per-turn equality with the local oracle is covered
    by test_per_turn_equality_vs_local_oracle over the same generator)."""
    tdf = transcripts.make_transcripts(spark, 60, mean_turns=8, seed=21, parallelism=8)
    out = pipeline.extract_turns(tdf, mode="agent").toPandas()
    kinds = set(out["tool"])
    assert {"docx", "xlsx", "pptx", "text_b64", "adoc", "doc", "docx_b64"} <= kinds
    assert kinds & {"png", "jpeg", "bmp", "webp", "tiff"}
    assert kinds & {"xlsx_b64", "pptx_b64"}
    assert "pdf_b64" in kinds
    # real-PDF payloads: parse via the bytes kernel or (planted junk) the
    # reference's PDF-failure error record — never dropped, never a crash
    pdfb = out[out.tool == "pdf_b64"]
    assert set(pdfb["method"]) <= {"pdf_bytes", "error"}
    # encrypted PDFs (when this corpus draw emits them): every one refuses
    # cleanly into the PDF-failure envelope — never parsed, never dropped.
    # Deterministic presence + route is pinned by
    # test_pdf_encrypted_routes_to_error_envelope.
    enc = out[out.tool == "pdf_encrypted"]
    assert (enc["method"] == "error").all() and (~enc["success"]).all()
    # real-binary OOXML payloads: most parse via the bytes kernels, the
    # planted ~8% junk rides the generic-fallback apology — all rows succeed
    for b64kind in ("docx_b64", "xlsx_b64", "pptx_b64"):
        sub = out[out.tool == b64kind]
        if len(sub) == 0:
            continue
        assert sub["success"].all(), b64kind
        methods = set(sub["method"])
        assert methods <= {f"{b64kind[:-4]}_bytes", "generic"}, b64kind
    b64docx = out[out.tool == "docx_b64"]
    assert (b64docx["method"] == "docx_bytes").mean() >= 0.7
    office_ok = out[out.tool.isin(["docx", "xlsx", "pptx"])]
    # ~1% of payloads are adversarially garbled by the generator — those
    # parse-fail into the raw fallback (still success); the rest must parse
    assert office_ok["success"].all()
    assert (~office_ok["parse_failed"]).mean() >= 0.9
    b64 = out[out.tool == "text_b64"]
    assert b64["success"].all()
    imgs = out[out.tool.isin(["png", "jpeg", "bmp", "webp", "tiff"])]
    assert imgs["success"].all()
    assert imgs["extracted_text"].str.contains("<!-- image -->|não pôde ser processado").all()


def test_extract_batch_equals_per_row_on_adversarial_input():
    """Property: the batched kernel (vectorized tail) equals mapping
    extract_one row-by-row, for arbitrary payload/kind combinations —
    including blanks, nulls, wrong-kind payloads, and garbage."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    kinds = st.sampled_from(
        ["markdown", "plain", "html", "json", "pdf_text", "docx", "png",
         "text_b64", "unsupported_ext", None]
    )
    payloads = st.one_of(
        st.none(),
        st.text(alphabet=st.sampled_from(list("ab<>#&{}[]\"\\/ \n\t-*+=áé\x00")), max_size=120),
    )
    fields = [f.name for f in pipeline.EXTRACT_TYPE.fields]

    flag_combos = st.sampled_from(
        [(None, True), (True, True), (False, True),
         (None, False), (True, False), (False, False)]
    )

    @settings(max_examples=60, deadline=None)
    @given(rows=st.lists(st.tuples(payloads, kinds), min_size=1, max_size=12),
           flags=flag_combos)
    def check(rows, flags):
        optimize, validate = flags
        texts = [t for t, _ in rows]
        tools = [k for _, k in rows]
        names = [f"n{i}" for i in range(len(rows))]
        for mode in ("agent", "cli"):
            got = pipeline.extract_batch(texts, tools, names, mode, optimize, validate)
            for i, (t, k) in enumerate(rows):
                want = pipeline.extract_one(t, k, names[i], mode, optimize, validate)
                for f in fields:
                    g = got[f].iloc[i]
                    same = g == want[f] or (g != g and want[f] != want[f])
                    assert same or (g is None and want[f] is None), (
                        f, i, t, k, mode, flags, g, want[f]
                    )

    check()


def test_mega_conversation_assembly(spark, monkeypatch):
    """A single 10k-turn conversation must assemble in exact order through
    the slab-based two-phase path (the skew case salting exists for)."""
    from pyspark.sql import functions as F

    n = 10_000
    tdf = spark.range(n).select(
        F.lit("mega-conv").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.format_string("turn %d body", F.col("id")).alias("text"),
        F.lit("plain").alias("tool"),
        F.current_timestamp().alias("ts"),
    ).repartition(16)  # deliberately scattered
    ex = pipeline.extract_turns(tdf, mode="cli")
    monkeypatch.setattr(pipeline, "_BUCKET_TURNS", 256)
    conv = pipeline.assemble_conversations(ex).toPandas()
    assert len(conv) == 1 and conv.iloc[0]["n_turns"] == n
    body = conv.iloc[0]["conv_text"].splitlines()
    assert body[0] == "turn 0 body" and body[-1] == f"turn {n - 1} body"
    assert body == [f"turn {i} body" for i in range(n)]


def test_kind_distribution_well_formed():
    """KINDS and _KIND_P must stay aligned and sum to 1 (a silent drift here
    would skew every fixture regeneration)."""
    assert len(transcripts.KINDS) == len(transcripts._KIND_P)
    assert abs(sum(transcripts._KIND_P) - 1.0) < 1e-9
    assert len(set(transcripts.KINDS)) == len(transcripts.KINDS)


def test_optimize_validate_flags_independent(spark):
    """The agent envelope's independent optimize/validate flags
    (markdown_agent.py:261-268, main :449-455): optimize toggles the P4
    optimizer only (P3 title wrap stays a mode divergence); validate=False
    nulls every A1-A3 field (the reference's validated=False shape). The
    vectorized batch path must equal per-row extract_one under every combo."""
    rows = [("cf", 0, "user", "# Title\n\n\n\nbody text here", "markdown", None),
            ("cf", 1, "user", "plain body", "plain", None)]
    df = spark.createDataFrame(rows, schema=transcripts.SCHEMA)

    for optimize in (None, True, False):
        for validate in (True, False):
            out = (
                pipeline.extract_turns(df, mode="agent", optimize=optimize, validate=validate)
                .toPandas().sort_values("turn_idx").reset_index(drop=True)
            )
            for i, (_, _, _, text, tool, _) in enumerate(rows):
                want = pipeline.extract_one(
                    text, tool, f"cf-{i:06d}", "agent", optimize, validate
                )
                assert out.iloc[i]["extracted_text"] == want["extracted_text"], (optimize, validate)
                if validate:
                    assert out.iloc[i]["word_count"] == want["word_count"]
                else:
                    assert pd.isna(out.iloc[i]["word_count"]), (optimize, validate)
                    assert pd.isna(out.iloc[i]["quality_score"])
                    assert pd.isna(out.iloc[i]["valid"])

    # optimize=False in agent mode: P3 wrap still happens, frontmatter doesn't
    raw = pipeline.extract_one("plain body", "plain", "n", "agent", optimize=False)
    assert raw["extracted_text"] == "# n\n\nplain body"
    opt = pipeline.extract_one("plain body", "plain", "n", "agent", optimize=True)
    assert opt["extracted_text"].startswith("---\ntitle: n\n")
    # optimize=True in cli mode: optimizer runs on the raw (unwrapped) text
    cli_opt = pipeline.extract_one("plain body", "plain", "n", "cli", optimize=True)
    assert cli_opt["extracted_text"].startswith("---\ntitle: n\n")
    assert "# n\n\nplain body" not in cli_opt["extracted_text"]


def test_assemble_multimodal_conversations(spark):
    """Media turns appear as typed ref tokens INLINE at their turn position;
    the inventory lists them in turn order; junk media falls back to the
    apology record like the plain extraction route."""
    import base64

    from docling_gfcr_spark.operators import multimodal as mm

    _mod, blob = mm.gen_media_payload(0)  # a real PNG
    b64 = base64.b64encode(blob).decode("ascii")
    ref = mm.media_ref_token(b64)
    assert ref and ref.startswith("<media:png:")
    df = spark.createDataFrame(
        [
            ("cM", 0, "user", "# hello\n\nworld", "markdown", None),
            ("cM", 1, "user", b64, "png", None),
            ("cM", 2, "user", "plain tail", "plain", None),
            ("cN", 0, "user", "no media here", "plain", None),
            ("cN", 1, "user", "bm90IGFuIGltYWdl", "png", None),  # junk image
        ],
        schema=transcripts.SCHEMA,
    )
    out = {
        r.conv_id: r
        for r in pipeline.assemble_multimodal_conversations(df).collect()
    }
    m = out["cM"]
    parts = m.conv_text.split("\n")
    assert ref in parts  # inline at its own turn position
    assert m.n_media == 1 and m.media_refs == f"1:{ref}"
    assert m.n_turns == 3
    # junk media: apology fallback, empty inventory
    n = out["cN"]
    assert n.n_media == 0 and n.media_refs == ""
    assert "no media here" in n.conv_text


def test_generator_fingerprint_branch_coverage():
    """The corpus-cache fingerprint must exercise EVERY generator branch:
    a payload-kernel change on any path (pdf compress, office junk, image
    subkinds, adversarial truncation) has to change the fingerprint, else
    benches silently time a stale corpus (round-4 verdict failure mode).
    These assertions pin that the FIXED probe seeds actually hit each
    branch — if a generator reshuffle ever breaks coverage, this fails."""
    import base64

    import numpy as np

    from docling_gfcr_spark.kernels import media

    def sweep(build):
        return [build(np.random.RandomState(s)) for s in range(64)]

    pdf = [base64.b64decode(x) for x in sweep(transcripts.build_pdf_b64_payload)]
    assert sum(1 for b in pdf if len(b) < 120) >= 2  # junk branch
    assert sum(1 for b in pdf if b"/FlateDecode" in b) >= 2  # compress branch
    assert sum(1 for b in pdf if len(b) >= 120 and b"/FlateDecode" not in b) >= 2
    enc = [base64.b64decode(x) for x in sweep(transcripts.build_pdf_encrypted_payload)]
    assert all(b"/Encrypt" in b for b in enc)
    assert sum(1 for b in enc if b"/FlateDecode" in b) >= 2  # compress branch
    assert sum(1 for b in enc if b"/FlateDecode" not in b) >= 2
    for name in ("docx", "xlsx", "pptx"):
        blobs = [base64.b64decode(x) for x in sweep(getattr(transcripts, f"build_{name}_b64_payload"))]
        assert sum(1 for b in blobs if len(b) < 100) >= 2  # junk branch
        assert sum(1 for b in blobs if len(b) >= 100) >= 2
    imgs = sweep(transcripts.build_image_payload)
    n_bad = 0
    for text, _kind in imgs:
        try:
            media.parse_image(base64.b64decode(text))
        except Exception:
            n_bad += 1
    assert n_bad >= 2  # planted-junk image branch
    assert {k for _, k in imgs} == set(transcripts._IMAGE_SUBKINDS)
    turns = [transcripts.gen_turn(7, 0, t) for t in range(600)]
    assert sum(1 for _, txt, _ in turns if txt.endswith("\x00<unclosed")) >= 2
    assert len({k for _, _, k in turns}) >= 20  # every kind family sampled
    # and the probe is stable
    assert transcripts.generator_fingerprint() == transcripts.generator_fingerprint()


def test_assembly_mega_conversation_skew(spark):
    """Skew stress for the two-phase assembly (VERDICT r6 item 5): one
    ~1e5-turn conversation (two orders of magnitude past bucket_turns=1024)
    over normal background must assemble byte-exactly at default memory,
    and the hot conversation's phase-1 slab groups must SPREAD across many
    shuffle partitions — the whole point of grouping phase 1 by
    (conv_id, slab) instead of conv_id alone."""
    from pyspark.sql import functions as F

    n_mega, n_bg = 100_000, 500
    mega = spark.range(n_mega).select(
        F.lit("mega").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("L"), F.col("id")).alias("extracted_text"),
    )
    bg = spark.range(n_bg * 4).select(
        F.concat(F.lit("bg-"), (F.col("id") % n_bg).cast("string")).alias("conv_id"),
        F.floor(F.col("id") / n_bg).cast("int").alias("turn_idx"),
        F.concat(F.lit("B"), F.col("id")).alias("extracted_text"),
    )
    out = pipeline.assemble_conversations(mega.unionByName(bg)).cache()
    try:
        got = out.where(F.col("conv_id") == "mega").collect()[0]
        assert got.n_turns == n_mega
        assert got.conv_text == "\n".join(f"L{i}" for i in range(n_mega))
        bg0 = out.where(F.col("conv_id") == "bg-0").collect()[0]
        assert bg0.conv_text == "\n".join(f"B{i * n_bg}" for i in range(4))
        assert out.count() == 1 + n_bg
    finally:
        out.unpersist()
    # phase-1 spread: replicate the phase-1 grouping key and observe which
    # shuffle partition each of the hot conv's slabs lands in (AQE's
    # small-partition coalescing is a size artifact of test scale — off for
    # the probe so the HASH layout itself is what's pinned)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        slab = F.floor(F.col("turn_idx") / 1024).alias("slab")
        phase1 = (
            mega.unionByName(bg)
            .groupBy("conv_id", slab)
            .agg(F.count("*").alias("n"))
            .withColumn("pid", F.spark_partition_id())
        )
        hot = phase1.where(F.col("conv_id") == "mega").select("slab", "pid").collect()
        n_slabs = -(-n_mega // 1024)
        assert len(hot) == n_slabs  # 98 slabs, not one giant group
        pids = {r.pid for r in hot}
        # 8 shuffle partitions in the test session: the hot conv must use
        # most of them, never collapse to one task
        assert len(pids) >= 4, pids
    finally:
        spark.conf.set(coalesce_key, prev)

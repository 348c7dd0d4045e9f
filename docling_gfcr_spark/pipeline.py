"""The columnar extraction pipeline.

Reference lifecycle (one eager Python function per document,
/root/reference/scripts/convert.py:155-248 and markdown_agent.py:261-397)
re-expressed as ONE Spark stage: route (R1) -> extraction kernel (S2/S3/S4)
-> optimize (P4) -> validate (A1-A3) all fused into a single Arrow pandas
UDF, so the JVM<->Python boundary is crossed exactly once per batch
(SURVEY.md §3 "minimize by fusing kernels into one UDF"). Everything after
the UDF (ordering, metrics, assembly) is built-in Catalyst operators.

Error invariant O1 (convert.py:243-248): a row NEVER kills a task — per-row
try/except inside the kernel, failures become ``success=false`` rows carrying
an ``error`` column, unioned back, never dropped.

Modes mirror the reference's two divergent entry points (SURVEY.md §7.3):
- ``agent`` (EP3): fallback text is title-wrapped and the markdown optimizer
  (frontmatter + spacing rules) runs on every successful row.
- ``cli`` (EP1): raw fallback text, no optimizer.
"""

from __future__ import annotations

import base64
import binascii
import json

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_gfcr_spark.kernels import (
    asciidoc, docx_binary, encodings, markdown_ops, media, office, office_binary,
    pdf_binary,
)
from docling_gfcr_spark.kernels.html_extract import extract_html
from docling_gfcr_spark.kernels.pdf_layout import assemble_pages, assemble_pdf

# Kind whitelist (reference S1 extension whitelist, convert.py:32-41, keyed on
# the `tool` payload-kind column per SURVEY §2A F2). Unknown kinds are routed
# to the error side with the reference's message shape — never dropped.
# Office documents travel as text-stream sidecars (kernels/office.py), images
# as base64 bytes parsed by the stdlib header kernel (kernels/media.py), and
# `text_b64` as base64 raw bytes through the S4 encoding cascade
# (kernels/encodings.py <- reference convert.py:131-152).
SUPPORTED_KINDS = frozenset(
    "html xhtml pdf pdf_text markdown md plain text txt json csv xml adoc asciidoc "
    "doc docx xlsx pptx png jpeg jpg tiff tif bmp webp text_b64 "
    "docx_b64 xlsx_b64 pptx_b64 pdf_b64 pdf_encrypted".split()
)
IMAGE_KINDS = frozenset("png jpeg jpg tiff tif bmp webp".split())
_UNSUPPORTED_FMT = (
    "Extensão '{kind}' não suportada. Extensões suportadas: {supported}"
)

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("kind", T.StringType()),
        ]
    )
)

EXTRACT_TYPE = T.StructType(
    [
        T.StructField("extracted_text", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("n_nodes", T.IntegerType()),
        T.StructField("n_kept", T.IntegerType()),
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("parse_failed", T.BooleanType()),
        T.StructField("headers_count", T.IntegerType()),
        T.StructField("paragraphs_count", T.IntegerType()),
        T.StructField("lists_count", T.IntegerType()),
        T.StructField("word_count", T.IntegerType()),
        T.StructField("char_count", T.IntegerType()),
        T.StructField("issues", T.ArrayType(T.StringType())),
        T.StructField("quality_score", T.IntegerType()),
        T.StructField("valid", T.BooleanType()),
    ]
)

_EMPTY = {
    "extracted_text": "",
    "method": "error",
    "success": False,
    "error": None,
    "spans": [],
    "n_nodes": 0,
    "n_kept": 0,
    "n_spans": 0,
    "parse_failed": True,
    "headers_count": 0,
    "paragraphs_count": 0,
    "lists_count": 0,
    "word_count": 0,
    "char_count": 0,
    "issues": [],
    "quality_score": 0,
    "valid": False,
}


def route_one(text: str | None, tool: str | None, name: str, mode: str) -> dict:
    """Per-row route + extract (NO optimize/validate — those are batched).

    Returns either a full error record (``success`` False, O1 envelope) or a
    partial dict ``{extracted, method, spans, n_nodes, n_kept, parse_failed}``
    for the shared optimize/validate stage. Total: never raises.
    """
    try:
        if text is None:
            return {**_EMPTY, "error": "null payload"}
        spans: list[dict] = []
        n_nodes = n_kept = 0
        parse_failed = False
        kind = (tool or "text").lower()
        if kind == "binary_stub" or (kind == "pdf" and text.startswith("%PDF")):
            # FIXTURES.md A2: binary payloads route to the pdf fallback; raw
            # binary is unparseable without native libs -> error envelope
            # (reference O1 shape, convert.py:243-248), row preserved
            return {**_EMPTY, "error": "payload binário não pôde ser processado (sem fallback nativo)"}
        if kind not in SUPPORTED_KINDS:
            # F1/F2 rejection: error-side record with the reference's message
            # shape (convert.py:52-58), row preserved
            return {
                **_EMPTY,
                "error": _UNSUPPORTED_FMT.format(
                    kind=kind, supported=", ".join(sorted(SUPPORTED_KINDS))
                ),
            }
        if kind in ("html", "xhtml", "xml"):
            # xml rides the same markup kernel: text nodes survive, tags
            # don't (docling's xml handling is likewise text extraction)
            r = extract_html(text)
            extracted, parse_failed = r["text"], r["parse_failed"]
            n_nodes, n_kept = r["n_nodes"], r["n_kept"]
            spans = [{"start": s, "end": e, "kind": k} for s, e, k in r["spans"]]
            method = "html" if kind != "xml" else "xml"
        elif kind == "csv":
            # docling renders CSV as a markdown table (golden-fixture pipe
            # flavor); stdlib csv handles quoting/embedded commas
            import csv as _csv
            import io as _io

            try:
                rows = [row for row in _csv.reader(_io.StringIO(text)) if row]
                extracted = "\n".join(office.pipe_table(rows))
                method = "csv"
            except _csv.Error:
                extracted, method, parse_failed = "", "csv", True
        elif kind == "pdf":
            r = assemble_pdf(text)
            extracted, parse_failed = r["text"], r["parse_failed"]
            n_nodes = n_kept = r["n_blocks"]
            method = "pdf_layout"
        elif kind == "pdf_text":
            # FIXTURES.md A2: page streams as a JSON array -> S3 assembly
            try:
                pages = json.loads(text)
                if not isinstance(pages, list):
                    raise ValueError("pdf_text payload is not a list")
                extracted = assemble_pages([str(p) for p in pages])
                n_nodes = n_kept = len(pages)
                method = "pdf_text"
            except (json.JSONDecodeError, ValueError):
                extracted, method, parse_failed = "", "pdf_text", True
        elif kind in ("markdown", "md"):
            extracted, method = text, "markdown"
        elif kind in ("adoc", "asciidoc"):
            # structural AsciiDoc kernel (reference whitelists .adoc/.asciidoc
            # at convert.py:32-41; the agent whitelist markdown_agent.py:131
            # adds .doc — both formerly rode the generic text fallback)
            extracted, method = asciidoc.adoc_to_markdown(text), "adoc"
        elif kind in ("doc", "docx", "xlsx", "pptx"):
            # office sidecar shapes (kernels/office.py; reference whitelists
            # these extensions at convert.py:32-41 and delegates to docling;
            # legacy .doc shares the docx sidecar — docling parses both into
            # the same document model)
            assemble = {
                "doc": office.assemble_docx,
                "docx": office.assemble_docx,
                "xlsx": office.assemble_xlsx,
                "pptx": office.assemble_pptx,
            }[kind]
            try:
                extracted, method = assemble(text), kind
            except (ValueError, TypeError, AttributeError):
                extracted, method, parse_failed = "", kind, True
        elif kind in ("pdf_b64", "pdf_encrypted"):
            # REAL binary PDF route (kernels/pdf_binary.py): parse the object
            # graph + uncompressed content streams, then the SAME S3 page
            # assembly as pdf_text. Unparseable/compressed bytes — and
            # encrypted documents, which the parser REFUSES at the /Encrypt
            # trailer check rather than decoding ciphertext — become the
            # reference's PDF-failure error record (convert.py:243-248);
            # row preserved, success=false.
            try:
                blob = base64.b64decode(text, validate=True)
                pages = pdf_binary.pdf_bytes_to_pages(blob)
                extracted = assemble_pages(pages)
                n_nodes = n_kept = len(pages)
                method = "pdf_bytes"
            except (ValueError, binascii.Error):
                return {**_EMPTY, "error": "payload binário não pôde ser processado (sem fallback nativo)"}
        elif kind in ("docx_b64", "xlsx_b64", "pptx_b64"):
            # REAL binary office route: actual PK-zip OOXML bytes parsed with
            # stdlib zipfile+xml.etree (kernels/docx_binary.py WordprocessingML,
            # kernels/office_binary.py SpreadsheetML/PresentationML), matching
            # the reference's real-binary docling conversion (convert.py:76-110).
            # Unparseable bytes get the same generic-fallback apology as the
            # image route (convert.py:152).
            base_kind = kind[:-4]
            parse = {
                "docx": docx_binary.docx_bytes_to_markdown,
                "xlsx": office_binary.xlsx_bytes_to_markdown,
                "pptx": office_binary.pptx_bytes_to_markdown,
            }[base_kind]
            try:
                blob = base64.b64decode(text, validate=True)
                extracted = parse(blob)
                method = f"{base_kind}_bytes"
            except (ValueError, binascii.Error):
                extracted = encodings.APOLOGY_FMT.format(name=name, ext=f".{base_kind}")
                method, parse_failed = "generic", True
        elif kind in IMAGE_KINDS:
            # metadata-only image route: parse the real container header
            # (PNG IHDR / JPEG SOF / TIFF IFD / ...); emit the reference's
            # `<!-- image -->` placeholder flavor (golden fixture, SURVEY §5).
            # Unparseable payloads get the reference's generic-fallback
            # apology (convert.py:152) — still a success record, like EP1.
            try:
                blob = base64.b64decode(text, validate=True)
                meta = media.parse_image(blob)
                extracted = (
                    f"# {name}\n\n<!-- image -->\n\n- format: {meta['format']}\n"
                    f"- width: {meta['width']}\n- height: {meta['height']}"
                )
                method = "image_meta"
            except (ValueError, media.MediaParseError, binascii.Error):
                extracted = encodings.APOLOGY_FMT.format(name=name, ext=f".{kind}")
                method, parse_failed = "generic", True
        elif kind == "text_b64":
            # S4 wiring: raw bytes (base64) through the 4-encoding cascade
            # (reference convert.py:144 — utf-8, latin-1, cp1252, iso-8859-1;
            # order is load-bearing) then the `# {name}\n\n{content}` wrap
            blob = base64.b64decode(text, validate=True)
            content = encodings.decode_cascade(blob)
            if content is None:  # unreachable for bytes (latin-1 is total)
                extracted = encodings.APOLOGY_FMT.format(name=name, ext=".txt")
                method, parse_failed = "generic", True
            else:
                extracted = encodings.WRAP_FMT.format(name=name, content=content)
                method = "generic_b64"
        elif kind == "json":
            try:
                obj = json.loads(text)
                extracted = str(
                    obj.get("content") or obj.get("text") or obj.get("output") or ""
                )
                method = "json"
            except (json.JSONDecodeError, AttributeError):
                extracted, method, parse_failed = "", "json", True
        else:  # generic text fallback (S4 route)
            extracted = markdown_ops.title_wrap(name, text) if mode == "agent" else text
            method = "generic"
        # F3 empty-content gate -> raw passthrough fallback, as the reference
        # falls back rather than emitting empty output (convert.py:189,222-230)
        if not extracted or not extracted.strip():
            if parse_failed and text.strip():
                extracted, method = text, "raw"
            else:
                extracted = extracted or ""
        return {
            "extracted": extracted,
            "method": method,
            "spans": spans,
            "n_nodes": n_nodes,
            "n_kept": n_kept,
            "parse_failed": parse_failed,
        }
    except Exception as e:  # O1: total per-row
        return {**_EMPTY, "error": f"{type(e).__name__}: {e}"}


def extract_one(
    text: str | None,
    tool: str | None,
    name: str,
    mode: str,
    optimize: bool | None = None,
    validate: bool = True,
) -> dict:
    """Pure per-row kernel: route -> extract -> optimize -> validate.

    ``name`` plays the reference's filename role (frontmatter title P4a,
    fallback wrap P3). ``optimize``/``validate`` mirror the agent envelope's
    independent flags (markdown_agent.py:261-268 convert_document defaults
    True/True; main() :449-455 reads them from the stdin JSON): ``optimize``
    defaults to mode=='agent' and toggles the P4 optimizer only — the P3
    fallback title wrap stays a MODE divergence; ``validate=False`` leaves
    every A1-A3 field null (the reference's validated=False/validation=None
    result shape). Total: returns an error record instead of raising.
    THE local-oracle reference path: ``extract_batch`` must equal mapping
    this over the rows (pinned by tests/test_pipeline.py).
    """
    r = route_one(text, tool, name, mode)
    if "extracted" not in r:
        return r  # error record
    extracted = r["extracted"]
    kind = (tool or "text").lower()
    do_opt = (mode == "agent") if optimize is None else optimize
    if do_opt and extracted.strip():
        extracted = markdown_ops.optimize_markdown(extracted, f"{name}.{kind}")
    out = {
        "extracted_text": extracted,
        "method": r["method"],
        "success": True,
        "error": None,
        "spans": r["spans"],
        "n_nodes": r["n_nodes"],
        "n_kept": r["n_kept"],
        "n_spans": len(r["spans"]),
        "parse_failed": r["parse_failed"],
        "headers_count": None,
        "paragraphs_count": None,
        "lists_count": None,
        "word_count": None,
        "char_count": None,
        "issues": None,
        "quality_score": None,
        "valid": None,
    }
    if validate:
        v = markdown_ops.validate_markdown(extracted)
        out.update(
            headers_count=v["metrics"]["headers_count"],
            paragraphs_count=v["metrics"]["paragraphs_count"],
            lists_count=v["metrics"]["lists_count"],
            word_count=v["metrics"]["word_count"],
            char_count=v["metrics"]["char_count"],
            issues=list(v["issues"]),
            quality_score=v["quality_score"],
            valid=v["valid"],
        )
    return out


# kinds whose whole route is pure string/regex work — vectorizable with
# pd.Series twins of the kernels (same Python `re` engine, byte-identical;
# markdown_ops.optimize_markdown_series / validate_markdown_series)
_VECTOR_KINDS = frozenset({"markdown", "md", "plain", "text", "txt"})


def make_extract_udf(mode: str = "agent", optimize: bool | None = None, validate: bool = True):
    """Build the fused scalar pandas UDF (one Arrow boundary per batch).

    Two internal paths: markdown/plain rows run through vectorized Series
    kernels (the hot path — no per-row dispatch); HTML/PDF/office/image/json
    rows run the per-row ``extract_one`` kernel. Equality of the two paths is
    pinned by tests (the local oracle always uses ``extract_one``).
    """

    @F.pandas_udf(EXTRACT_TYPE)
    def extract_udf(text: pd.Series, tool: pd.Series, name: pd.Series) -> pd.DataFrame:
        return extract_batch(text.tolist(), tool.tolist(), name.tolist(), mode, optimize, validate)

    return extract_udf


def _obj_array(values: list):
    # np.asarray on a rectangular list-of-lists (e.g. all-empty issues)
    # builds a 2D array and breaks fancy assignment; force 1-D object
    import numpy as np

    a = np.empty(len(values), dtype=object)
    for j, v in enumerate(values):
        a[j] = v
    return a


def extract_batch(
    texts: list,
    tools: list,
    names: list,
    mode: str,
    optimize: bool | None = None,
    validate: bool = True,
) -> pd.DataFrame:
    """One Arrow batch through the fused kernel (pure function — testable
    and micro-benchmarkable without Spark).

    Routing/extraction is per-row (HTML/PDF parsers are inherently per-
    document); the optimize (P4) + validate (A1-A3) tail runs ONCE,
    vectorized over every successful row of the batch via the Series twins
    in markdown_ops — byte-identical to mapping ``extract_one`` row-by-row
    (the tests' local oracle), just without per-row kernel dispatch.
    """
    import numpy as np

    fields = [f.name for f in EXTRACT_TYPE.fields]
    do_opt = (mode == "agent") if optimize is None else optimize

    def fill_per_row(out: dict, idx) -> None:
        for i in idx:
            r = extract_one(texts[i], tools[i], names[i], mode, optimize, validate)
            for f in fields:
                out[f][i] = r[f]

    n = len(texts)
    kinds = [(t or "text").lower() for t in tools]
    out = {f: np.empty(n, dtype=object) for f in fields}
    pend_idx: list[int] = []
    pend_text: list[str] = []
    for i in range(n):
        k = kinds[i]
        if k in _VECTOR_KINDS and texts[i] is not None:
            # pure-string kinds skip route_one entirely (same semantics:
            # markdown passes through, plain title-wraps in agent mode)
            if k in ("markdown", "md"):
                extracted, method = texts[i], "markdown"
            else:
                extracted = (
                    markdown_ops.title_wrap(names[i], texts[i])
                    if mode == "agent"
                    else texts[i]
                )
                method = "generic"
            out["method"][i] = method
            out["spans"][i] = []
            out["n_nodes"][i] = out["n_kept"][i] = out["n_spans"][i] = 0
            out["parse_failed"][i] = False
        else:
            r = route_one(texts[i], tools[i], names[i], mode)
            if "extracted" not in r:  # error record: all fields fixed
                for f in fields:
                    out[f][i] = r[f]
                continue
            extracted = r["extracted"]
            out["method"][i] = r["method"]
            out["spans"][i] = r["spans"]
            out["n_nodes"][i] = r["n_nodes"]
            out["n_kept"][i] = r["n_kept"]
            out["n_spans"][i] = len(r["spans"])
            out["parse_failed"][i] = r["parse_failed"]
        pend_idx.append(i)
        pend_text.append(extracted)
    if pend_idx:
        try:
            base = pd.Series(pend_text)
            if do_opt:
                nonblank = base.str.strip().astype(bool)
                if nonblank.any():
                    nb = np.flatnonzero(nonblank.to_numpy())
                    fnames = [f"{names[pend_idx[j]]}.{kinds[pend_idx[j]]}" for j in nb]
                    base = base.copy()
                    base[nonblank] = markdown_ops.optimize_markdown_series(
                        base[nonblank], fnames
                    )
            out["extracted_text"][pend_idx] = base.to_numpy(dtype=object)
            out["success"][pend_idx] = True
            out["error"][pend_idx] = None
            if validate:
                v = markdown_ops.validate_markdown_series(base)
                out["issues"][pend_idx] = _obj_array(v["issues"])
                for z in (
                    "headers_count", "paragraphs_count", "lists_count",
                    "word_count", "char_count", "quality_score", "valid",
                ):
                    out[z][pend_idx] = v[z]
            else:
                out["issues"][pend_idx] = None
                for z in (
                    "headers_count", "paragraphs_count", "lists_count",
                    "word_count", "char_count", "quality_score", "valid",
                ):
                    out[z][pend_idx] = None
        except Exception:
            # total fallback: vectorization must never change the O1
            # invariant (a bad batch degrades to per-row, never fails)
            fill_per_row(out, pend_idx)
    return pd.DataFrame(out)


def extract_turns(
    df: DataFrame,
    mode: str = "agent",
    optimize: bool | None = None,
    validate: bool = True,
) -> DataFrame:
    """Input-hint schema in -> extracted schema out (flat columns).

    The reference's per-document name (filename stem) maps to
    ``{conv_id}-{turn_idx}`` here; the P1 space->underscore normalization is a
    plain Catalyst expression (no UDF needed). ``optimize``/``validate``
    mirror the agent envelope's independent flags (see ``extract_one``).
    """
    udf = make_extract_udf(mode, optimize, validate)
    name = F.regexp_replace(
        F.format_string("%s-%06d", F.col("conv_id"), F.col("turn_idx")), " ", "_"
    )
    # A4 pre-analysis (markdown_agent.py:133-160) is pure arithmetic on the
    # payload — plain codegen'd expressions, no reason to enter the UDF
    size_bytes = F.octet_length(F.coalesce(F.col("text"), F.lit("")))
    out = df.withColumn("x", udf(F.col("text"), F.col("tool"), name))
    out = (
        out.withColumn("size_bytes", size_bytes.cast("long"))
        .withColumn("size_mb", F.round(size_bytes / F.lit(1048576.0), 2))
        .withColumn(
            "estimated_pages",
            F.when(
                F.col("tool").isin("pdf", "pdf_text"),
                F.greatest(F.lit(1), F.floor(size_bytes / F.lit(2048))),
            )
            .otherwise(F.lit(1))
            .cast("long"),
        )
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        "x.extracted_text",
        "x.method",
        "x.success",
        "x.error",
        "x.spans",
        "x.n_nodes",
        "x.n_kept",
        "x.n_spans",
        "x.parse_failed",
        "x.headers_count",
        "x.paragraphs_count",
        "x.lists_count",
        "x.word_count",
        "x.char_count",
        "x.issues",
        "x.quality_score",
        "x.valid",
        "size_bytes",
        "size_mb",
        "estimated_pages",
    )


def with_stable_order(df: DataFrame) -> DataFrame:
    """North-rule stable turn ordering: row_number over (conv_id, turn_idx)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("rn", F.row_number().over(w))


#: turns per phase-1 slab of the two-phase conversation assembly
_BUCKET_TURNS = 1024


def _two_phase_assemble(
    df: DataFrame,
    extra_cols: tuple = (),
    phase1_extra: tuple = (),
    phase2_extra: tuple = (),
) -> DataFrame:
    """Shared skew-safe two-phase concat core over ``extracted_text``: phase
    1 groups by (conv_id, slab of ``_BUCKET_TURNS`` turns) —
    mega-conversations spread over many tasks; each slab sorts its turns
    locally (array_sort on struct orders by turn_idx first) and
    concatenates; phase 2 merges the few slabs per conv. Extra aggregate
    columns ride the SAME two groupBys (one DAG, no second pass)."""
    slab = F.floor(F.col("turn_idx") / _BUCKET_TURNS).alias("slab")
    phase1 = (
        df.select("conv_id", slab, "turn_idx", F.col("extracted_text"), *extra_cols)
        .groupBy("conv_id", "slab")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "extracted_text"))),
                    lambda s: s["extracted_text"],
                ),
                "\n",
            ).alias("slab_text"),
            F.count("*").alias("slab_turns"),
            *phase1_extra,
        )
    )
    return phase1.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("slab", "slab_text"))),
                lambda s: s.slab_text,
            ),
            "\n",
        ).alias("conv_text"),
        F.sum("slab_turns").cast("int").alias("n_turns"),
        *phase2_extra,
    )


def assemble_conversations(df: DataFrame) -> DataFrame:
    """Per-conversation document assembly, skew-safe two-phase concat.
    Output: one row per conv with turns joined by newline in turn order.
    """
    return _two_phase_assemble(df)


def assemble_multimodal_conversations(df: DataFrame) -> DataFrame:
    """One packed MULTIMODAL training record per conversation — what a
    trainer actually consumes: text turns contribute their extracted
    markdown, image turns contribute a compact typed ref
    ``<media:{format}:{W}x{H}:{sha256-16}>`` inline at their turn position,
    plus a per-conversation media inventory.

    Input is the RAW transcripts frame (input-hint schema). Output:
    ``(conv_id, conv_text, n_turns, n_media, media_refs)`` where
    ``media_refs`` is the ';'-joined ``turn_idx:<media:...>`` list in turn
    order (empty string for text-only conversations). Unparseable media
    payloads fall back to the text route's apology record — exactly the
    per-turn semantics of :func:`extract_turns` in ``agent`` mode.

    Scale shape: the ref UDF runs ONLY over the filtered media turns (the
    text majority never enters that Python stage); the (conv_id, turn_idx)
    join and the conversation groupBys share a key family, and the text
    assembly reuses the skew-safe two-phase slab concat.
    """
    from docling_gfcr_spark.operators import multimodal as mm

    refs = (
        df.where(F.col("tool").isin(sorted(IMAGE_KINDS)))
        .select("conv_id", "turn_idx", mm.media_ref_udf(F.col("text")).alias("media_ref"))
    )
    ex = extract_turns(df, mode="agent")
    merged = ex.join(refs, ["conv_id", "turn_idx"], "left")
    # ONE downstream DAG: text slabs AND the media inventory ride the same
    # two-phase groupBys, so the ref UDF / join never evaluate twice
    media_item = F.when(
        F.col("media_ref").isNotNull(), F.struct("turn_idx", "media_ref")
    )  # null for text turns: collect_list skips them
    base = merged.select(
        "conv_id",
        "turn_idx",
        F.coalesce(F.col("media_ref"), F.col("extracted_text")).alias("extracted_text"),
        media_item.alias("mi"),
    )
    media_sorted = F.array_sort(F.flatten(F.collect_list("slab_media")))
    return _two_phase_assemble(
        base,
        extra_cols=("mi",),
        phase1_extra=(F.collect_list("mi").alias("slab_media"),),
        phase2_extra=(
            F.size(media_sorted).cast("int").alias("n_media"),
            F.array_join(
                F.transform(
                    media_sorted,
                    lambda s: F.concat_ws(":", s.turn_idx.cast("string"), s.media_ref),
                ),
                ";",
            ).alias("media_refs"),
        ),
    )

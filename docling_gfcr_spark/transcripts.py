"""Deterministic, distributed synthetic transcripts generator.

Produces the exact ``input_hint`` schema from BASELINE.json:
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` — a table of multi-turn conversation/agent transcripts whose
``text`` payloads are HTML (with *known planted* main content surrounded by
known boilerplate), PDF page streams, markdown, plain text, and JSON tool
envelopes. Because every payload is derived from ``(seed, conv_idx, turn_idx)``
alone, generation is reproducible at any parallelism and any scale:
``spark.range(n_conv)`` fans out and each task generates its conversations
independently (no shuffle, no driver-side data).

Skew is generated on purpose: every ``mega_every``-th conversation gets
``skew_factor``x the turns, so the pipeline's two-phase slab assembly
(``pipeline._two_phase_assemble``) has a real hot key to spread.
"""

from __future__ import annotations

import base64
import json
import zlib
from datetime import datetime, timedelta, timezone
from typing import Iterator

import numpy as np
import pandas as pd

from docling_gfcr_spark.kernels.pdf_layout import PAGE_SEP

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def generator_fingerprint() -> str:
    """Hash of a deterministic PROBE of the generator's actual output.
    Bench corpus caches key their directory name on this, so a kind-mix or
    payload-kernel change can never silently time a STALE corpus (round-4
    verdict: the cache was keyed by conv count alone) — while parser-only
    or comment-only code changes, which leave the generated bytes
    identical, keep the cache (hashing module SOURCE files over-invalidated
    a 250 MB corpus).

    Three layers so EVERY generator branch feeds the hash (probing a few
    conversations alone provably missed the pdf compress / office junk
    branches): (a) 30 full conversations (conv/role/ts/skew structure);
    (b) 64 fixed RandomStates through every payload builder (internal junk
    / compress / subkind branches — coverage asserted in
    tests/test_pipeline.py::test_generator_fingerprint_branch_coverage);
    (c) 600 gen_turn draws (kind mix, binary_stub, adversarial
    truncation)."""
    import hashlib

    h = hashlib.sha256()

    def upd(x) -> None:
        h.update(repr(x).encode("utf-8", "surrogatepass"))

    for c in range(30):
        for r in gen_conv_rows(123, c, mean_turns=6, mega_every=10, skew_factor=5):
            upd((r["conv_id"], r["turn_idx"], r["role"], r["tool"], r["text"], r["ts"]))
    for build in _PROBE_BUILDERS:
        for s in range(64):
            upd(build(np.random.RandomState(s)))
    for t in range(600):
        upd(gen_turn(7, 0, t))
    return h.hexdigest()[:10]

_VOCAB = (
    "data spark table query window merge batch stream filter aggregate join row "
    "column value key scan sort hash group partition line customer order fast "
    "slow big small vector engine plan shuffle broadcast salt skew lineage"
).split()
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

# marker words that must NEVER appear in extracted output (they only occur in
# planted boilerplate) — tests key on these.
NAV_MARKER = "navboilerplate"
AD_MARKER = "sponsoredboilerplate"
FOOTER_MARKER = "footerboilerplate"

# Payload kinds per FIXTURES.md §A2 (html / pdf_text / markdown / plain /
# binary_stub / unsupported_ext) plus the richer layout-marked page stream
# ("pdf"), tool-JSON envelopes ("json"), the office sidecars ("docx"/"xlsx"/
# "pptx"), real image containers base64'd ("image" fans out to the concrete
# format kind), and raw-bytes-through-the-encoding-cascade ("text_b64").
KINDS = (
    "html", "pdf_text", "pdf", "markdown", "plain", "json", "binary_stub",
    "unsupported_ext", "docx", "xlsx", "pptx", "image", "text_b64", "csv", "xml",
    "adoc", "doc", "docx_b64", "xlsx_b64", "pptx_b64", "pdf_b64",
)
_KIND_P = (
    0.18, 0.08, 0.08, 0.09, 0.085, 0.08, 0.02, 0.02, 0.06, 0.04, 0.04, 0.04,
    0.02, 0.03, 0.02, 0.03, 0.02, 0.02, 0.015, 0.015, 0.015,
)
_IMAGE_SUBKINDS = ("png", "jpeg", "bmp", "webp", "tiff")


def _rng(seed: int, conv_idx: int, turn_idx: int = -1) -> np.random.RandomState:
    key = f"{seed}:{conv_idx}:{turn_idx}".encode()
    return np.random.RandomState(zlib.crc32(key) & 0x7FFFFFFF)


def _sentence(rng: np.random.RandomState, n: int) -> str:
    return " ".join(rng.choice(_VOCAB, size=n)) + "."


def _paragraphs(rng: np.random.RandomState, n_para: int) -> list[str]:
    return [_sentence(rng, int(rng.randint(9, 24))) for _ in range(n_para)]


def build_html_payload(rng: np.random.RandomState) -> tuple[str, list[str]]:
    """HTML page with planted main content; returns (payload, planted_lines)."""
    title = _sentence(rng, 4).rstrip(".")
    paras = _paragraphs(rng, int(rng.randint(2, 6)))
    items = [_sentence(rng, int(rng.randint(2, 5))).rstrip(".") for _ in range(int(rng.randint(0, 4)))]
    nav = " ".join(f'<a href="/{i}">{NAV_MARKER}{i}</a>' for i in range(4))
    ad = f'<div class="ads banner"><p>{AD_MARKER} ' + _sentence(rng, 10) + "</p></div>"
    body = [f"<nav class='menu'>{nav}</nav>", "<article>", f"<h1>{title}</h1>"]
    planted = [f"# {title}"]
    for p in paras:
        body.append(f"<p>{p}</p>")
        planted.append(p)
    if items:
        body.append("<ul>" + "".join(f"<li>{i}</li>" for i in items) + "</ul>")
        planted.extend(f"- {i}" for i in items)
    body += ["</article>", ad, f"<footer>{FOOTER_MARKER} legal</footer>"]
    return "<html><body>" + "\n".join(body) + "</body></html>", planted


def build_pdf_payload(rng: np.random.RandomState) -> str:
    """Page stream with coordinate-marked two-column blocks on some pages."""
    pages = []
    for _ in range(int(rng.randint(1, 4))):
        blocks = []
        two_col = rng.rand() < 0.5
        for bi in range(int(rng.randint(1, 4))):
            txt = _sentence(rng, int(rng.randint(6, 14)))
            if two_col:
                x = 50 if rng.rand() < 0.5 else 350
                blocks.append(f"[[{x},{bi * 100}]]{txt}")
            else:
                blocks.append(txt)
        pages.append("\n\n".join(blocks))
    return PAGE_SEP.join(pages)


def build_markdown_payload(rng: np.random.RandomState) -> str:
    parts = [f"# {_sentence(rng, 3).rstrip('.')}"]
    parts += _paragraphs(rng, int(rng.randint(1, 4)))
    if rng.rand() < 0.5:
        parts.append("- " + _sentence(rng, 3))
    return "\n\n".join(parts)


def build_json_payload(rng: np.random.RandomState) -> str:
    return json.dumps(
        {
            "tool_name": str(rng.choice(["search", "browse", "calc"])),
            "content": _sentence(rng, int(rng.randint(8, 20))),
            "status": "ok" if rng.rand() < 0.9 else "error",
        },
        ensure_ascii=False,
        sort_keys=True,
    )


def build_pdf_text_payload(rng: np.random.RandomState) -> str:
    """FIXTURES.md A2 pdf_text: JSON array of page text strings."""
    pages = [_sentence(rng, int(rng.randint(8, 20))) for _ in range(int(rng.randint(1, 6)))]
    return json.dumps(pages, ensure_ascii=False)


def build_docx_payload(rng: np.random.RandomState) -> str:
    return json.dumps(_docx_spec(rng), ensure_ascii=False, sort_keys=True)


def _docx_spec(rng: np.random.RandomState) -> dict:
    """Shared structure generator for the docx sidecar AND the real-binary
    docx payloads (same distribution of styles/tables)."""
    paras: list[dict] = [{"style": "Title", "text": _sentence(rng, 3).rstrip(".")}]
    for si in range(int(rng.randint(1, 4))):
        paras.append({"style": f"Heading{1 + si % 3}", "text": _sentence(rng, 4).rstrip(".")})
        for _ in range(int(rng.randint(1, 3))):
            paras.append({"style": "Normal", "text": _sentence(rng, int(rng.randint(8, 18)))})
        if rng.rand() < 0.4:
            for _ in range(int(rng.randint(1, 4))):
                paras.append({"style": "List", "text": _sentence(rng, 3).rstrip(".")})
    doc: dict = {"paragraphs": paras}
    if rng.rand() < 0.4:
        doc["tables"] = [
            [[str(rng.choice(_VOCAB)) for _ in range(3)] for _ in range(int(rng.randint(2, 5)))]
        ]
    return doc


def build_docx_b64_payload(rng: np.random.RandomState) -> str:
    """REAL PK-zip DOCX bytes, base64'd (kernels/docx_binary.py builds and
    parses actual WordprocessingML). ~8% junk bytes exercise the
    generic-fallback apology path, like the image generator."""
    from docling_gfcr_spark.kernels import docx_binary

    if rng.rand() < 0.08:
        blob = b"PK\x03\x04" + rng.bytes(44)  # zip magic, corrupt body
    else:
        blob = docx_binary.build_docx(_docx_spec(rng))
    return base64.b64encode(blob).decode("ascii")


def _xlsx_spec(rng: np.random.RandomState) -> dict:
    sheets = {}
    for si in range(int(rng.randint(1, 3))):
        n_cols = int(rng.randint(2, 5))
        rows = [[str(rng.choice(_VOCAB)) for _ in range(n_cols)]]
        for _ in range(int(rng.randint(1, 6))):
            rows.append([int(rng.randint(0, 1000)) for _ in range(n_cols)])
        sheets[f"Sheet{si + 1}"] = rows
    return {"sheets": sheets}


def build_xlsx_payload(rng: np.random.RandomState) -> str:
    return json.dumps(_xlsx_spec(rng), ensure_ascii=False, sort_keys=True)


def build_xlsx_b64_payload(rng: np.random.RandomState) -> str:
    """REAL PK-zip XLSX bytes, base64'd (kernels/office_binary.py); ~8% junk."""
    from docling_gfcr_spark.kernels import office_binary

    if rng.rand() < 0.08:
        blob = b"PK\x03\x04" + rng.bytes(44)
    else:
        blob = office_binary.build_xlsx(_xlsx_spec(rng))
    return base64.b64encode(blob).decode("ascii")


def build_pdf_b64_payload(rng: np.random.RandomState) -> str:
    """REAL PDF bytes (uncompressed content streams), base64'd
    (kernels/pdf_binary.py); ~8% junk — half with a valid %PDF header but a
    broken object graph — exercises the error-envelope route."""
    from docling_gfcr_spark.kernels import pdf_binary

    if rng.rand() < 0.08:
        blob = (b"%PDF-1.4\n" if rng.rand() < 0.5 else b"") + rng.bytes(60)
    else:
        pages = [
            [_sentence(rng, int(rng.randint(4, 10))) for _ in range(int(rng.randint(1, 5)))]
            for _ in range(int(rng.randint(1, 4)))
        ]
        # ~40% FlateDecode content streams (the common real-world case)
        blob = pdf_binary.build_pdf(pages, compress=bool(rng.rand() < 0.4))
    return base64.b64encode(blob).decode("ascii")


def build_pdf_encrypted_payload(rng: np.random.RandomState) -> str:
    """ENCRYPTED PDF bytes, base64'd: a Standard /Encrypt dictionary in the
    trailer with XOR-scrambled content streams as stand-in ciphertext. The
    parser has no decryption support and refuses at the trailer check
    (kernels/pdf_doc.py), so the pipeline routes these to the reference's
    PDF-failure error envelope — the row is preserved, success=false."""
    from docling_gfcr_spark.kernels import pdf_binary

    pages = [
        [_sentence(rng, int(rng.randint(4, 10))) for _ in range(int(rng.randint(1, 4)))]
        for _ in range(int(rng.randint(1, 3)))
    ]
    blob = pdf_binary.build_pdf(
        pages, compress=bool(rng.rand() < 0.4), encrypt=True
    )
    return base64.b64encode(blob).decode("ascii")


def build_pptx_b64_payload(rng: np.random.RandomState) -> str:
    """REAL PK-zip PPTX bytes, base64'd (kernels/office_binary.py); ~8% junk."""
    from docling_gfcr_spark.kernels import office_binary

    if rng.rand() < 0.08:
        blob = b"PK\x03\x04" + rng.bytes(44)
    else:
        blob = office_binary.build_pptx(_pptx_spec(rng))
    return base64.b64encode(blob).decode("ascii")


def _pptx_spec(rng: np.random.RandomState) -> dict:
    slides = [
        {
            "title": _sentence(rng, 3).rstrip("."),
            "bullets": [_sentence(rng, int(rng.randint(2, 6))) for _ in range(int(rng.randint(1, 5)))],
        }
        for _ in range(int(rng.randint(1, 4)))
    ]
    return {"slides": slides}


def build_pptx_payload(rng: np.random.RandomState) -> str:
    return json.dumps(_pptx_spec(rng), ensure_ascii=False, sort_keys=True)


def build_image_payload(rng: np.random.RandomState) -> tuple[str, str]:
    """(base64 payload, concrete kind). ~10% junk bytes exercise the
    reference's generic-fallback apology path."""
    from docling_gfcr_spark.kernels import media

    kind = _IMAGE_SUBKINDS[int(rng.randint(0, len(_IMAGE_SUBKINDS)))]
    w, h = int(rng.randint(4, 40)), int(rng.randint(4, 40))
    if rng.rand() < 0.10:
        blob = rng.bytes(48)  # junk: no valid container header
    else:
        builder = {
            "png": media.build_png,
            "jpeg": media.build_jpeg,
            "bmp": media.build_bmp,
            "webp": lambda w_, h_, seed=0: media.build_webp(w_, h_),
            "tiff": lambda w_, h_, seed=0: media.build_tiff(w_, h_),
        }[kind]
        blob = builder(w, h, int(rng.randint(0, 255)))
    return base64.b64encode(blob).decode("ascii"), kind


# Portuguese-ish fragments with non-ASCII bytes: cp1252/latin-1 encodings of
# these are NOT valid utf-8, so the cascade's fallback step actually fires.
_ACCENTED = ("extração de conteúdo", "análise rápida", "seção de validação", "página índice")


def build_text_b64_payload(rng: np.random.RandomState) -> str:
    enc = str(rng.choice(["utf-8", "cp1252", "latin-1"]))
    # em-dash exists in cp1252 (0x97, an invalid utf-8 byte — forces the
    # cascade's fallback) but not in latin-1
    dash = "—" if enc != "latin-1" else "-"
    body = f"{rng.choice(_ACCENTED)} {dash} {_sentence(rng, int(rng.randint(6, 14)))}"
    return base64.b64encode(body.encode(enc)).decode("ascii")


def build_adoc_payload(rng: np.random.RandomState) -> str:
    """AsciiDoc document: attribute entries, '=' headings, '*' bullets and a
    '----' literal block (exercises every rule in kernels/asciidoc.py)."""
    parts = [f"= {_sentence(rng, 3).rstrip('.')}", ":toc: left", ""]
    for si in range(int(rng.randint(1, 4))):
        parts.append(f"{'=' * int(rng.randint(2, 4))} {_sentence(rng, 3).rstrip('.')}")
        parts.append("")
        parts.append(_sentence(rng, int(rng.randint(8, 18))))
        if rng.rand() < 0.5:
            for d in range(int(rng.randint(1, 4))):
                parts.append(f"{'*' * (1 + (d % 2))} {_sentence(rng, 3).rstrip('.')}")
        if rng.rand() < 0.3:
            parts += ["", "----", _sentence(rng, 5), "----"]
        parts.append("")
    return "\n".join(parts)


def build_csv_payload(rng: np.random.RandomState) -> str:
    """CSV grid with quoted cells containing commas (exercises real parsing)."""
    n_cols = int(rng.randint(2, 5))
    lines = [",".join(str(rng.choice(_VOCAB)) for _ in range(n_cols))]
    for _ in range(int(rng.randint(2, 7))):
        cells = []
        for _ in range(n_cols):
            if rng.rand() < 0.2:
                cells.append('"' + f"{rng.choice(_VOCAB)}, {rng.choice(_VOCAB)}" + '"')
            else:
                cells.append(str(int(rng.randint(0, 10_000))))
        lines.append(",".join(cells))
    return "\n".join(lines)


def build_xml_payload(rng: np.random.RandomState) -> str:
    paras = "".join(
        f"<para>{_sentence(rng, int(rng.randint(8, 16)))}</para>"
        for _ in range(int(rng.randint(1, 4)))
    )
    return (
        f"<?xml version='1.0'?><doc><title>{_sentence(rng, 3).rstrip('.')}</title>"
        f"<section>{paras}</section></doc>"
    )


# every payload builder, swept by generator_fingerprint with fixed seeds so
# each internal branch (junk fractions, compress paths, subkind choices)
# contributes to the corpus-cache key
_PROBE_BUILDERS = (
    build_html_payload,
    build_pdf_payload,
    build_pdf_text_payload,
    build_markdown_payload,
    build_json_payload,
    build_docx_payload,
    build_docx_b64_payload,
    build_xlsx_payload,
    build_xlsx_b64_payload,
    build_pptx_payload,
    build_pptx_b64_payload,
    build_pdf_b64_payload,
    build_pdf_encrypted_payload,
    build_image_payload,
    build_text_b64_payload,
    build_adoc_payload,
    build_csv_payload,
    build_xml_payload,
)


def gen_turn(seed: int, conv_idx: int, turn_idx: int) -> tuple[str, str, str]:
    """(role, text, tool) for one turn — THE deterministic unit both the Spark
    generator and local test oracles call."""
    rng = _rng(seed, conv_idx, turn_idx)
    kind = str(rng.choice(KINDS, p=_KIND_P))
    if kind == "html":
        text, _ = build_html_payload(rng)
    elif kind == "pdf":
        text = build_pdf_payload(rng)
    elif kind == "pdf_text":
        text = build_pdf_text_payload(rng)
    elif kind == "markdown":
        text = build_markdown_payload(rng)
    elif kind == "json":
        text = build_json_payload(rng)
    elif kind == "binary_stub":
        # %PDF magic + junk bytes (latin-1-safe string column)
        text = "%PDF-1.4\n" + "".join(chr(c) for c in rng.randint(1, 255, size=64))
    elif kind == "unsupported_ext":
        text = _sentence(rng, 12)
    elif kind in ("docx", "doc"):
        text = build_docx_payload(rng)
    elif kind == "docx_b64":
        text = build_docx_b64_payload(rng)
    elif kind == "xlsx_b64":
        text = build_xlsx_b64_payload(rng)
    elif kind == "pptx_b64":
        text = build_pptx_b64_payload(rng)
    elif kind == "pdf_b64":
        # ~18% of binary PDFs arrive encrypted (fans out to its own kind so
        # the corpus kind mix counts the clean-refusal route, mirroring the
        # image subkind fan-out)
        if rng.rand() < 0.18:
            text, kind = build_pdf_encrypted_payload(rng), "pdf_encrypted"
        else:
            text = build_pdf_b64_payload(rng)
    elif kind == "adoc":
        text = build_adoc_payload(rng)
    elif kind == "xlsx":
        text = build_xlsx_payload(rng)
    elif kind == "pptx":
        text = build_pptx_payload(rng)
    elif kind == "image":
        text, kind = build_image_payload(rng)
    elif kind == "text_b64":
        text = build_text_b64_payload(rng)
    elif kind == "csv":
        text = build_csv_payload(rng)
    elif kind == "xml":
        text = build_xml_payload(rng)
    else:  # plain
        text = "\n".join(_paragraphs(rng, int(rng.randint(1, 3))))
    role = ("user", "assistant", "tool")[turn_idx % 3]  # FIXTURES.md A1 cycle
    # ~1% adversarial payloads: truncated/garbled, to exercise error routing
    # (base64 kinds excluded: truncation there just tests b64 padding, not
    # parser robustness — the image generator plants its own junk payloads)
    if rng.rand() < 0.01 and kind not in _IMAGE_SUBKINDS and not kind.endswith("_b64"):
        text = text[: max(1, len(text) // 3)] + "\x00<unclosed"
    return role, text, kind


def n_turns_for(seed: int, conv_idx: int, mean_turns: int, mega_every: int, skew_factor: int) -> int:
    n = 1 + int(_rng(seed, conv_idx).poisson(mean_turns))
    if mega_every and conv_idx % mega_every == 0:
        n *= skew_factor
    return n


def gen_conv_rows(
    seed: int, conv_idx: int, mean_turns: int = 8, mega_every: int = 0, skew_factor: int = 50
) -> list[dict]:
    """Rows for one conversation, WRITE-ORDER SHUFFLED (FIXTURES.md A1: the
    stable-ordering window over (conv_id, turn_idx) must actually have work
    to do; ts = epoch + conv_seq*3600 + turn_idx*7 seconds)."""
    conv_id = f"conv-{conv_idx:08d}"
    rows = []
    for t in range(n_turns_for(seed, conv_idx, mean_turns, mega_every, skew_factor)):
        role, text, tool = gen_turn(seed, conv_idx, t)
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": role,
                "text": text,
                "tool": tool,
                "ts": _EPOCH + timedelta(seconds=conv_idx * 3600 + t * 7),
            }
        )
    order = _rng(seed, conv_idx).permutation(len(rows))
    return [rows[i] for i in order]


def make_transcripts(
    spark,
    n_conv: int,
    mean_turns: int = 8,
    seed: int = 42,
    mega_every: int = 0,
    skew_factor: int = 50,
    parallelism: int | None = None,
):
    """Distributed generation: spark.range -> mapInPandas, zero shuffle.

    At 100 TB the same code holds: each task generates its id-range locally;
    partition count scales with ``parallelism``.
    """
    mean_turns_, seed_, mega_, skewf_ = mean_turns, seed, mega_every, skew_factor

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for conv_idx in pdf["id"].tolist():
                out.extend(gen_conv_rows(seed_, int(conv_idx), mean_turns_, mega_, skewf_))
            if out:
                yield pd.DataFrame(out)

    rng_df = spark.range(0, n_conv, numPartitions=parallelism or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=SCHEMA)

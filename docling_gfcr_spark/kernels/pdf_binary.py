"""Real PDF byte-stream kernel — stdlib only.

The reference converts actual ``.pdf`` binaries via docling
(/root/reference/scripts/convert.py:113-128; golden artifact
``manual-de-redacao.pdf`` -> md). The pipeline route lives here:

- :func:`build_pdf` — deterministic minimal-but-real PDF writer (correct
  xref byte offsets, one content stream per page, optional FlateDecode,
  Helvetica Type1 font) — the synthetic-corpus generator's PDF source.
- :func:`pdf_bytes_to_pages` — the ``pdf_b64`` route's entrypoint; since
  round 5 it delegates to the full document-level parser in
  ``kernels/pdf_doc.py`` (xref tables AND streams, object streams,
  indirect /Length, font-aware text decode), which parses the reference's
  real golden artifact and keeps the identical output on synthetics.

The extracted page list feeds the same S3 assembly (`# Página` headers)
as the ``pdf_text`` sidecar route, so downstream semantics are identical.
"""

from __future__ import annotations


def _escape(text: str) -> bytes:
    raw = text.encode("latin-1", errors="replace")
    return raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def pdf_bytes_to_pages(blob: bytes) -> list[str]:
    """Real PDF bytes -> per-page extracted text (one line per text-showing
    operator). Raises ``ValueError`` on non-PDF bytes, unsupported stream
    filters, or a broken object graph.

    Round 5: delegates to the full document parser (kernels/pdf_doc.py) —
    xref tables AND streams, object streams, indirect /Length resolution,
    balanced-paren string scanning, font-aware decoding — which subsumes the
    round-4 regex walker while keeping its exact output on the synthetic
    corpus (one line per show op, latin-1 default decode)."""
    from docling_gfcr_spark.kernels import pdf_doc

    return pdf_doc.parse_pdf_pages(blob)


def build_pdf(pages: list[list[str]], compress: bool = False, encrypt: bool = False) -> bytes:
    """Deterministic minimal-but-real PDF: header, Catalog -> Pages -> one
    Page + Contents stream per page (``compress=True`` -> FlateDecode via
    zlib level 9, still deterministic), Helvetica font, valid xref table and
    trailer. ``pages`` is a list of text-line lists.

    ``encrypt=True`` writes an ENCRYPTED document shape: a Standard
    security-handler /Encrypt dictionary referenced from the trailer, with
    every content stream XOR-scrambled as stand-in ciphertext (real RC4/AES
    is pointless here — the parser must refuse at the trailer check,
    kernels/pdf_doc.py, never decode the streams)."""
    n = len(pages)
    font_id = 3 + 2 * n
    objs: list[bytes] = []
    kid_ids = [3 + 2 * i for i in range(n)]
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # obj 1
    kids = b" ".join(b"%d 0 R" % k for k in kid_ids)
    objs.append(b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n)  # obj 2
    for i, lines in enumerate(pages):
        page_id = kid_ids[i]
        content_id = page_id + 1
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
            % (font_id, content_id)
        )
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + _escape(line) + b") Tj")
        ops.append(b"ET")
        stream = b"\n".join(ops)
        if compress:
            import zlib

            stream = zlib.compress(stream, 9)
        if encrypt:
            stream = bytes(b ^ 0xA5 for b in stream)
        if compress:
            objs.append(
                b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
                + stream
                + b"\nendstream"
            )
        else:
            objs.append(
                b"<< /Length %d >>\nstream\n" % len(stream) + stream + b"\nendstream"
            )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")  # font
    encrypt_ref = b""
    if encrypt:
        objs.append(
            b"<< /Filter /Standard /V 1 /R 2 /P -44 "
            b"/O <28bf4e5e4e758a4164004e56fffa01082e2e00b6d0683e802f0ca9fe6453697a> "
            b"/U <2e2e00b6d0683e802f0ca9fe6453697a28bf4e5e4e758a4164004e56fffa0108> >>"
        )
        encrypt_ref = b" /Encrypt %d 0 R" % len(objs)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R" % (len(objs) + 1)
        + encrypt_ref
        + b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_at
    )
    return bytes(out)

"""Document-level PDF parser (kernels/pdf_doc.py): xref streams, object
streams, ToUnicode font decode, indirect /Length, balanced-paren strings —
plus the reference's real golden artifact end-to-end."""

from __future__ import annotations

import os
import zlib

import pytest

from docling_gfcr_spark.kernels import pdf_binary, pdf_doc

GOLDEN_PDF = "/root/reference/manual-de-redacao.pdf"
GOLDEN_MD = "/root/reference/output/manual-de-redacao.md"


# ---------------------------------------------------------------------------
# synthetic PDF 1.5 builder: xref STREAM (PNG Up predictor) + ObjStm + Type0
# font with a ToUnicode CMap — the three real-world features the round-4
# kernel lacked, pinned deterministically without the reference file
# ---------------------------------------------------------------------------


def _png_up_encode(rows: list[bytes]) -> bytes:
    out = bytearray()
    prev = bytes(len(rows[0]))
    for row in rows:
        out.append(2)  # Up
        out += bytes((row[k] - prev[k]) & 0xFF for k in range(len(row)))
        prev = row
    return bytes(out)


def build_pdf15(content_ops: bytes, cmap_body: bytes) -> bytes:
    """PDF 1.5 file: Catalog/Pages/Page/Font dicts packed in an /ObjStm,
    content + ToUnicode as Flate streams, and a /Type/XRef cross-reference
    stream (W [1 2 1], PNG Up predictor) — NO classic xref table at all."""
    # objects 1,2,3,5 live in the ObjStm (obj 7); 4,6,7,8 are file-level
    packed = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        ),
        (
            5,
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Fake-Identity-H "
            b"/Encoding /Identity-H /ToUnicode 6 0 R >>",
        ),
    ]
    header = b" ".join(b"%d %d" % (num, off) for num, off in _objstm_offsets(packed))
    body = b" ".join(b for _, b in packed)
    objstm_payload = header + b" " + body
    objstm_z = zlib.compress(objstm_payload, 9)

    content_z = zlib.compress(content_ops, 9)
    cmap_z = zlib.compress(cmap_body, 9)

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def emit(num: int, payload: bytes) -> None:
        offsets[num] = len(out)
        out.extend(b"%d 0 obj\n" % num + payload + b"\nendobj\n")

    emit(4, b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(content_z) + content_z + b"\nendstream")
    emit(6, b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(cmap_z) + cmap_z + b"\nendstream")
    emit(
        7,
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode /Length %d >>\nstream\n"
        % (len(packed), len(header) + 1, len(objstm_z))
        + objstm_z
        + b"\nendstream",
    )
    xref_at = len(out)
    # rows for objects 0..8: type/f2/f3 with W=[1,2,1]
    rows = []
    for num in range(9):
        if num == 0:
            rows.append(bytes([0, 0, 0, 255]))
        elif num in offsets or num == 8:
            off = offsets.get(num, xref_at)
            rows.append(bytes([1, (off >> 8) & 0xFF, off & 0xFF, 0]))
        else:  # packed in ObjStm 7
            idx = [n for n, _ in packed].index(num)
            rows.append(bytes([2, 0, 7, idx]))
    xdata = zlib.compress(_png_up_encode(rows), 9)
    out.extend(
        b"8 0 obj\n<< /Type /XRef /Size 9 /W [1 2 1] /Root 1 0 R "
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 4 >> "
        b"/Length %d >>\nstream\n" % len(xdata)
        + xdata
        + b"\nendstream\nendobj\n"
    )
    out.extend(b"startxref\n%d\n%%%%EOF\n" % xref_at)
    assert len(out) < 65536, "two-byte offsets in W"
    return bytes(out)


def _objstm_offsets(packed: list[tuple[int, bytes]]) -> list[tuple[int, int]]:
    offs, pos = [], 0
    for num, body in packed:
        offs.append((num, pos))
        pos += len(body) + 1
    return offs


_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfchar
<0041> <005A>
<0042> <00C9>
endbfchar
1 beginbfrange
<0050> <0052> <0041>
endbfrange
endcmap
"""


def test_xref_stream_objstm_tounicode_roundtrip():
    """A pure-PDF-1.5 file (xref stream w/ PNG predictor, ObjStm-packed
    catalog/page/font, Identity-H + ToUnicode) decodes hex-string text."""
    ops = b"BT /F1 12 Tf <00410042> Tj 0 -14 Td <005000520051> Tj ET"
    blob = build_pdf15(ops, _CMAP)
    assert b"xref\n0 " not in blob  # really no classic table
    pages = pdf_doc.parse_pdf_pages(blob)
    # bfchar: 0041->Z, 0042->E-acute; bfrange 0050..0052 -> A..C
    assert pages == ["ZÉ\nACB"]


def test_indirect_length_resolves_not_slices():
    """`/Length 5 0 R` must resolve through the object graph; the round-4
    regex sliced the stream at the object number (ADVICE medium). The
    embedded literal 'endstream' inside the string would corrupt any
    fallback scan, so this passes ONLY via real resolution."""
    ops = b"BT (fake endstream inside) Tj ET"
    blob = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length 5 0 R >>\nstream\n" + ops + b"\nendstream endobj\n"
        b"5 0 obj %d endobj\n" % len(ops)
    )
    assert pdf_doc.parse_pdf_pages(blob) == ["fake endstream inside"]


def test_tj_array_with_brackets_and_nested_parens():
    """']' inside TJ strings and nested balanced parens are legal PDF; the
    round-4 regexes dropped the text silently (ADVICE low)."""
    import re

    new_op = b"[(a]b) -20 ([c)] TJ 0 -14 Td (par (nested (deep)) done) Tj"
    blob = pdf_binary.build_pdf([["x"]])
    old_len = int(re.search(rb"/Length (\d+)", blob).group(1))
    blob = blob.replace(b"(x) Tj", new_op).replace(
        b"/Length %d" % old_len,
        b"/Length %d" % (old_len + len(new_op) - len(b"(x) Tj")),
        1,
    )
    assert pdf_binary.pdf_bytes_to_pages(blob) == ["a]b[c\npar (nested (deep)) done"]


def _mini_pdf(ops: bytes, page_extra: bytes = b"", extra_objs: bytes = b"") -> bytes:
    """One-page xref-less PDF (brute-scan path) with a direct-/Length
    content stream; page_extra splices into the page dict."""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        + b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
        + page_extra
        + b">> endobj\n"
        + (b"4 0 obj << /Length %d >>\nstream\n" % len(ops))
        + ops
        + b"\nendstream endobj\n"
        + extra_objs
    )


def test_winansi_simple_font_decode():
    """WinAnsiEncoding == cp1252: byte 0x93 is a curly quote, not latin-1
    control; default (no /Encoding) stays latin-1 for synthetic parity."""
    blob = _mini_pdf(
        b"BT /F1 12 Tf (\x93quoted\x94 caf\xe9) Tj ET",
        page_extra=b"/Resources << /Font << /F1 5 0 R >> >> ",
        extra_objs=(
            b"5 0 obj << /Type /Font /Subtype /TrueType /BaseFont /Calibri "
            b"/Encoding /WinAnsiEncoding >> endobj\n"
        ),
    )
    assert pdf_doc.parse_pdf_pages(blob) == ["“quoted” caf\xe9"]


def test_inline_image_skipped():
    ops = b"BT (before) Tj ET BI /W 2 /H 2 ID \x00\xff(\x29garbage EI BT (after) Tj ET"
    assert pdf_doc.parse_pdf_pages(_mini_pdf(ops)) == ["before\nafter"]


@pytest.mark.skipif(not os.path.exists(GOLDEN_PDF), reason="reference artifact absent")
def test_golden_reference_pdf_extracts():
    """The reference's ONLY non-mocked correctness artifact (SURVEY.md §5):
    189-page real-world PDF 1.5 (hybrid xref + XRefStm, 12 ObjStm, WinAnsi
    TrueType + Identity-H/ToUnicode fonts). Best-effort bar per the round-4
    verdict: nonempty text from >=50 pages, never raise."""
    blob = open(GOLDEN_PDF, "rb").read()
    # best effort: a page that fails to parse counts as empty here, where
    # the pipeline's parse_pdf_pages would void the whole document
    doc = pdf_doc.PdfDocument(blob)
    pages = []
    for page, inh in doc.pages():
        try:
            pages.append(doc.page_text(page, inh))
        except ValueError:
            pages.append("")
    assert len(pages) == 189
    nonempty = sum(1 for p in pages if p.strip())
    assert nonempty >= 150, f"only {nonempty} nonempty pages"
    text = "\n".join(pages)
    # phrases the reference's own docling conversion also recovers
    for phrase in (
        "Presidência da República",
        "Michel Temer",
        "Casa Civil",
    ):
        assert phrase in text, f"missing {phrase!r}"
    # quantitative parity with the reference's own conversion output:
    # >=90% of its >=4-char vocabulary must appear in our extraction
    # (measured 97.5% recall / 87% precision / comparable char volume)
    import re as _re

    if os.path.exists(GOLDEN_MD):
        ref = open(GOLDEN_MD, encoding="utf-8").read()
        pat = r"[a-záéíóúâêôãõçà-ü]{4,}"
        ours_w = set(_re.findall(pat, text.lower()))
        ref_w = set(_re.findall(pat, ref.lower()))
        recall = len(ours_w & ref_w) / len(ref_w)
        assert recall >= 0.9, f"vocabulary recall {recall:.3f} < 0.9"
    # and through the ROUTE: pdf_binary delegates to this parser
    assert pdf_binary.pdf_bytes_to_pages(blob) == pdf_doc.parse_pdf_pages(blob)


def test_missing_kid_raises():
    """A /Kids entry referencing a nonexistent object is a broken graph:
    an error envelope, never a silently shorter document."""
    blob = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R 99 0 R] /Count 2 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        + (b"4 0 obj << /Length 6 >>\nstream\n(a) Tj\nendstream endobj\n")
    )
    with pytest.raises(ValueError, match="missing page object 99"):
        pdf_doc.parse_pdf_pages(blob)


def test_bfrange_overflow_keeps_valueerror_contract():
    """A bfrange whose increment overflows the destination width must not
    escape as OverflowError — the parser's contract is ValueError-only."""
    cmap = (
        b"begincmap 1 beginbfrange <0000> <00FF> <FF> endbfrange endcmap"
    )
    ops = b"BT /F1 12 Tf <0041> Tj ET"
    blob = build_pdf15(ops, cmap)
    pages = pdf_doc.parse_pdf_pages(blob)  # must simply not crash
    assert len(pages) == 1


def test_free_xref_entry_masks_older_object():
    """An incremental update that FREES an object must tombstone it: the
    older section's in-use offset may not resurrect deleted content."""
    doc_v1 = pdf_binary.build_pdf([["original"]])
    # append an update: xref marks content object 4 free, /Prev chains back
    prev = int(doc_v1.rsplit(b"startxref", 1)[1].split(b"%%EOF")[0].strip())
    upd_xref_at = len(doc_v1)
    update = (
        b"xref\n4 1\n0000000000 65535 f \n"
        b"trailer\n<< /Size 7 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (prev, upd_xref_at)
    )
    blob = doc_v1 + update
    d = pdf_doc.PdfDocument(blob)
    assert d.get(4) is None  # freed, not the stale stream
    # and the page now extracts as empty rather than 'original'
    with pytest.raises(ValueError):
        pdf_doc.parse_pdf_pages(blob)  # missing content object


def test_form_xobject_text_rendered():
    """Text inside a /Subtype/Form XObject (headers, stamps — routine in
    real PDFs) renders at its Do position, with the form's OWN resources;
    a self-referencing form terminates via the depth cap."""
    form = b"BT /F9 9 Tf (from-the-form) Tj ET"
    blob = _mini_pdf(
        b"BT (before) Tj ET /Fx1 Do BT (after) Tj ET",
        page_extra=b"/Resources << /XObject << /Fx1 5 0 R >> >> ",
        extra_objs=(
            (b"5 0 obj << /Type /XObject /Subtype /Form /Length %d "
             b"/Resources << /Font << /F9 6 0 R >> >> >>\nstream\n" % len(form))
            + form
            + b"\nendstream endobj\n"
            + b"6 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n"
        ),
    )
    assert pdf_doc.parse_pdf_pages(blob) == ["before\nfrom-the-form\nafter"]

    # cycle: form whose content invokes itself — depth cap, no recursion error
    cyc = b"(loop) Tj /Fx1 Do"
    blob2 = _mini_pdf(
        b"/Fx1 Do",
        page_extra=b"/Resources << /XObject << /Fx1 5 0 R >> >> ",
        extra_objs=(
            (b"5 0 obj << /Type /XObject /Subtype /Form /Length %d "
             b"/Resources << /XObject << /Fx1 5 0 R >> >> >>\nstream\n" % len(cyc))
            + cyc
            + b"\nendstream endobj\n"
        ),
    )
    pages = pdf_doc.parse_pdf_pages(blob2)
    assert len(pages) == 1 and "loop" in pages[0]


def test_form_render_budget_bounds_crafted_fanout():
    """Chained forms each invoking the next many times would render
    ~fanout^depth streams; the document-wide Do budget bounds total form
    work regardless of graph shape (untrusted pdf_b64 route)."""
    import time

    n_forms, fanout = 8, 30
    objs = b""
    for f in range(n_forms):
        oid = 5 + f
        nxt = oid + 1 if f < n_forms - 1 else oid  # last one self-refs
        body = b"(x) Tj " + (b"/Fn Do " * fanout)
        objs += (
            (b"%d 0 obj << /Type /XObject /Subtype /Form /Length %d "
             b"/Resources << /XObject << /Fn %d 0 R >> >> >>\nstream\n"
             % (oid, len(body), nxt))
            + body
            + b"\nendstream endobj\n"
        )
    blob = _mini_pdf(
        b"/F0 Do",
        page_extra=b"/Resources << /XObject << /F0 5 0 R >> >> ",
        extra_objs=objs,
    )
    t0 = time.time()
    pages = pdf_doc.parse_pdf_pages(blob)
    assert time.time() - t0 < 30, "render budget failed to bound form fanout"
    assert len(pages) == 1


def test_freed_object_not_resurrected_from_objstm():
    """A type-0 (free) entry in the newest xref stream must also mask an
    OLDER ObjStm copy of the object — the compressed-object path of the
    tombstone rule."""
    blob = build_pdf15(b"BT /F1 12 Tf <0041> Tj ET", _CMAP)
    d = pdf_doc.PdfDocument(blob)
    assert isinstance(d.get(5), dict)  # the ObjStm-packed font parses
    # now tombstone object 5 (packed in ObjStm 7) and re-load
    d2 = pdf_doc.PdfDocument(blob)
    d2.xref[5] = None
    assert d2.get(5) is None  # freed: the ObjStm sweep must not revive it


def test_font_and_stream_caches_are_per_document():
    blob = pdf_binary.build_pdf([["a"], ["b"], ["c"]])
    d = pdf_doc.PdfDocument(blob)
    pages = d.pages()
    for p, inh in pages:
        d.page_text(p, inh)
    # 3 pages, 1 shared font object -> exactly one cached decoder
    assert len(d._fonts) == 1


def test_mutation_fuzz_valueerror_only_contract():
    """Untrusted-route totality: random byte mutations of VALID documents
    must either parse or raise ValueError — never any other exception type
    (the pipeline's error envelope catches ValueError; anything else kills
    the task). This is the class of bug the bfrange OverflowError was."""
    import random

    from docling_gfcr_spark.kernels import docx_binary, office_binary

    rng = random.Random(42)
    pdf = pdf_binary.build_pdf([["some text here", "line two"], ["page 2"]], compress=True)
    pdf15 = build_pdf15(b"BT /F1 12 Tf <00410042> Tj ET", _CMAP)
    docx = docx_binary.build_docx({"paragraphs": [{"style": "Heading1", "text": "T"}, {"style": "Normal", "text": "body"}]})
    xlsx = office_binary.build_xlsx({"sheets": {"S": [["a", 1], ["b", 2]]}})

    def mutate(blob: bytes) -> bytes:
        b = bytearray(blob)
        for _ in range(rng.randrange(1, 6)):
            op = rng.randrange(3)
            pos = rng.randrange(len(b))
            if op == 0:
                b[pos] = rng.randrange(256)
            elif op == 1 and len(b) > 10:
                del b[pos : pos + rng.randrange(1, 9)]
            else:
                b[pos:pos] = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 9)))
        return bytes(b)

    for _ in range(150):
        for blob, parse in (
            (pdf, pdf_doc.parse_pdf_pages),
            (pdf15, pdf_doc.parse_pdf_pages),
            (docx, docx_binary.docx_bytes_to_markdown),
            (xlsx, office_binary.xlsx_bytes_to_markdown),
        ):
            m = mutate(blob)
            try:
                parse(m)
            except ValueError:
                pass  # the error-envelope contract
            # any OTHER exception type propagates and fails the test


def _lzw_encode(data: bytes) -> bytes:
    """Minimal PDF-variant LZW encoder (clear + EOD, early width change) —
    test-only oracle for the decoder."""
    out_bits: list[tuple[int, int]] = [(256, 9)]  # clear
    table = {bytes([i]): i for i in range(256)}
    nxt, width = 258, 9
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        out_bits.append((table[w], width))
        if nxt < 4096:  # freeze at the 12-bit ceiling (real encoders clear
            table[w + c] = nxt  # or freeze; emitting codes >= 4096 would
            nxt += 1  # silently truncate in 12 bits)
            # decoder lags one table entry behind: its early change
            # (2^w - 1) pairs with an encoder bump at 2^w
            if nxt >= (1 << width) and width < 12:
                width += 1
        w = c
    if w:
        out_bits.append((table[w], width))
    out_bits.append((257, width))  # EOD
    acc = bits = 0
    buf = bytearray()
    for code, wd in out_bits:
        acc = (acc << wd) | code
        bits += wd
        while bits >= 8:
            bits -= 8
            buf.append((acc >> bits) & 0xFF)
    if bits:
        buf.append((acc << (8 - bits)) & 0xFF)
    return bytes(buf)


def test_extra_stream_filters_roundtrip():
    """ASCII85 / RunLength / LZW streams decode (older real-world PDFs);
    image codecs still reject cleanly."""
    ops = b"BT (filter roundtrip works) Tj ET"

    def one(filter_name: bytes, payload: bytes) -> list[str]:
        blob = (
            b"%PDF-1.4\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
            b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
            + (b"4 0 obj << /Filter /" + filter_name + b" /Length %d >>\nstream\n" % len(payload))
            + payload
            + b"\nendstream endobj\n"
        )
        return pdf_doc.parse_pdf_pages(blob)

    # ASCII85 (with and without z-groups via zero padding in content)
    a85 = bytearray()
    for i in range(0, len(ops), 4):
        chunk = ops[i : i + 4]
        pad = 4 - len(chunk)
        acc = int.from_bytes(chunk + b"\x00" * pad, "big")
        digits = []
        for _ in range(5):
            acc, rem = divmod(acc, 85)
            digits.append(rem + 0x21)
        a85 += bytes(reversed(digits))[: 5 - pad]
    assert one(b"ASCII85Decode", bytes(a85) + b"~>") == ["filter roundtrip works"]

    # RunLength: literal runs of <=127 bytes + EOD
    rl = bytearray()
    for i in range(0, len(ops), 100):
        chunk = ops[i : i + 100]
        rl += bytes([len(chunk) - 1]) + chunk
    rl.append(128)
    assert one(b"RunLengthDecode", bytes(rl)) == ["filter roundtrip works"]
    # repeat-run form
    assert pdf_doc._runlength_decode(bytes([257 - 4, ord("x"), 128])) == b"xxxx"

    # LZW round-trip incl. payloads forcing width growth AND table freeze
    import random as _random

    _rng = _random.Random(9)
    long_ops = b"BT " + b" ".join(b"(token%d) Tj" % i for i in range(300)) + b" ET"
    big = bytes(_rng.randrange(64) for _ in range(20_000))  # >4096 phrases
    for payload in (ops, long_ops, big):
        assert pdf_doc._lzw_decode(_lzw_encode(payload)) == payload
    assert one(b"LZWDecode", _lzw_encode(ops)) == ["filter roundtrip works"]
    # malformed ASCII85 trailer overflow stays a ValueError (not Overflow)
    with pytest.raises(ValueError):
        pdf_doc._ascii85_decode(b"uu~>")

    # image codecs reject into the error envelope
    with pytest.raises(ValueError, match="Filter"):
        one(b"DCTDecode", b"\xff\xd8\xff junk")


# ---------------------------------------------------------------------------
# round-6 hardening: hostile payloads stay inside the ValueError contract
# (ADVICE r5 high), /Encrypt routes cleanly, hybrid XRefStm precedence
# ---------------------------------------------------------------------------


def test_hostile_nesting_raises_valueerror_not_recursionerror():
    """~1KB of '[' brackets previously blew the recursive grammar into a
    RecursionError that escaped parse_pdf_pages; the depth cap must convert
    it to ValueError (the only type the pipeline envelope catches)."""
    deep = b"[" * 5000 + b"]" * 5000
    with pytest.raises(ValueError):
        pdf_doc._parse_obj(deep, 0)
    blob = b"%PDF-1.4\n1 0 obj " + deep + b" endobj\n"
    with pytest.raises(ValueError):
        pdf_doc.parse_pdf_pages(blob)
    # nested dicts hit the same cap
    with pytest.raises(ValueError):
        pdf_doc._parse_obj(b"<< /A " * 3000 + b"1" + b" >>" * 3000, 0)
    # legitimate nesting well under the cap still parses
    ok = b"[" * 50 + b"1" + b"]" * 50
    val, _ = pdf_doc._parse_obj(ok, 0)
    for _ in range(50):
        assert isinstance(val, list)
        val = val[0]
    assert val == 1


def test_crafted_predictor_columns_raises_valueerror_not_memoryerror():
    """/DecodeParms /Columns 2**40 previously allocated a 2**40-byte row
    buffer (MemoryError); geometry is now validated against the data."""
    with pytest.raises(ValueError):
        pdf_doc._png_predictor(b"\x00abc", 2**40, 1, 8)
    with pytest.raises(ValueError):
        pdf_doc._png_predictor(b"\x00abc", 0, 1, 8)
    # end-to-end: a valid 1.5 file whose xref DecodeParms is inflated must
    # not kill the task (brute-scan recovery or ValueError are both fine)
    blob = build_pdf15(b"BT /F1 12 Tf <0041> Tj ET", _CMAP)
    bad = blob.replace(b"/Columns 4", b"/Columns 1099511627776")
    try:
        pdf_doc.parse_pdf_pages(bad)
    except ValueError:
        pass


def test_xref_stream_zero_offset_width_no_typeerror():
    """W [1 0 1] makes every offset field None; the old code stored
    ('f', None) and died later with TypeError. Now the stream is rejected
    (ValueError) and the brute scan may still recover the document."""
    blob = build_pdf15(b"BT /F1 12 Tf <00410042> Tj ET", _CMAP)
    bad = blob.replace(b"/W [1 2 1]", b"/W [1 0 1]")
    try:
        pages = pdf_doc.parse_pdf_pages(bad)
        assert isinstance(pages, list)
    except ValueError:
        pass


def test_encrypted_pdf_routes_to_clean_valueerror():
    """A /Encrypt trailer must be detected explicitly and refused with a
    clean ValueError — never garble-and-hope through ciphertext streams."""
    blob = build_pdf15(b"BT /F1 12 Tf <0041> Tj ET", _CMAP)
    enc = blob.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    with pytest.raises(ValueError, match="encrypted"):
        pdf_doc.parse_pdf_pages(enc)
    # classic-table trailer form too
    classic = pdf_binary.build_pdf([["hello"]])
    enc2 = classic.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    if enc2 != classic:  # builder emits a trailer dict with /Root
        with pytest.raises(ValueError, match="encrypted"):
            pdf_doc.parse_pdf_pages(enc2)


def _hybrid_pdf(content_ops: bytes, cmap_body: bytes) -> bytes:
    """Hybrid-reference file (ISO 32000-1 7.5.8.4): a CLASSIC xref table that
    lists the ObjStm-packed objects (1,2,3,5) as FREE, plus an /XRefStm
    stream mapping them as type-2 entries. Readers that honor the stream see
    the document; table-only readers see free slots."""
    blob = bytearray(build_pdf15(content_ops, cmap_body))
    # strip the trailing "startxref\nN\n%%EOF\n" from the 1.5 builder
    sx = blob.rindex(b"startxref")
    xrefstm_off = int(blob[sx:].split()[1])
    del blob[sx:]
    table_at = len(blob)
    # offsets of the file-level objects, recovered from the blob itself
    offs = {}
    for num in (4, 6, 7, 8):
        offs[num] = blob.index(b"%d 0 obj" % num)
    lines = [b"xref\n0 9\n", b"0000000000 65535 f \n"]
    for num in range(1, 9):
        if num in offs:
            lines.append(b"%010d 00000 n \n" % offs[num])
        else:  # the hybrid compat pattern: ObjStm members listed as free
            lines.append(b"0000000000 00001 f \n")
    lines.append(
        b"trailer\n<< /Size 9 /Root 1 0 R /XRefStm %d >>\n" % xrefstm_off
    )
    lines.append(b"startxref\n%d\n%%%%EOF\n" % table_at)
    blob.extend(b"".join(lines))
    return bytes(blob)


def test_hybrid_xrefstm_takes_precedence_over_free_tombstones():
    """The section's /XRefStm must be applied BEFORE its table entries:
    hybrids list ObjStm-compressed objects as free in the classic table, and
    table-first order masked them to null (r5 ADVICE low) and the parse
    failed."""
    blob = _hybrid_pdf(b"BT /F1 12 Tf <00410042> Tj ET", _CMAP)
    assert b"\nxref\n" in b"\n" + blob[-400:]  # startxref targets the table
    assert pdf_doc.parse_pdf_pages(blob) == ["ZÉ"]

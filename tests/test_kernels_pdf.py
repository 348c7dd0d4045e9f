from __future__ import annotations

from docling_gfcr_spark.kernels import encodings
from docling_gfcr_spark.kernels.pdf_layout import PAGE_SEP, assemble_pdf, dehyphenate, reading_order


def test_page_header_format_matches_reference():
    # format parity with /root/reference/scripts/convert.py:123-127
    stream = "page one text" + PAGE_SEP + "page two text"
    out = assemble_pdf(stream)
    assert out["n_pages"] == 2
    expected = "\n".join(
        [
            "\n\n# Página 1\n\npage one text",
            "\n\n# Página 2\n\npage two text",
        ]
    )
    assert out["text"] == expected


def test_two_column_reading_order():
    page = (
        "[[50,100]]left top\n\n"
        "[[350,100]]right top\n\n"
        "[[50,200]]left bottom\n\n"
        "[[350,200]]right bottom"
    )
    out = assemble_pdf(page)
    body = out["text"]
    order = [body.index(s) for s in ("left top", "left bottom", "right top", "right bottom")]
    assert order == sorted(order)


def test_unmarked_blocks_keep_stream_order():
    page = "first block\n\nsecond block\n\nthird block"
    body = assemble_pdf(page)["text"]
    assert body.index("first") < body.index("second") < body.index("third")


def test_dehyphenation():
    assert dehyphenate("exam-\nple") == "example"
    assert dehyphenate("well - spaced") == "well - spaced"


def test_reading_order_deterministic_on_ties():
    blocks = [(10.0, 50.0, "a"), (10.0, 50.0, "b")]
    assert reading_order(blocks) == ["a", "b"]


def test_assemble_total():
    assert assemble_pdf(None)["parse_failed"] is True


def test_encoding_cascade():
    assert encodings.decode_cascade("olá".encode("utf-8")) == "olá"
    # 0xe9 is é in latin-1, invalid as utf-8 start of sequence here
    assert encodings.decode_cascade(b"caf\xe9") == "café"


# ---- randomized totality/format properties --------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.sampled_from(list("ab \n\x0c[],.0-")), max_size=300))
def test_assemble_pdf_total_and_header_exact(stream):
    out = assemble_pdf(stream)
    assert isinstance(out["text"], str)
    assert out["n_pages"] == stream.count("\x0c") + 1 or out["parse_failed"]
    # every page header appears exactly once per page in order
    if not out["parse_failed"]:
        for i in range(out["n_pages"]):
            assert f"# Página {i + 1}\n" in out["text"]


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200))
def test_decode_cascade_total(payload):
    out = encodings.decode_cascade(payload)
    assert out is None or isinstance(out, str)
    # latin-1 accepts any byte: cascade can only fail on empty-never case
    assert out is not None


# ---- media kernel totality fuzz (stdlib container parsers) ----------------


def test_parse_media_total_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from docling_gfcr_spark.kernels import media
    from docling_gfcr_spark.operators import multimodal as mm

    magics = [b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"GIF89a", b"BM", b"II*\x00",
              b"RIFF", b"\x00\x00\x00\x18ftyp"]

    @settings(max_examples=200, deadline=None)
    @given(prefix=st.sampled_from(magics + [b""]), body=st.binary(max_size=120))
    def check(prefix, body):
        blob = prefix + body
        try:
            media.parse_media(blob)
        except media.MediaParseError:
            pass  # the only permitted failure mode
        d = mm.decode_media(blob)  # and the operator boundary is total
        assert isinstance(d["format"], str)
        out, _ = mm.transform_payload(blob, 8, 2)
        assert isinstance(out, bytes)

    check()


def _build_gif(width: int, height: int) -> bytes:
    """Minimal GIF header (signature + logical screen size) for the
    truncation sweep below; the package has no GIF builder of its own."""
    import struct

    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00\x3b"


def test_media_parsers_total_on_truncations_of_valid_files():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from docling_gfcr_spark.kernels import media
    from docling_gfcr_spark.operators import multimodal as mm

    files = [
        media.build_png(12, 9, seed=3),
        media.build_jpeg(30, 20, seed=1),
        media.build_wav(300, 8000, 2, seed=2),
        media.build_mp4(2.5),
        media.build_tiff(7, 5),
        media.build_webp(9, 4),
        _build_gif(3, 3),
        media.build_bmp(6, 6),
    ]

    @settings(max_examples=200, deadline=None)
    @given(fi=st.integers(0, len(files) - 1), frac=st.floats(0.0, 1.0))
    def check(fi, frac):
        blob = files[fi][: int(len(files[fi]) * frac)]
        try:
            media.parse_media(blob)
        except media.MediaParseError:
            pass
        mm.decode_media(blob)
        mm.transform_payload(blob, 8, 2)

    check()

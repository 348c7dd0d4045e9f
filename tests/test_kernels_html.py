from __future__ import annotations

from docling_gfcr_spark.kernels.html_extract import extract_html

PAGE = """<html><head><title>T</title><style>.x{}</style></head><body>
<nav class="top-nav"><a href="/">Home</a> <a href="/x">About</a> <a href="/y">Contact</a></nav>
<header id="masthead">Site brand words here</header>
<div class="content">
<h1>Main Title</h1>
<p>This is the first real paragraph of the article with plenty of words in it.</p>
<p>Second paragraph also carries substantial content so density keeps it in.</p>
<ul><li>alpha point</li><li>beta point</li></ul>
<h2>Subsection</h2>
<p>Another solid paragraph that belongs to the main content of the page.</p>
</div>
<aside class="sidebar"><p>Buy our product now great deal limited time offer click</p></aside>
<div class="ads banner"><p>sponsored text that should never survive extraction here</p></div>
<footer>© 2026 footer legal text long enough to look like a paragraph maybe</footer>
<script>var x = "not content";</script>
</body></html>"""


def test_extract_keeps_main_drops_boilerplate():
    r = extract_html(PAGE)
    assert not r["parse_failed"]
    t = r["text"]
    assert "# Main Title" in t
    assert "## Subsection" in t
    assert "first real paragraph" in t
    assert "- alpha point" in t
    for noise in ("Home", "Buy our product", "sponsored", "footer legal", "not content", "Site brand"):
        assert noise not in t, noise
    assert r["n_kept"] < r["n_nodes"]


def test_spans_point_into_raw():
    r = extract_html(PAGE)
    assert r["spans"], "expected spans for kept nodes"
    for start, end, kind in r["spans"]:
        assert 0 <= start < end <= len(PAGE)
        assert kind in {"heading", "paragraph", "list_item", "code", "table_cell"}
    # every span's raw slice must re-appear in the extracted text (whitespace-squeezed)
    joined = " ".join(r["text"].split())
    for start, end, _ in r["spans"]:
        frag = " ".join(PAGE[start:end].split())
        assert frag in joined, frag


def test_extract_is_total_on_junk():
    for junk in (None, "", "<<<>>>", "<a", "plain text no tags at all but quite long indeed"):
        r = extract_html(junk)
        assert isinstance(r["text"], str)


def test_short_link_farm_dropped():
    html = "<body><p><a href='1'>one</a> <a href='2'>two</a> <a href='3'>three</a></p></body>"
    assert extract_html(html)["text"] == ""


def test_table_and_code_kept():
    html = ("<body><p>Intro paragraph long enough to be kept as main content here.</p>"
            "<table><tr><td>cell1</td><td>cell2</td></tr></table>"
            "<pre>code block()</pre></body>")
    t = extract_html(html)["text"]
    assert "cell1" in t and "code block()" in t


def test_fast_engine_matches_parser_engine():
    """Differential: the regex tokenizer and html.parser build identical
    extractions on every well-formed synthetic payload (garbled payloads —
    the 1% adversarial truncations — may legally diverge; both stay total)."""
    from docling_gfcr_spark import transcripts

    checked = 0
    for c in range(150):
        for r in transcripts.gen_conv_rows(42, c, mean_turns=8):
            if r["tool"] != "html" or "\x00" in r["text"]:
                continue
            a = extract_html(r["text"], engine="fast")
            b = extract_html(r["text"], engine="parser")
            assert (a["text"], a["n_nodes"], a["n_kept"]) == (
                b["text"],
                b["n_nodes"],
                b["n_kept"],
            ), f"engines diverge on conv={c} turn={r['turn_idx']}"
            checked += 1
    assert checked > 200


def test_fast_engine_handles_entities_and_rawtext():
    html = ("<body><p>caf&eacute; &amp; more words to pass the density gate here ok</p>"
            "<script>var x = '<p>not content</p>';</script>"
            "<p>after script paragraph long enough to be kept as main content.</p></body>")
    r = extract_html(html, engine="fast")
    assert "café & more" in r["text"]
    assert "not content" not in r["text"]
    assert "after script" in r["text"]


def test_bare_lt_in_text_not_swallowed():
    """'a < b' in character data is TEXT (html.parser semantics): the fast
    tokenizer must not treat the bare '<' as a tag opener and swallow
    everything up to the next real tag (code-review regression)."""
    raw = (
        "<p>first long sentence with enough words to be kept as content</p>"
        "<p>a < b second long sentence with enough words to be kept too</p>"
    )
    for engine in ("fast", "parser"):
        r = extract_html(raw, engine)
        assert "second long sentence" in r["text"], (engine, r["text"])
        assert "a < b" in r["text"], (engine, r["text"])
        # and no span may be zero-width
        assert all(e > s for s, e, _ in r["spans"]), (engine, r["spans"])

"""Byte-equality tests of the markdown kernels against the reference.

The reference module (/root/reference/scripts/markdown_agent.py) is imported
read-only as the oracle; hypothesis drives randomized parity checks.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_gfcr_spark.kernels import markdown_ops as mk

GOOD_MD = """# Title

Intro paragraph with enough words to count as a paragraph here.

## Section

- item one
- item two

Closing paragraph, also long enough to register properly.
"""

POOR_MD = "word"


def test_optimize_frontmatter_and_rules():
    out = mk.optimize_markdown("# H\nBody\n\n\n\nMore", "My File.pdf")
    assert out.startswith("---\ntitle: My File\nsource: My File.pdf\nconverted_by: Docling Markdown Agent\n---\n\n")
    assert "\n\n\n" not in out
    assert out.endswith("\n")
    # header-spacing rule inserted a blank line after '# H'
    assert "# H\n\nBody" in out


def test_optimize_empty_passthrough():
    assert mk.optimize_markdown("", "f.md") == ""
    assert mk.optimize_markdown("   ", "f.md") == "   "


def test_validate_good_markdown():
    r = mk.validate_markdown(GOOD_MD)
    assert r["metrics"]["headers_count"] == 2
    assert r["metrics"]["lists_count"] == 2
    assert r["quality_score"] >= 80


def test_validate_empty():
    r = mk.validate_markdown("")
    assert r["valid"] is False
    assert r["issues"] == [mk.ISSUE_EMPTY]
    assert r["quality_score"] == 0


def test_validate_poor():
    r = mk.validate_markdown(POOR_MD)
    assert mk.ISSUE_NO_HEADERS in r["issues"]
    assert mk.ISSUE_TOO_SHORT in r["issues"]


def test_validate_page_marker_issue():
    r = mk.validate_markdown("\n\n# Página 1\n\nsome text here with many words to avoid short issue yes")
    assert mk.ISSUE_PAGE_MARKERS in r["issues"]


def test_title_wrap():
    assert mk.title_wrap("doc", "body") == "# doc\n\nbody"


# ---- randomized parity vs the reference implementation -------------------

md_text = st.text(
    alphabet=st.sampled_from(list("abcXYZ 0123#*-+\n\t.!?á")), min_size=0, max_size=400
)
fname = st.sampled_from(["doc.pdf", "My File.docx", "a b c.txt", "noext", "x.tar.gz"])


@settings(max_examples=300, deadline=None)
@given(content=md_text, filename=fname)
def test_optimize_parity_with_reference(reference_agent, content, filename):
    assert mk.optimize_markdown(content, filename) == reference_agent.optimize_markdown(
        content, filename
    )


@settings(max_examples=300, deadline=None)
@given(content=md_text)
def test_validate_parity_with_reference(reference_agent, content):
    ours, ref = mk.validate_markdown(content), reference_agent.validate_markdown(content)
    assert ours["issues"] == ref["issues"]
    assert dict(ours["metrics"]) == dict(ref["metrics"])
    assert ours["quality_score"] == ref["quality_score"]
    assert ours["valid"] == ref["valid"]


# ---- vectorized Series twins must match the scalar kernels byte-for-byte --


@settings(max_examples=100, deadline=None)
@given(contents=st.lists(md_text, min_size=1, max_size=8), filename=fname)
def test_series_kernels_match_scalar(contents, filename):
    import pandas as pd

    s = pd.Series(contents)
    nonblank = s.str.strip().astype(bool)
    if nonblank.any():
        got = mk.optimize_markdown_series(s[nonblank], [filename] * int(nonblank.sum()))
        for text, o in zip(s[nonblank], got):
            assert o == mk.optimize_markdown(text, filename)
    v = mk.validate_markdown_series(s)
    for i, text in enumerate(contents):
        want = mk.validate_markdown(text)
        assert v["issues"][i] == want["issues"]
        assert v["quality_score"][i] == want["quality_score"]
        assert v["valid"][i] == want["valid"]
        for metric, value in want["metrics"].items():
            assert v[metric][i] == value, (metric, text)


@settings(max_examples=200, deadline=None)
@given(text=st.text(alphabet=st.characters(codec="utf-8"), max_size=400))
def test_adoc_kernel_total_and_balanced(text):
    """AsciiDoc kernel totality: any string converts without raising, fences
    stay balanced (an odd number of '----' delimiters gets a closing fence),
    and the pure-markdown constructs it emits are parseable by the validator."""
    from docling_gfcr_spark.kernels.asciidoc import adoc_to_markdown

    out = adoc_to_markdown(text)
    assert isinstance(out, str)
    fences = sum(1 for line in out.split("\n") if line == "```")
    assert fences % 2 == 0
    mk.validate_markdown(out)  # must not raise either


def test_adoc_kernel_structural_rules():
    from docling_gfcr_spark.kernels.asciidoc import adoc_to_markdown

    src = (
        "= Top\n:toc: left\n// note\n== Sub\nplain\n* a\n** b\n. one\n.. two\n"
        "----\n= raw inside\n----\ntail"
    )
    assert adoc_to_markdown(src) == (
        "# Top\n## Sub\nplain\n- a\n  - b\n1. one\n  1. two\n"
        "```\n= raw inside\n```\ntail"
    )

"""Markdown optimize/validate kernels — reference-parity text semantics.

These functions reproduce, byte-for-byte, the pure text transformations of the
reference (``/root/reference``):

- ``optimize_markdown``  <- scripts/markdown_agent.py:162-199 (rules P4a-P4e)
- ``validate_markdown``  <- scripts/markdown_agent.py:201-259 (A1-A3)
- ``title_wrap``         <- scripts/markdown_agent.py:348     (P3)

They are kept in Python ``re`` (NOT translated to Spark ``regexp_replace``)
because Java and Python regex engines diverge on edge semantics (e.g. the
single-pass non-overlapping behaviour of the header-spacing rule); running them
inside one fused pandas UDF guarantees equality with the reference at the cost
of exactly one Arrow boundary (SURVEY.md §4.3).
"""

from __future__ import annotations

import re
from typing import TypedDict

# Rule order is load-bearing: P4b -> P4c -> P4d(x2) -> P4e, then frontmatter
# prepend (scripts/markdown_agent.py:186-199).
_RE_BLANK_RUNS = re.compile(r"\n{3,}")
_RE_HEADER_SPACING = re.compile(r"(#{1,6}[^\n]*)\n([^\n#])")
_RE_LIST_BEFORE = re.compile(r"\n(\s*[-*+])")
_RE_LIST_AFTER = re.compile(r"(\n\s*[-*+][^\n]*)\n([^\s\-*+\n])")

# Validation regexes (scripts/markdown_agent.py:228-230). NOTE: the paragraph
# pattern's char class `[^#\n-*+\s]` contains the range \n-* (codepoints
# 10..42) exactly as the reference wrote it — preserved verbatim, quirk and
# all, for parity.
_RE_HEADERS = re.compile(r"^#{1,6}\s+.+", re.MULTILINE)
_RE_PARAGRAPHS = re.compile(r"^[^#\n-*+\s][^\n]*$", re.MULTILINE)
_RE_LISTS = re.compile(r"^\s*[-*+]\s+", re.MULTILINE)

FRONTMATTER_TEMPLATE = (
    "---\ntitle: {title}\nsource: {filename}\nconverted_by: Docling Markdown Agent\n---\n\n"
)


def stem_of(filename: str) -> str:
    """``Path(filename).stem`` without pathlib (vectorization-friendly)."""
    base = filename.rsplit("/", 1)[-1]
    dot = base.rfind(".")
    return base[:dot] if dot > 0 else base


def optimize_markdown(content: str, filename: str) -> str:
    """5-rule markdown rewrite + YAML frontmatter (reference P4a-P4e)."""
    if not content or not content.strip():
        return content
    metadata = FRONTMATTER_TEMPLATE.format(title=stem_of(filename), filename=filename)
    content = _RE_BLANK_RUNS.sub("\n\n", content)
    content = _RE_HEADER_SPACING.sub(r"\1\n\n\2", content)
    content = _RE_LIST_BEFORE.sub(r"\n\n\1", content)
    content = _RE_LIST_AFTER.sub(r"\1\n\n\2", content)
    if not content.endswith("\n"):
        content += "\n"
    return metadata + content


class ValidationMetrics(TypedDict):
    headers_count: int
    paragraphs_count: int
    lists_count: int
    word_count: int
    char_count: int


class ValidationResult(TypedDict):
    valid: bool
    issues: list[str]
    metrics: ValidationMetrics
    quality_score: int


_EMPTY_METRICS = ValidationMetrics(
    headers_count=0, paragraphs_count=0, lists_count=0, word_count=0, char_count=0
)

# Issue strings must match the reference byte-for-byte
# (scripts/markdown_agent.py:211-252).
ISSUE_EMPTY = "Conteúdo vazio"
ISSUE_NO_HEADERS = "Nenhum cabeçalho encontrado"
ISSUE_FEW_PARAGRAPHS = "Poucos parágrafos para o tamanho do documento"
ISSUE_TOO_SHORT = "Conteúdo muito curto"
ISSUE_PAGE_MARKERS = "Contém marcadores de página do fallback"


def validate_markdown(content: str) -> ValidationResult:
    """Structural metrics + 4 issue rules + quality score (reference A1-A3)."""
    if not content:
        return ValidationResult(
            valid=False, issues=[ISSUE_EMPTY], metrics=dict(_EMPTY_METRICS), quality_score=0
        )
    headers = _RE_HEADERS.findall(content)
    paragraphs = _RE_PARAGRAPHS.findall(content)
    lists = _RE_LISTS.findall(content)
    metrics = ValidationMetrics(
        headers_count=len(headers),
        paragraphs_count=len(paragraphs),
        lists_count=len(lists),
        word_count=len(content.split()),
        char_count=len(content),
    )
    issues: list[str] = []
    if not headers:
        issues.append(ISSUE_NO_HEADERS)
    if len(paragraphs) < 2 and len(content) > 100:
        issues.append(ISSUE_FEW_PARAGRAPHS)
    if metrics["word_count"] < 10:
        issues.append(ISSUE_TOO_SHORT)
    if "# Página" in content:
        issues.append(ISSUE_PAGE_MARKERS)
    return ValidationResult(
        valid=len(issues) == 0,
        issues=issues,
        metrics=metrics,
        quality_score=max(0, 100 - len(issues) * 20),
    )


def title_wrap(stem: str, text: str) -> str:
    """Agent-mode fallback wrap (reference P3, scripts/markdown_agent.py:348)."""
    return f"# {stem}\n\n{text}"


def quality_score(n_issues: int) -> int:
    """max(0, 100 - 20*n) (reference A3, scripts/markdown_agent.py:258)."""
    return max(0, 100 - n_issues * 20)


# ---------------------------------------------------------------------------
# vectorized (pd.Series) twins — the extraction hot path
#
# pandas .str.replace/.str.count with a COMPILED pattern call the same
# Python `re` engine per element (pattern.sub / non-overlapping match count),
# so these are byte/count-identical to the scalar kernels above — pinned by
# test_kernels_markdown.test_series_kernels_match_scalar. They exist because
# the fused extraction UDF spends most of its time on markdown/plain rows,
# where per-row function dispatch dominates; the Series forms cut that
# overhead without touching regex semantics (Java-regex translation stays
# forbidden, SURVEY.md §4.3).
# ---------------------------------------------------------------------------


def optimize_markdown_series(content, filenames):
    """Vectorized optimize_markdown for rows with non-blank content.

    Caller must pre-filter: rows where ``not content.strip()`` take the
    scalar early-return path (passthrough) instead.
    """
    import pandas as pd  # local: keep module importable without pandas

    stems = pd.Series([stem_of(f) for f in filenames], index=content.index)
    metadata = (
        "---\ntitle: " + stems + "\nsource: " + pd.Series(list(filenames), index=content.index)
        + "\nconverted_by: Docling Markdown Agent\n---\n\n"
    )
    c = content.str.replace(_RE_BLANK_RUNS, "\n\n", regex=True)
    c = c.str.replace(_RE_HEADER_SPACING, r"\1\n\n\2", regex=True)
    c = c.str.replace(_RE_LIST_BEFORE, r"\n\n\1", regex=True)
    c = c.str.replace(_RE_LIST_AFTER, r"\1\n\n\2", regex=True)
    c = c.where(c.str.endswith("\n"), c + "\n")
    return metadata + c


def validate_markdown_series(content) -> dict:
    """Vectorized validate_markdown. Returns dict of lists with the same
    fields as the scalar ValidationResult (issues as list-of-list). Handles
    empty content rows (reference short-circuit, agent.py:211-223).

    One fused per-row loop over the SAME compiled patterns the scalar kernel
    uses (six separate pandas ``.str`` maps each re-dispatch per element;
    fusing them measured −35% on the bench mix with identical output —
    pinned by test_series_kernels_match_scalar).
    """
    h_find = _RE_HEADERS.findall
    p_find = _RE_PARAGRAPHS.findall
    l_find = _RE_LISTS.findall
    issues: list[list[str]] = []
    hc: list[int] = []
    pc: list[int] = []
    lc: list[int] = []
    wc: list[int] = []
    cc: list[int] = []
    qs: list[int] = []
    vd: list[bool] = []
    for s in content.tolist():
        if not s:
            issues.append([ISSUE_EMPTY])
            hc.append(0); pc.append(0); lc.append(0); wc.append(0); cc.append(0)
            qs.append(0); vd.append(False)
            continue
        n_h = len(h_find(s))
        n_p = len(p_find(s))
        n_c = len(s)
        n_w = len(s.split())
        row: list[str] = []
        if n_h == 0:
            row.append(ISSUE_NO_HEADERS)
        if n_p < 2 and n_c > 100:
            row.append(ISSUE_FEW_PARAGRAPHS)
        if n_w < 10:
            row.append(ISSUE_TOO_SHORT)
        if "# Página" in s:
            row.append(ISSUE_PAGE_MARKERS)
        issues.append(row)
        hc.append(n_h); pc.append(n_p); lc.append(len(l_find(s)))
        wc.append(n_w); cc.append(n_c)
        qs.append(max(0, 100 - 20 * len(row))); vd.append(not row)
    return {
        "headers_count": hc,
        "paragraphs_count": pc,
        "lists_count": lc,
        "word_count": wc,
        "char_count": cc,
        "issues": issues,
        "quality_score": qs,
        "valid": vd,
    }

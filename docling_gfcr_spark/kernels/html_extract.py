"""From-scratch HTML main-content extraction with span offsets.

The reference delegates HTML->Markdown to the docling library
(/root/reference/scripts/convert.py:76-110, operator S2 in SURVEY.md §2A).
This module is the rebuild's own extraction kernel: a lightweight DOM-block
builder on stdlib ``html.parser`` plus a text-density / link-density block
classifier in the spirit of Boilerpipe (Kohlschütter et al., WSDM 2011) and
Readability — no external libraries, deterministic, pure Python, so it can be
Arrow-vectorized inside a pandas UDF and unit-tested without Spark.

Output per document:
- ``text``   — extracted main content as light Markdown (headings kept as
               ``#``-prefixed lines, list items as ``- ``, paragraphs blank-
               line separated).
- ``spans``  — list of (start, end, kind) char offsets into the RAW input for
               every kept text node (kind in {heading, paragraph, list_item,
               code, table_cell}).
- ``n_nodes``    — DOM text blocks classified.
- ``n_kept``     — blocks classified as main content.
- ``parse_failed`` — True when the payload could not be parsed at all
               (the kernel then falls back to tag-stripping everything).
"""

from __future__ import annotations

import html as _html
import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

# Elements whose entire subtree is never content.
_DROP_TAGS = frozenset(
    "script style noscript svg iframe form button input select option textarea "
    "template head meta link title".split()
)
# Structural containers that strongly signal boilerplate.
_BOILERPLATE_TAGS = frozenset("nav header footer aside menu".split())
# class/id tokens that signal boilerplate (Readability-style heuristic).
_BOILERPLATE_TOKENS = frozenset(
    "nav navbar navigation menu footer header sidebar banner advert advertisement "
    "ad ads promo sponsor sponsored share social cookie consent breadcrumb "
    "breadcrumbs comment comments related recommended newsletter subscribe "
    "pagination pager masthead toolbar widget skip".split()
)
_TOKEN_SPLIT_RE = re.compile(r"[^a-z0-9]+")
_HEADING_TAGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_BLOCK_TAGS = frozenset(
    "p div section article main li ul ol table tr td th pre blockquote br hr "
    "h1 h2 h3 h4 h5 h6 figure figcaption details summary".split()
)

_WS_RE = re.compile(r"\s+")
_TAG_STRIP_RE = re.compile(r"<[^>]*>")
_NL_RE = re.compile(r"\n")


@dataclass
class _Block:
    kind: str  # heading | paragraph | list_item | code | table_cell
    depth_boiler: int  # >0 when inside a boilerplate-hinted container
    heading_level: int = 0
    parts: list[str] = field(default_factory=list)  # text fragments
    spans: list[tuple[int, int]] = field(default_factory=list)  # raw offsets
    n_link_chars: int = 0
    n_anchor: int = 0
    _text: str | None = None

    def text(self) -> str:
        if self._text is None:
            # split()+join == _WS_RE.sub(' ', s).strip() (both treat all
            # unicode whitespace), but runs ~2x faster in CPython
            self._text = " ".join("".join(self.parts).split())
        return self._text


class _BlockParser(HTMLParser):
    """Flattens the DOM into text blocks, tracking raw char offsets."""

    def __init__(self, raw: str) -> None:
        super().__init__(convert_charrefs=True)
        self.raw = raw
        # line-start offsets for getpos() -> absolute offset conversion
        # (C-side scan — a per-char Python loop costs ~10% of the kernel)
        self._line_starts = [0]
        self._line_starts.extend(m.end() for m in _NL_RE.finditer(raw))
        self.blocks: list[_Block] = []
        self._cur: _Block | None = None
        self._drop_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._pre_depth = 0
        self._list_depth = 0
        self._in_cell = False
        self._heading: int = 0
        self._open_boiler: list[tuple[str, bool]] = []

    # -- offset helpers -------------------------------------------------
    def _abs(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    # -- block lifecycle ------------------------------------------------
    def _flush(self) -> None:
        if self._cur is not None and self._cur.text():
            self.blocks.append(self._cur)
        self._cur = None

    def _ensure(self) -> _Block:
        if self._cur is None:
            if self._heading:
                kind = "heading"
            elif self._pre_depth:
                kind = "code"
            elif self._in_cell:
                kind = "table_cell"
            elif self._list_depth:
                kind = "list_item"
            else:
                kind = "paragraph"
            self._cur = _Block(
                kind=kind, depth_boiler=self._boiler_depth, heading_level=self._heading
            )
        return self._cur

    # -- HTMLParser hooks -------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        hints = " ".join(
            v.lower() for k, v in attrs if k in ("class", "id", "role") and v
        )
        is_boiler = tag in _BOILERPLATE_TAGS or any(
            tok in _BOILERPLATE_TOKENS for tok in _TOKEN_SPLIT_RE.split(hints) if tok
        )
        if tag in _BLOCK_TAGS:
            self._flush()
        if is_boiler:
            self._boiler_depth += 1
        if tag == "a":
            self._link_depth += 1
        elif tag in _HEADING_TAGS:
            self._heading = _HEADING_TAGS[tag]
        elif tag == "pre" or tag == "code":
            self._pre_depth += 1
        elif tag in ("ul", "ol"):
            self._list_depth += 1
        elif tag in ("td", "th"):
            self._in_cell = True
        # void elements never get an endtag — don't push them
        if tag not in ("br", "hr", "img", "input", "meta", "link"):
            self._open_boiler.append((tag, is_boiler))
        elif is_boiler:
            self._boiler_depth = max(0, self._boiler_depth - 1)

    def handle_endtag(self, tag: str) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        for i in range(len(self._open_boiler) - 1, -1, -1):
            if self._open_boiler[i][0] == tag:
                if self._open_boiler[i][1]:
                    self._boiler_depth = max(0, self._boiler_depth - 1)
                del self._open_boiler[i]
                break
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        elif tag in _HEADING_TAGS:
            self._heading = 0
        elif tag == "pre" or tag == "code":
            self._pre_depth = max(0, self._pre_depth - 1)
        elif tag in ("ul", "ol"):
            self._list_depth = max(0, self._list_depth - 1)
        elif tag in ("td", "th"):
            self._in_cell = False

    def handle_data(self, data: str) -> None:
        if self._drop_depth or not data.strip():
            return
        start = self._abs()
        # `data` is entity-decoded (convert_charrefs=True), so start+len(data)
        # would under-run raw extents on '&amp;'-style runs; the raw text node
        # extends to the next markup start — scan from start+1 so a text run
        # BEGINNING with a literal '<' ("a < b") doesn't yield a 0-width span
        end = self.raw.find("<", start + 1)
        if end == -1:
            end = len(self.raw)
        blk = self._ensure()
        blk.parts.append(data)
        blk.spans.append((start, end))
        if self._link_depth:
            blk.n_link_chars += len(data.strip())
            blk.n_anchor += 1

    def close(self) -> None:  # flush trailing block
        super().close()
        self._flush()


# -- fast tokenizer (default engine) ---------------------------------------
#
# html.parser spends ~60% of kernel time in its generality (updatepos,
# charref scanning, strict tag re-parsing). This tokenizer handles the
# subset that matters for block extraction with one DOTALL regex pass and
# the same _Block semantics; extract_html differential-tests it against the
# HTMLParser engine in the suite and falls back to it on any exception.

# group index tells the token type (1 = tag/decl, 2 = bare '<' kept as TEXT,
# 3 = text; comments/CDATA have no group and are skipped) — one attribute
# read replaces a startswith chain. A tag must start '</x', '<x', '<!' or
# '<?': a bare '<' in character data ("a < b") is TEXT, like html.parser
# treats it — '<[^>]*>' here would swallow everything up to the NEXT real
# tag's '>' and silently drop user content.
# '</\s*x' included: html.parser accepts whitespace after '</' in end tags
_FAST_TOKEN_RE = re.compile(
    r"<!--.*?-->|<!\[[^\]]*\]>|(</\s*[a-zA-Z][^>]*>|<[a-zA-Z][^>]*>|<[!?][^>]*>)|(<)|([^<]+)",
    re.DOTALL,
)
_TAG_NAME_RE = re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9:-]*)")
_ATTR_HINT_RE = re.compile(
    r"""(?:class|id|role)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.IGNORECASE
)
_RAWTEXT_CLOSE = {t: re.compile(f"</{t}", re.IGNORECASE) for t in ("script", "style", "textarea", "title")}
_VOID_TAGS = frozenset("br hr img input meta link area base col embed source track wbr".split())


class _FastBlocks:
    """Same block-building state machine as _BlockParser, over raw tokens."""

    __slots__ = (
        "raw", "blocks", "_cur", "_drop_depth", "_boiler_depth", "_link_depth",
        "_pre_depth", "_list_depth", "_in_cell", "_heading", "_open_boiler",
    )

    def __init__(self, raw: str) -> None:
        self.raw = raw
        self.blocks: list[_Block] = []
        self._cur: _Block | None = None
        self._drop_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._pre_depth = 0
        self._list_depth = 0
        self._in_cell = False
        self._heading = 0
        self._open_boiler: list[tuple[str, bool]] = []

    def _flush(self) -> None:
        if self._cur is not None and self._cur.text():
            self.blocks.append(self._cur)
        self._cur = None

    def _ensure(self) -> _Block:
        if self._cur is None:
            if self._heading:
                kind = "heading"
            elif self._pre_depth:
                kind = "code"
            elif self._in_cell:
                kind = "table_cell"
            elif self._list_depth:
                kind = "list_item"
            else:
                kind = "paragraph"
            self._cur = _Block(
                kind=kind, depth_boiler=self._boiler_depth, heading_level=self._heading
            )
        return self._cur

    def _start(self, tag: str, tok: str) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        is_boiler = tag in _BOILERPLATE_TAGS
        # len(tok) == len(tag)+2 is the attribute-less '<tag>' — nothing to
        # scan (the regex admits no space before the name, so anything longer
        # carries attrs, '/>', or stray chars and goes through the check)
        if not is_boiler and len(tok) > len(tag) + 2:
            # pre-gate on a lowercased copy: attribute names are case-
            # insensitive ('<DIV CLASS="x">' must classify like class="x")
            tok_l = tok if tok.islower() else tok.lower()
            if "class" in tok_l or "id=" in tok_l or "id =" in tok_l or "role" in tok_l:
                hints = " ".join(g or "" for m in _ATTR_HINT_RE.finditer(tok) for g in m.groups())
                is_boiler = any(
                    t in _BOILERPLATE_TOKENS for t in _TOKEN_SPLIT_RE.split(hints.lower()) if t
                )
        if tag in _BLOCK_TAGS:
            self._flush()
        if is_boiler:
            self._boiler_depth += 1
        if tag == "a":
            self._link_depth += 1
        elif tag in _HEADING_TAGS:
            self._heading = _HEADING_TAGS[tag]
        elif tag in ("pre", "code"):
            self._pre_depth += 1
        elif tag in ("ul", "ol"):
            self._list_depth += 1
        elif tag in ("td", "th"):
            self._in_cell = True
        if tag not in _VOID_TAGS and not tok.endswith("/>"):
            self._open_boiler.append((tag, is_boiler))
        elif is_boiler:
            self._boiler_depth = max(0, self._boiler_depth - 1)

    def _end(self, tag: str) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        ob = self._open_boiler
        if ob and ob[-1][0] == tag:
            # well-formed close of the innermost element — the reverse scan
            # below would find i == len-1; skip its range setup
            if ob[-1][1]:
                self._boiler_depth = max(0, self._boiler_depth - 1)
            ob.pop()
        else:
            for i in range(len(ob) - 1, -1, -1):
                if ob[i][0] == tag:
                    if ob[i][1]:
                        self._boiler_depth = max(0, self._boiler_depth - 1)
                    del ob[i]
                    break
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        elif tag in _HEADING_TAGS:
            self._heading = 0
        elif tag in ("pre", "code"):
            self._pre_depth = max(0, self._pre_depth - 1)
        elif tag in ("ul", "ol"):
            self._list_depth = max(0, self._list_depth - 1)
        elif tag in ("td", "th"):
            self._in_cell = False

    def run(self) -> list[_Block]:
        raw = self.raw
        # bound locals: the loop runs once per token and attribute/global
        # lookups are a measurable share of it
        start = self._start
        end = self._end
        ensure = self._ensure
        tag_name_match = _TAG_NAME_RE.match
        unescape = _html.unescape
        skip_until: re.Pattern | None = None
        for m in _FAST_TOKEN_RE.finditer(raw):
            gi = m.lastindex
            if gi != 1:  # text node (3), bare '<' (2), or skipped comment
                if gi is None or skip_until is not None or self._drop_depth:
                    continue
                tok = m.group(gi)
                if tok.isspace():  # tok is non-empty by the regex
                    continue
                data = unescape(tok) if "&" in tok else tok
                blk = ensure()
                blk.parts.append(data)
                blk.spans.append((m.start(), m.end()))
                if self._link_depth:
                    blk.n_link_chars += len(data.strip())
                    blk.n_anchor += 1
                continue
            tok = m.group(1)
            c1 = tok[1] if len(tok) > 1 else ""
            if skip_until is not None:
                if c1 == "/" and skip_until.match(tok):
                    skip_until = None
                    tagm = tag_name_match(tok)
                    if tagm:
                        end(tagm.group(1).lower())
                continue
            if c1 == "!" or c1 == "?":
                continue
            if c1 == "/":
                tagm = tag_name_match(tok)
                if tagm:
                    end(tagm.group(1).lower())
                continue
            tagm = tag_name_match(tok)
            if tagm:
                tag = tagm.group(1).lower()
                start(tag, tok)
                # rawtext elements: skip content until the real close tag
                if tag in _RAWTEXT_CLOSE and not tok.endswith("/>"):
                    skip_until = _RAWTEXT_CLOSE[tag]
        self._flush()
        return self.blocks


# -- classification ------------------------------------------------------

_MIN_CONTENT_WORDS = 8  # Boilerpipe-ish: short low-density blocks are noise
_MAX_LINK_DENSITY = 0.40


def _classify(blocks: list[_Block]) -> list[bool]:
    """True = main content. Density heuristic à la Boilerpipe:

    - anything inside a boilerplate container is dropped;
    - headings are kept if ANY neighbouring block is content (decided in a
      second pass, so section titles survive but nav headings don't);
    - text blocks are kept when link density is low and they carry enough
      words, OR they sit directly between two kept blocks (context rule).
    """
    n = len(blocks)
    kept = [False] * n
    for i, b in enumerate(blocks):
        if b.depth_boiler > 0:
            continue
        txt = b.text()
        # text() is single-space-normalized and non-empty, so spaces+1 ==
        # len(txt.split()) and len-minus-spaces == len(txt.replace(" ", ""))
        # — same values without the list/string allocations
        n_spaces = txt.count(" ")
        words = n_spaces + 1
        link_density = (b.n_link_chars / max(1, len(txt) - n_spaces))
        if b.kind == "heading":
            continue  # second pass
        if b.kind in ("code", "table_cell", "list_item"):
            kept[i] = link_density <= _MAX_LINK_DENSITY and words >= 1
        else:
            kept[i] = link_density <= _MAX_LINK_DENSITY and words >= _MIN_CONTENT_WORDS
    # context rule: short clean paragraph between two kept blocks is content
    for i, b in enumerate(blocks):
        if kept[i] or b.depth_boiler > 0 or b.kind == "heading":
            continue
        txt = b.text()
        link_density = (b.n_link_chars / max(1, len(txt) - txt.count(" ")))
        prev_kept = any(kept[j] for j in range(max(0, i - 1), i))
        next_kept = any(kept[j] for j in range(i + 1, min(n, i + 2)))
        if prev_kept and next_kept and link_density <= _MAX_LINK_DENSITY:
            kept[i] = True
    # headings: keep when the following content (before next heading) has a kept block
    for i, b in enumerate(blocks):
        if b.kind != "heading" or b.depth_boiler > 0:
            continue
        for j in range(i + 1, n):
            if blocks[j].kind == "heading":
                break
            if kept[j]:
                kept[i] = True
                break
    return kept


def extract_html(raw: str, engine: str = "fast") -> dict:
    """Extract main content from an HTML string.

    Returns dict(text, spans, n_nodes, n_kept, parse_failed) — see module
    docstring. Never raises (reference invariant O1: conversion always
    returns a record, /root/reference/scripts/convert.py:243-248).

    ``engine``: 'fast' (regex tokenizer, ~2x) or 'parser' (stdlib
    html.parser); both build identical blocks on well-formed input — the
    suite differential-tests them — and 'fast' falls back to tag-stripping
    on internal errors like 'parser' does.
    """
    if raw is None:
        return {"text": "", "spans": [], "n_nodes": 0, "n_kept": 0, "parse_failed": True}
    try:
        if engine == "fast":
            blocks = _FastBlocks(raw).run()
        else:
            parser = _BlockParser(raw)
            parser.feed(raw)
            parser.close()
            blocks = parser.blocks
        kept = _classify(blocks)
        out_lines: list[str] = []
        spans: list[tuple[int, int, str]] = []
        for b, k in zip(blocks, kept):
            if not k:
                continue
            txt = b.text()
            if b.kind == "heading":
                out_lines.append("#" * max(1, b.heading_level) + " " + txt)
            elif b.kind == "list_item":
                out_lines.append("- " + txt)
            elif b.kind == "table_cell":
                out_lines.append(txt)
            else:
                out_lines.append(txt)
            spans.extend((s, e, b.kind) for s, e in b.spans)
        return {
            "text": "\n\n".join(out_lines),
            "spans": spans,
            "n_nodes": len(blocks),
            "n_kept": sum(kept),
            "parse_failed": False,
        }
    except Exception:
        # last-resort: strip tags, squeeze whitespace — degraded but total
        text = _WS_RE.sub(" ", _TAG_STRIP_RE.sub(" ", raw)).strip()
        return {"text": text, "spans": [], "n_nodes": 0, "n_kept": 0, "parse_failed": True}

"""Real XLSX / PPTX (OOXML) byte-stream kernels — stdlib only.

Companion to :mod:`docling_gfcr_spark.kernels.docx_binary`: the reference
hands real ``.xlsx``/``.pptx`` binaries to docling
(/root/reference/scripts/convert.py:32-41, :76-110); these kernels parse the
actual PK-zip containers with ``zipfile`` + ``xml.etree`` into the same
markdown the sidecar assemblers emit (kernels/office.py) — pinned by
hypothesis parity tests.

XLSX: workbook.xml gives sheet names + relationship ids; the workbook rels
map those to worksheet parts; cells resolve shared strings (``t="s"``),
inline strings (``t="inlineStr"``) and literal values, positioned by their
``A1``-style references (gaps become empty cells).

PPTX: presentation.xml's ``sldIdLst`` gives slide order via relationship
ids; each slide's shapes split into the title placeholder vs body
paragraphs (bullets).

Builders write deterministic minimal-but-real containers (fixed zip
timestamps, ZIP_STORED) for the transcript generator and tests.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import struct
import zipfile
import zlib
from xml.sax.saxutils import escape

from docling_gfcr_spark.kernels.office import pipe_table

MAIN_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
REL_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
PKG_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"
PML_NS = "http://schemas.openxmlformats.org/presentationml/2006/main"
DML_NS = "http://schemas.openxmlformats.org/drawingml/2006/main"

_S = f"{{{MAIN_NS}}}"
_R = f"{{{REL_NS}}}"
_PR = f"{{{PKG_REL_NS}}}"
_P = f"{{{PML_NS}}}"
_A = f"{{{DML_NS}}}"


def _zip_bytes(members: list[tuple[str, str]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compression=zipfile.ZIP_STORED) as zf:
        for arcname, payload in members:
            info = zipfile.ZipInfo(arcname, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, payload.encode("utf-8"))
    return buf.getvalue()


class _Container:
    """One ``ZipFile`` over the blob for multi-part documents. Any failure
    (open or member read) raises one ``ValueError`` naming the part being
    read (an unreadable container fails on its FIRST requested part)."""

    __slots__ = ("_blob", "_zf")

    def __init__(self, blob: bytes) -> None:
        self._blob = blob
        self._zf: zipfile.ZipFile | None = None

    def read(self, name: str) -> bytes:
        try:
            if self._zf is None:
                self._zf = zipfile.ZipFile(io.BytesIO(self._blob))
            return self._zf.read(name)
        # zipfile escapes more than BadZipFile on hostile bytes: mutated
        # compression-method fields raise NotImplementedError, an encryption
        # flag bit RuntimeError, corrupt deflate payloads zlib.error, truncated
        # members EOFError/struct.error — ALL must become the ValueError error
        # envelope, never kill the task
        except (zipfile.BadZipFile, KeyError, OSError, NotImplementedError,
                RuntimeError, EOFError, zlib.error, struct.error,
                zipfile.LargeZipFile) as e:
            raise ValueError(f"not an OOXML container ({name}): {type(e).__name__}") from e


def _parse_xml(data: bytes, what: str) -> ET.Element:
    try:
        return ET.fromstring(data)
    except ET.ParseError as e:
        raise ValueError(f"malformed {what}: {e}") from e


# ---------------------------------------------------------------------------
# XLSX
# ---------------------------------------------------------------------------

_COL_RE = re.compile(r"([A-Z]+)([0-9]+)")


def col_index(ref: str) -> int:
    """'A1' -> 0, 'B3' -> 1, 'AA7' -> 26 (0-based column of a cell ref)."""
    m = _COL_RE.match(ref or "")
    if not m:
        return -1
    acc = 0
    for ch in m.group(1):
        acc = acc * 26 + (ord(ch) - 64)
    return acc - 1


def _col_letter(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def build_xlsx(spec: dict) -> bytes:
    """Real minimal XLSX from the sidecar spec ``{"sheets": {name: rows}}``.
    String cells go through the sharedStrings table (exercising the lookup);
    numeric cells are written as literal ``<v>`` values."""
    sheets = list(spec.get("sheets", {}).items())
    shared: list[str] = []
    shared_idx: dict[str, int] = {}

    def sref(s: str) -> int:
        if s not in shared_idx:
            shared_idx[s] = len(shared)
            shared.append(s)
        return shared_idx[s]

    sheet_parts = []
    for si, (_name, rows) in enumerate(sheets, start=1):
        rows_xml = []
        for ri, row in enumerate(rows, start=1):
            cells_xml = []
            for ci, cell in enumerate(row):
                ref = f"{_col_letter(ci)}{ri}"
                if isinstance(cell, (int, float)) and not isinstance(cell, bool):
                    cells_xml.append(f'<c r="{ref}"><v>{cell}</v></c>')
                else:
                    cells_xml.append(f'<c r="{ref}" t="s"><v>{sref(str(cell))}</v></c>')
            rows_xml.append(f'<row r="{ri}">' + "".join(cells_xml) + "</row>")
        sheet_parts.append(
            (
                f"xl/worksheets/sheet{si}.xml",
                f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<worksheet xmlns="{MAIN_NS}"><sheetData>' + "".join(rows_xml)
                + "</sheetData></worksheet>",
            )
        )
    wb_sheets = "".join(
        f'<sheet name="{escape(name, {chr(34): "&quot;"})}" sheetId="{i}" r:id="rId{i}"/>'
        for i, (name, _r) in enumerate(sheets, start=1)
    )
    wb_rels = "".join(
        f'<Relationship Id="rId{i}" Type="{REL_NS}/worksheet" Target="worksheets/sheet{i}.xml"/>'
        for i in range(1, len(sheets) + 1)
    )
    sst = "".join(f"<si><t xml:space=\"preserve\">{escape(s)}</t></si>" for s in shared)
    members = [
        (
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            "</Types>",
        ),
        (
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{PKG_REL_NS}">'
            f'<Relationship Id="rId1" Type="{REL_NS}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        ),
        (
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{MAIN_NS}" xmlns:r="{REL_NS}">'
            f"<sheets>{wb_sheets}</sheets></workbook>",
        ),
        (
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{PKG_REL_NS}">{wb_rels}</Relationships>',
        ),
        (
            "xl/sharedStrings.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<sst xmlns="{MAIN_NS}" count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>',
        ),
    ] + sheet_parts
    return _zip_bytes(members)


def _cell_text(c: ET.Element, shared: list[str]) -> str:
    t = c.get("t", "n")
    if t == "s":
        v = c.find(f"{_S}v")
        if v is None or v.text is None:
            return ""
        try:
            idx = int(v.text)
        except ValueError:
            raise ValueError("bad sharedStrings index")
        # explicit range check: Python's negative indexing would otherwise
        # silently resolve a hostile '-1' to the LAST shared string
        if not 0 <= idx < len(shared):
            raise ValueError("bad sharedStrings index")
        return shared[idx]
    if t == "inlineStr":
        return "".join(n.text or "" for n in c.iter(f"{_S}t"))
    v = c.find(f"{_S}v")
    raw = v.text if v is not None and v.text is not None else ""
    # integral floats print like the sidecar's python ints ('5', not '5.0')
    try:
        f = float(raw)
        return str(int(f)) if f.is_integer() else raw
    except ValueError:
        return raw


def _resolve_rel_target(target: str, package_dir: str) -> str:
    """OPC relationship target -> zip part name. Targets with a leading
    slash are ABSOLUTE part names (legal per OPC; e.g. '/xl/worksheets/s1.xml')
    and must be used as-is minus the slash — prefixing them again produced
    'xl//xl/...' and a spurious error envelope (round-4 ADVICE finding).
    Relative targets resolve against the package dir as before."""
    if target.startswith("/"):
        return target.lstrip("/")
    prefix = f"{package_dir}/"
    return target if target.startswith(prefix) else f"{prefix}{target}"


def xlsx_bytes_to_markdown(blob: bytes) -> str:
    """Real XLSX bytes -> the sidecar assembler's markdown (one ``## sheet``
    section + pipe table per sheet, workbook order). Raises ``ValueError``
    on malformed containers."""
    zf = _Container(blob)
    wb = _parse_xml(zf.read("xl/workbook.xml"), "workbook.xml")
    rels_root = _parse_xml(
        zf.read("xl/_rels/workbook.xml.rels"), "workbook rels"
    )
    rel_map = {r.get("Id"): r.get("Target") for r in rels_root.iter(f"{_PR}Relationship")}
    try:
        sst_root = _parse_xml(zf.read("xl/sharedStrings.xml"), "sharedStrings")
        shared = ["".join(n.text or "" for n in si.iter(f"{_S}t")) for si in sst_root.iter(f"{_S}si")]
    except ValueError:
        shared = []  # workbooks without string cells omit the part
    blocks: list[str] = []
    for sheet in wb.iter(f"{_S}sheet"):
        name = sheet.get("name", "")
        target = rel_map.get(sheet.get(f"{_R}id"))
        if not target:
            raise ValueError(f"sheet {name!r} has no worksheet relationship")
        part = _resolve_rel_target(target, "xl")
        ws = _parse_xml(zf.read(part), part)
        rows: list[list[str]] = []
        for row in ws.iter(f"{_S}row"):
            cells: list[str] = []
            for c in row.findall(f"{_S}c"):
                ci = col_index(c.get("r", ""))
                if ci < 0:
                    ci = len(cells)
                while len(cells) <= ci:
                    cells.append("")
                cells[ci] = _cell_text(c, shared)
            rows.append(cells)
        blocks.append(f"## {name}")
        lines = pipe_table(rows)
        if lines:
            blocks.append("\n".join(lines))
    return "\n\n".join(blocks)


# ---------------------------------------------------------------------------
# PPTX
# ---------------------------------------------------------------------------


def _pptx_shape(ph_type: str | None, texts: list[str]) -> str:
    ph = f'<p:ph type="{ph_type}"/>' if ph_type else "<p:ph/>"
    paras = "".join(
        f'<a:p><a:r><a:t>{escape(t)}</a:t></a:r></a:p>' for t in texts
    )
    return (
        "<p:sp><p:nvSpPr><p:nvPr>" + ph + "</p:nvPr></p:nvSpPr>"
        f"<p:txBody><a:bodyPr/>{paras}</p:txBody></p:sp>"
    )


def build_pptx(spec: dict) -> bytes:
    """Real minimal PPTX from the sidecar spec ``{"slides": [{"title": ...,
    "bullets": [...]}]}`` — title placeholder shape + one body shape whose
    ``a:p`` paragraphs are the bullets."""
    slides = spec.get("slides", [])
    slide_parts = []
    for i, slide in enumerate(slides, start=1):
        shapes = []
        title = str(slide.get("title", "") or "")
        if title:
            shapes.append(_pptx_shape("title", [title]))
        bullets = [str(b) for b in slide.get("bullets", [])]
        if bullets:
            shapes.append(_pptx_shape("body", bullets))
        slide_parts.append(
            (
                f"ppt/slides/slide{i}.xml",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<p:sld xmlns:p="{PML_NS}" xmlns:a="{DML_NS}"><p:cSld><p:spTree>'
                + "".join(shapes)
                + "</p:spTree></p:cSld></p:sld>",
            )
        )
    sld_ids = "".join(
        f'<p:sldId id="{255 + i}" r:id="rId{i}"/>' for i in range(1, len(slides) + 1)
    )
    pres_rels = "".join(
        f'<Relationship Id="rId{i}" Type="{REL_NS}/slide" Target="slides/slide{i}.xml"/>'
        for i in range(1, len(slides) + 1)
    )
    members = [
        (
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.presentationml.presentation.main+xml"/>'
            "</Types>",
        ),
        (
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{PKG_REL_NS}">'
            f'<Relationship Id="rId1" Type="{REL_NS}/officeDocument" Target="ppt/presentation.xml"/>'
            "</Relationships>",
        ),
        (
            "ppt/presentation.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:presentation xmlns:p="{PML_NS}" xmlns:r="{REL_NS}">'
            f"<p:sldIdLst>{sld_ids}</p:sldIdLst></p:presentation>",
        ),
        (
            "ppt/_rels/presentation.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{PKG_REL_NS}">{pres_rels}</Relationships>',
        ),
    ] + slide_parts
    return _zip_bytes(members)


def pptx_bytes_to_markdown(blob: bytes) -> str:
    """Real PPTX bytes -> the sidecar assembler's markdown (``# title`` +
    ``- bullet`` per slide, presentation order; untitled slides fall back to
    ``Slide N``). Raises ``ValueError`` on malformed containers."""
    zf = _Container(blob)
    pres = _parse_xml(zf.read("ppt/presentation.xml"), "presentation.xml")
    rels_root = _parse_xml(
        zf.read("ppt/_rels/presentation.xml.rels"), "presentation rels"
    )
    rel_map = {r.get("Id"): r.get("Target") for r in rels_root.iter(f"{_PR}Relationship")}
    blocks: list[str] = []
    slide_no = 0
    for sld_id in pres.iter(f"{_P}sldId"):
        slide_no += 1
        target = rel_map.get(sld_id.get(f"{_R}id"))
        if not target:
            raise ValueError(f"slide {slide_no} has no relationship target")
        part = _resolve_rel_target(target, "ppt")
        sld = _parse_xml(zf.read(part), part)
        title = ""
        bullets: list[str] = []
        for sp in sld.iter(f"{_P}sp"):
            ph = sp.find(f"{_P}nvSpPr/{_P}nvPr/{_P}ph")
            ph_type = ph.get("type", "") if ph is not None else ""
            paras = [
                "".join(t.text or "" for t in p.iter(f"{_A}t"))
                for p in sp.iter(f"{_A}p")
            ]
            if ph_type in ("title", "ctrTitle"):
                title = " ".join(t for t in (s.strip() for s in paras) if t)
            else:
                bullets.extend(paras)
        blocks.append(f"# {title.strip() or f'Slide {slide_no}'}")
        for b in bullets:
            s = b.strip()
            if s:
                blocks.append(f"- {s}")
    return "\n\n".join(blocks)

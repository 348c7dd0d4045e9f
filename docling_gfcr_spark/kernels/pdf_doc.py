"""Document-level PDF parser — stdlib only, derived from the public PDF
spec (ISO 32000-1).

The round-4 kernel (kernels/pdf_binary.py) covered the synthetic corpus:
whole-file object regex, direct ``/Length``, ``Tj``/``TJ`` regexes. Real
PDFs (the reference's golden artifact ``manual-de-redacao.pdf``, converted
by docling at /root/reference/scripts/convert.py:113-128 into
``output/manual-de-redacao.md``) additionally need:

- cross-reference TABLES and STREAMS (``/Type/XRef``, ``/W``/``/Index``
  rows, FlateDecode + PNG row predictors), hybrid files (``/XRefStm``) and
  incremental-update ``/Prev`` chains — newest entry wins;
- object streams (``/Type/ObjStm``): non-stream objects packed inside a
  compressed stream, addressed as (stream obj#, index);
- a real object grammar: nested dicts, arrays, literal strings with
  BALANCED parens + escapes, hex strings, names with ``#xx`` escapes,
  indirect references (so ``/Length 6 0 R`` resolves instead of slicing
  the stream at the object number — round-4 ADVICE finding);
- font-aware text decoding: simple fonts through WinAnsiEncoding (cp1252)
  or latin-1, composite ``/Type0`` (Identity-H) fonts through their
  ``/ToUnicode`` CMap (``bfchar``/``bfrange``);
- a content-stream interpreter: tracks ``Tf`` font selection, shows text
  for ``Tj`` / ``'`` / ``"`` / ``TJ`` in stream order, skips inline
  images (``BI..ID..EI``), and never drops a string because a bracket or
  nested paren confused a regex (round-4 ADVICE finding).

Failure contract: ``ValueError`` for anything structurally broken, a
single broken page or a dangling page reference included (the pipeline's
error envelope, never a silently shorter document).

This module is a driver-side kernel invoked inside Arrow-batched UDFs; it
holds no Spark state and parses one document per call.
"""

from __future__ import annotations

import re
import zlib

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_MAX_PAGES = 50_000
_MAX_BFRANGE = 65_536


class Name(str):
    """A PDF name token (``/Foo`` -> Name('Foo')); distinct from text."""

    __slots__ = ()


class Ref(tuple):
    """Indirect reference ``N G R``."""

    __slots__ = ()

    def __new__(cls, num: int, gen: int):
        return super().__new__(cls, (num, gen))

    @property
    def num(self) -> int:
        return self[0]


class Stream:
    """A stream object: its dict plus the RAW (still-encoded) bytes."""

    __slots__ = ("sdict", "raw")

    def __init__(self, sdict: dict, raw: bytes) -> None:
        self.sdict = sdict
        self.raw = raw


# ---------------------------------------------------------------------------
# tokenizer / object grammar
# ---------------------------------------------------------------------------


def _skip_ws(buf: bytes, i: int) -> int:
    n = len(buf)
    while i < n:
        c = buf[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment to EOL
            while i < n and buf[i] not in (10, 13):
                i += 1
        else:
            break
    return i


def _scan_literal_string(buf: bytes, i: int) -> tuple[bytes, int]:
    """Balanced-paren literal string at ``buf[i] == '('``; returns DECODED
    bytes (escapes applied) and the index past the closing paren."""
    n = len(buf)
    i += 1
    depth = 1
    out = bytearray()
    while i < n:
        c = buf[i]
        if c == 0x5C:  # backslash
            nxt = buf[i + 1 : i + 2]
            if nxt in (b"n", b"r", b"t", b"b", b"f"):
                out += {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f"}[nxt]
                i += 2
            elif nxt in (b"(", b")", b"\\"):
                out += nxt
                i += 2
            elif nxt and nxt[0] in b"01234567":
                j = i + 1
                while j < min(i + 4, n) and buf[j] in b"01234567":
                    j += 1
                out.append(int(buf[i + 1 : j], 8) & 0xFF)
                i = j
            elif nxt in (b"\r", b"\n"):  # line continuation: drop both
                i += 2
                if nxt == b"\r" and buf[i : i + 1] == b"\n":
                    i += 1
            else:  # lone backslash: dropped per spec
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    raise ValueError("unterminated literal string")


def _scan_hex_string(buf: bytes, i: int) -> tuple[bytes, int]:
    end = buf.find(b">", i + 1)
    if end < 0:
        raise ValueError("unterminated hex string")
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", buf[i + 1 : end])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")), end + 1


def _scan_name(buf: bytes, i: int) -> tuple[Name, int]:
    n = len(buf)
    i += 1
    out = bytearray()
    while i < n and buf[i] not in _WS and buf[i] not in _DELIM:
        if buf[i] == 0x23 and i + 2 < n:  # #xx hex escape
            try:
                out.append(int(buf[i + 1 : i + 3], 16))
                i += 3
                continue
            except ValueError:
                pass
        out.append(buf[i])
        i += 1
    return Name(out.decode("latin-1")), i


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_KW_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")


_MAX_NEST = 128  # grammar nesting cap: hostile '[[[[…' must ValueError, not
# RecursionError (the pipeline's pdf_b64 route catches only ValueError)


def _next_token(buf: bytes, i: int, depth: int = 0):
    """-> (kind, value, j): kind 'obj' for a complete object, 'kw' for a
    bare keyword/operator, 'close' for ']'/'>>' markers."""
    i = _skip_ws(buf, i)
    if i >= len(buf):
        raise ValueError("unexpected end of data")
    c = buf[i]
    if c == 0x28:  # (
        s, j = _scan_literal_string(buf, i)
        return "obj", s, j
    if c == 0x3C:  # < or <<
        if buf[i + 1 : i + 2] == b"<":
            d, j = _parse_dict(buf, i + 2, depth + 1)
            return "obj", d, j
        s, j = _scan_hex_string(buf, i)
        return "obj", s, j
    if c == 0x3E:  # >>
        if buf[i + 1 : i + 2] == b">":
            return "close", ">>", i + 2
        raise ValueError("stray '>'")
    if c == 0x5B:  # [
        a, j = _parse_array(buf, i + 1, depth + 1)
        return "obj", a, j
    if c == 0x5D:  # ]
        return "close", "]", i + 1
    if c == 0x2F:  # /name
        nm, j = _scan_name(buf, i)
        return "obj", nm, j
    if c == 0x7B:  # { } (PostScript calculator braces — treat as markers)
        return "kw", "{", i + 1
    if c == 0x7D:
        return "kw", "}", i + 1
    m = _NUM_RE.match(buf, i)
    if m:
        tok = m.group(0)
        j = m.end()
        if b"." in tok:
            return "obj", float(tok), j
        # int: maybe an indirect reference  N G R
        num = int(tok)
        k = _skip_ws(buf, j)
        m2 = _NUM_RE.match(buf, k)
        if m2 and b"." not in m2.group(0):
            k2 = _skip_ws(buf, m2.end())
            if buf[k2 : k2 + 1] == b"R" and (
                k2 + 1 >= len(buf) or buf[k2 + 1] in _WS or buf[k2 + 1] in _DELIM
            ):
                return "obj", Ref(num, int(m2.group(0))), k2 + 1
        return "obj", num, j
    m = _KW_RE.match(buf, i)
    if m:
        kw = m.group(0).decode("latin-1")
        j = m.end()
        if kw == "true":
            return "obj", True, j
        if kw == "false":
            return "obj", False, j
        if kw == "null":
            return "obj", None, j
        return "kw", kw, j
    raise ValueError(f"unparseable byte 0x{c:02x} at offset {i}")


def _parse_array(buf: bytes, i: int, depth: int = 0) -> tuple[list, int]:
    if depth > _MAX_NEST:
        raise ValueError("object nesting too deep")
    out: list = []
    while True:
        kind, val, i = _next_token(buf, i, depth)
        if kind == "close":
            if val != "]":
                raise ValueError("mismatched ']'")
            return out, i
        if kind == "kw":
            raise ValueError(f"keyword '{val}' inside array")
        out.append(val)


def _parse_dict(buf: bytes, i: int, depth: int = 0) -> tuple[dict, int]:
    if depth > _MAX_NEST:
        raise ValueError("object nesting too deep")
    out: dict = {}
    while True:
        kind, key, i = _next_token(buf, i, depth)
        if kind == "close":
            if key != ">>":
                raise ValueError("mismatched '>>'")
            return out, i
        if not isinstance(key, Name):
            raise ValueError("dict key is not a name")
        kind, val, i = _next_token(buf, i, depth)
        if kind != "obj":
            raise ValueError(f"dict value for /{key} is '{val}'")
        out[str(key)] = val


def _parse_obj(buf: bytes, i: int):
    kind, val, j = _next_token(buf, i)
    if kind != "obj":
        raise ValueError(f"expected object, got '{val}'")
    return val, j


# ---------------------------------------------------------------------------
# filters
# ---------------------------------------------------------------------------


def _png_predictor(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    if columns <= 0 or colors <= 0 or bpc <= 0:
        raise ValueError("invalid PNG predictor parameters")
    bpp = max(1, colors * bpc // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    # a crafted /Columns (e.g. 2**40) must not allocate rowlen-sized rows:
    # every real row occupies rowlen+1 bytes of data, so rowlen > len(data)
    # means the declared geometry cannot describe this stream
    if rowlen > len(data):
        raise ValueError("PNG predictor row length exceeds stream data")
    out = bytearray()
    prev = bytearray(rowlen)
    for r in range(0, len(data), rowlen + 1):
        if r >= len(data):
            break
        ft = data[r]
        row = bytearray(data[r + 1 : r + 1 + rowlen])
        if len(row) < rowlen:
            row += bytes(rowlen - len(row))
        if ft == 1:  # Sub
            for k in range(bpp, rowlen):
                row[k] = (row[k] + row[k - bpp]) & 0xFF
        elif ft == 2:  # Up
            for k in range(rowlen):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif ft == 3:  # Average
            for k in range(rowlen):
                left = row[k - bpp] if k >= bpp else 0
                row[k] = (row[k] + ((left + prev[k]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for k in range(rowlen):
                a = row[k - bpp] if k >= bpp else 0
                b = prev[k]
                c = prev[k - bpp] if k >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[k] = (row[k] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG predictor row filter {ft}")
        out += row
        prev = row
    return bytes(out)


def _ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (`<~`..`~>` optional) via stdlib ``base64.a85decode``
    — z-groups, whitespace, partial final groups and group-overflow all
    handled there, and every malformed input raises ValueError (the
    module's error contract)."""
    import base64

    body = data.split(b"~>")[0]
    if body.startswith(b"<~"):
        body = body[2:]
    try:
        return base64.a85decode(body, ignorechars=_WS)
    except ValueError:
        raise
    except Exception as e:  # stdlib raises ValueError, but keep the contract
        raise ValueError(f"ASCII85: {e}") from e


def _runlength_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ln = data[i]
        if ln == 128:  # EOD
            break
        if ln < 128:
            chunk = data[i + 1 : i + 2 + ln]
            if len(chunk) < ln + 1:
                raise ValueError("RunLength: truncated literal run")
            out += chunk
            i += 2 + ln
        else:
            if i + 1 >= n:
                raise ValueError("RunLength: truncated repeat run")
            out += bytes([data[i + 1]]) * (257 - ln)
            i += 2
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode, PDF/TIFF variant: 8-bit data, clear code 256, EOD 257,
    code width grows 9->12 bits. ``early_change=1`` (the default, and the
    PDF default for /DecodeParms /EarlyChange) bumps the width one code
    before the table fills; ``0`` bumps exactly at the boundary."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = bits = 0
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (acc >> bits) & ((1 << width) - 1)
            # drop consumed high bits: an unbounded bigint accumulator makes
            # decoding O(n^2) in stream length (measured 40s on 450 KB)
            acc &= (1 << bits) - 1
            if code == 256:  # clear
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code > 255:
                    raise ValueError("LZW: first code not a literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("LZW: code out of range")
            out += entry
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _apply_filters(raw: bytes, sdict: dict, resolve) -> bytes:
    filters = resolve(sdict.get("Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = resolve(sdict.get("DecodeParms") or sdict.get("DP"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    if len(parms) < len(filters):  # short DecodeParms list must not truncate
        parms = parms + [None] * (len(filters) - len(parms))
    data = raw
    for flt, pm in zip(filters, parms):
        flt = str(resolve(flt)) if flt is not None else None
        pm = resolve(pm) or {}
        if flt == "FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error as e:
                raise ValueError(f"bad FlateDecode stream: {e}") from e
        elif flt == "ASCIIHexDecode":
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode("ascii"))
        elif flt == "ASCII85Decode":
            data = _ascii85_decode(data)
        elif flt == "RunLengthDecode":
            data = _runlength_decode(data)
        elif flt == "LZWDecode":
            ec = resolve(pm.get("EarlyChange")) if isinstance(pm, dict) else None
            data = _lzw_decode(data, early_change=1 if ec is None else int(ec))
        else:
            # DCTDecode/JPXDecode/JBIG2/CCITT are image codecs — no text
            raise ValueError(f"unsupported content-stream /Filter {flt}")
        pred = resolve(pm.get("Predictor")) if isinstance(pm, dict) else None
        if isinstance(pred, int) and pred >= 10:
            data = _png_predictor(
                data,
                int(resolve(pm.get("Columns")) or 1),
                int(resolve(pm.get("Colors")) or 1),
                int(resolve(pm.get("BitsPerComponent")) or 8),
            )
        elif isinstance(pred, int) and pred == 2:
            cols = int(resolve(pm.get("Columns")) or 1)
            b = bytearray(data)
            for r in range(0, len(b) - cols + 1, cols):
                for k in range(1, cols):
                    b[r + k] = (b[r + k] + b[r + k - 1]) & 0xFF
            data = bytes(b)
    return data


# ---------------------------------------------------------------------------
# fonts
# ---------------------------------------------------------------------------

# WinAnsiEncoding == Windows code page 1252; the 5 undefined slots fall back
# to the latin-1 codepoint (what most extractors do).
_CP1252 = {}
for _b in range(256):
    try:
        _CP1252[_b] = bytes([_b]).decode("cp1252")
    except UnicodeDecodeError:
        _CP1252[_b] = chr(_b)


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """ToUnicode CMap -> {code: unicode string} from bfchar/bfrange blocks."""
    out: dict[int, str] = {}

    def _u16(b: bytes) -> str:
        if len(b) % 2 == 0 and b:
            return b.decode("utf-16-be", "replace")
        return b.decode("latin-1")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        body, i = m.group(1), 0
        items: list = []
        while True:
            i = _skip_ws(body, i)
            if i >= len(body):
                break
            try:
                val, i = _parse_obj(body, i)
            except ValueError:
                break
            items.append(val)
        for k in range(0, len(items) - 1, 2):
            src, dst = items[k], items[k + 1]
            if isinstance(src, bytes) and isinstance(dst, bytes):
                out[int.from_bytes(src, "big")] = _u16(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        body, i = m.group(1), 0
        items = []
        while True:
            i = _skip_ws(body, i)
            if i >= len(body):
                break
            try:
                val, i = _parse_obj(body, i)
            except ValueError:
                break
            items.append(val)
        for k in range(0, len(items) - 2, 3):
            lo, hi, dst = items[k], items[k + 1], items[k + 2]
            if not (isinstance(lo, bytes) and isinstance(hi, bytes)):
                continue
            lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
            if hi_i - lo_i > _MAX_BFRANGE:
                hi_i = lo_i + _MAX_BFRANGE
            if isinstance(dst, list):
                for off, d in enumerate(dst[: hi_i - lo_i + 1]):
                    if isinstance(d, bytes):
                        out[lo_i + off] = _u16(d)
            elif isinstance(dst, bytes) and dst:
                base = int.from_bytes(dst, "big")
                width = len(dst)
                for off in range(hi_i - lo_i + 1):
                    try:
                        out[lo_i + off] = _u16((base + off).to_bytes(width, "big"))
                    except OverflowError:
                        # malformed range whose increment overflows the dst
                        # width: stop the range, keep the ValueError-only
                        # failure contract for callers
                        break
    return out


class _Font:
    """Byte-string -> unicode decoder for one /Font resource."""

    def __init__(self, doc: "PdfDocument", fdict) -> None:
        fdict = doc.resolve(fdict)
        if not isinstance(fdict, dict):
            fdict = {}
        self.two_byte = str(doc.resolve(fdict.get("Subtype")) or "") == "Type0"
        self.cmap: dict[int, str] | None = None
        tu = fdict.get("ToUnicode")
        if tu is not None:
            try:
                self.cmap = _parse_tounicode(doc.stream_data(doc.resolve(tu)))
            except ValueError:
                self.cmap = None
        enc = doc.resolve(fdict.get("Encoding"))
        base = enc if isinstance(enc, Name) else (
            doc.resolve(enc.get("BaseEncoding")) if isinstance(enc, dict) else None
        )
        self.winansi = str(base or "") == "WinAnsiEncoding"

    def decode(self, b: bytes) -> str:
        if self.two_byte:
            out = []
            for k in range(0, len(b) - 1, 2):
                code = (b[k] << 8) | b[k + 1]
                if self.cmap is not None:
                    out.append(self.cmap.get(code, ""))
                else:  # no ToUnicode: glyph ids are opaque — best effort
                    out.append(chr(code) if 0x20 <= code < 0xD800 else "")
            return "".join(out)
        if self.cmap is not None:
            return "".join(
                self.cmap.get(c, _CP1252[c] if self.winansi else chr(c)) for c in b
            )
        if self.winansi:
            return "".join(_CP1252[c] for c in b)
        return b.decode("latin-1")


_LATIN1_FONT = None  # default decoder when no Tf has run (synthetic parity)


def _default_font() -> _Font:
    global _LATIN1_FONT
    if _LATIN1_FONT is None:
        f = _Font.__new__(_Font)
        f.two_byte = False
        f.cmap = None
        f.winansi = False
        _LATIN1_FONT = f
    return _LATIN1_FONT


# ---------------------------------------------------------------------------
# content-stream interpreter
# ---------------------------------------------------------------------------

_EI_RE = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)")


def _interpret_content(data: bytes, fonts: dict[str, _Font], do_xobject=None) -> str:
    """Run the text-showing subset of the content-stream grammar in stream
    order: one output line per show operator (Tj / ' / " / TJ). ``Do`` on a
    Form XObject renders its content via ``do_xobject(name)`` (real PDFs
    routinely put headers/footers/stamped text in forms)."""
    lines: list[str] = []
    stack: list = []
    cur = _default_font()
    i, n = 0, len(data)
    while i < n:
        i = _skip_ws(data, i)
        if i >= n:
            break
        try:
            kind, val, i = _next_token(data, i)
        except ValueError:
            break  # trailing garbage in an otherwise-parsed stream
        if kind == "obj":
            stack.append(val)
            continue
        if kind == "close":
            stack.clear()
            continue
        # operator keyword
        if val == "BI":  # inline image: skip raw binary to the EI sentinel
            idm = re.compile(rb"\bID[\x00\t\n\x0c\r ]").search(data, i)
            start = idm.end() if idm else i
            eim = _EI_RE.search(data, start)
            i = eim.end() if eim else n
        elif val == "Do" and do_xobject is not None:
            nm = next((s for s in reversed(stack) if isinstance(s, Name)), None)
            sub = do_xobject(str(nm)) if nm is not None else None
            if sub:
                lines.append(sub)
        elif val == "Tf":
            nm = next((s for s in reversed(stack) if isinstance(s, Name)), None)
            if nm is not None and str(nm) in fonts:
                cur = fonts[str(nm)]
        elif val in ("Tj", "'", '"'):
            s = next((s for s in reversed(stack) if isinstance(s, bytes)), None)
            if s is not None:
                lines.append(cur.decode(s))
            elif val in ("Tj", "'", '"') and stack and not any(
                isinstance(s, bytes) for s in stack
            ):
                raise ValueError(f"text operator {val} with no string operand")
        elif val == "TJ":
            arr = stack[-1] if stack and isinstance(stack[-1], list) else None
            if arr is None:
                raise ValueError("TJ with no array operand")
            lines.append("".join(cur.decode(s) for s in arr if isinstance(s, bytes)))
        stack.clear()
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# document
# ---------------------------------------------------------------------------

_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_XREF_ENTRY_RE = re.compile(rb"(\d{10})\s(\d{5})\s([nf])")


class PdfDocument:
    """Parsed PDF: xref-driven object access with a sequential brute-scan
    fallback for files whose xref is broken (common in the wild)."""

    def __init__(self, blob: bytes) -> None:
        if not blob.startswith(b"%PDF-"):
            raise ValueError("missing %PDF header")
        self.blob = blob
        self.trailer: dict = {}
        # objnum -> ("f", offset) | ("c", objstm_num, idx)
        self.xref: dict[int, tuple] = {}
        self._cache: dict[int, object] = {}
        self._loading: set[int] = set()
        self._objstm_scanned = False
        self._in_brute_scan = False
        # document-level caches: fonts and decoded streams are immutable
        # once parsed; without these the 189-page golden doc re-parses every
        # shared font/CMap per page and every repeated header form per Do
        self._fonts: dict[object, _Font] = {}
        self._decoded: dict[int, bytes] = {}
        # total Do-invocation budget per document: a depth cap alone still
        # allows ~fanout^depth renders on crafted files (untrusted pdf_b64
        # route) — once spent, every further Do renders nothing in O(1)
        self._do_budget = 10_000
        try:
            self._parse_xref_chain()
            # tombstones (freed objects) alone are not a usable xref — an
            # all-free table must still fall back to the brute scan
            if not any(v is not None for v in self.xref.values()):
                raise ValueError("empty xref")
        except ValueError:
            # encrypted files usually have a VALID xref, but a garbled chain
            # must not silently brute-scan ciphertext into nonsense either
            if self.trailer.get("Encrypt") is not None:
                raise ValueError("encrypted PDF (/Encrypt) is not supported")
            self.xref = {}
            self.trailer = {}
            self._brute_scan()
        if self.trailer.get("Encrypt") is not None:
            # no decryption support: route to a clean parse_failed envelope
            # instead of garbling RC4/AES ciphertext streams downstream
            raise ValueError("encrypted PDF (/Encrypt) is not supported")
        if not self.xref:
            raise ValueError("no PDF objects found")

    # -- xref ---------------------------------------------------------------

    def _parse_xref_chain(self) -> None:
        tail = self.blob[-2048:]
        ms = list(_STARTXREF_RE.finditer(tail))
        if not ms:
            raise ValueError("no startxref")
        queue = [int(ms[-1].group(1))]
        seen: set[int] = set()
        while queue:
            off = queue.pop(0)
            if off in seen or not (0 <= off < len(self.blob)):
                continue
            seen.add(off)
            i = _skip_ws(self.blob, off)
            if self.blob[i : i + 4] == b"xref":
                trailer, entries = self._parse_xref_table(i + 4)
                # hybrid-reference precedence (ISO 32000-1 7.5.8.4): the
                # section's /XRefStm stream must be applied BEFORE its table
                # entries — hybrids commonly list ObjStm-compressed objects
                # as free in the classic table, and applying the table first
                # would mask them to tombstones
                xstm = trailer.get("XRefStm")
                if isinstance(xstm, int) and xstm not in seen and 0 <= xstm < len(self.blob):
                    seen.add(xstm)
                    try:
                        sd = self._parse_xref_stream_at(_skip_ws(self.blob, xstm))
                        v = sd.get("Prev")
                        if isinstance(v, int):
                            queue.append(v)
                    except ValueError:
                        pass  # broken hybrid stream: the table still stands
                for num, val in entries:
                    self.xref.setdefault(num, val)
            else:
                trailer = self._parse_xref_stream_at(i)
            v = trailer.get("Prev")
            if isinstance(v, int):
                queue.append(v)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)

    def _parse_xref_table(self, i: int) -> tuple[dict, list]:
        """Parse a classic xref section; returns (trailer, entries) WITHOUT
        applying the entries, so the caller can give the section's /XRefStm
        stream precedence over them (hybrid-reference files)."""
        blob = self.blob
        entries: list = []
        while True:
            i = _skip_ws(blob, i)
            kind, val, j = _next_token(blob, i)
            if kind == "kw" and val == "trailer":
                trailer, _ = _parse_obj(blob, j)
                if not isinstance(trailer, dict):
                    raise ValueError("xref trailer is not a dict")
                return trailer, entries
            if kind != "obj" or not isinstance(val, int):
                raise ValueError("malformed xref subsection header")
            start = val
            count, i = _parse_obj(blob, j)
            if not isinstance(count, int):
                raise ValueError("malformed xref subsection count")
            i = _skip_ws(blob, i)
            for k in range(count):
                m = _XREF_ENTRY_RE.match(blob, i)
                if not m:
                    raise ValueError("malformed xref entry")
                if m.group(3) == b"n":
                    entries.append((start + k, ("f", int(m.group(1)))))
                else:
                    # FREE entry = tombstone: a newer update's deletion must
                    # mask the older section's in-use offset ('newest wins'),
                    # not resurrect stale content
                    entries.append((start + k, None))
                i = _skip_ws(blob, m.end())

    def _parse_xref_stream_at(self, i: int) -> dict:
        m = _OBJ_HEAD_RE.match(self.blob, i)
        if not m:
            raise ValueError("startxref does not point at xref data")
        obj, raw = self._parse_indirect_body(m.end())
        if not isinstance(obj, Stream) or str(obj.sdict.get("Type") or "") != "XRef":
            raise ValueError("xref stream object is not /Type/XRef")
        sd = obj.sdict
        data = _apply_filters(obj.raw, sd, self._resolve_simple)
        w = [int(x) for x in sd.get("W") or []]
        if len(w) != 3:
            raise ValueError("xref stream missing /W")
        # w[1] carries the offset/objstm-number field: width 0 would make
        # every entry's offset None and surface later as a TypeError; huge
        # widths are nonsense (offsets fit in 8 bytes)
        if w[1] < 1 or any(x < 0 or x > 8 for x in w):
            raise ValueError(f"invalid xref stream /W widths {w}")
        size = int(self._resolve_simple(sd.get("Size")) or 0)
        index = sd.get("Index") or [0, size]
        rowlen = sum(w)
        pos = 0
        for p in range(0, len(index) - 1, 2):
            start, count = int(index[p]), int(index[p + 1])
            for k in range(count):
                row = data[pos : pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    break
                f = []
                o = 0
                for width in w:
                    f.append(int.from_bytes(row[o : o + width], "big") if width else None)
                    o += width
                typ = f[0] if w[0] else 1
                if typ == 1:
                    self.xref.setdefault(start + k, ("f", f[1]))
                elif typ == 2:
                    self.xref.setdefault(start + k, ("c", f[1], f[2] or 0))
                elif typ == 0:  # free: tombstone masks older in-use entries
                    self.xref.setdefault(start + k, None)
        return sd

    def _brute_scan(self) -> None:
        """Sequential object walk: parse each ``N G obj`` IN ORDER, slicing
        streams by /Length, so an ``endobj``/``N G obj`` byte pattern INSIDE
        a compressed stream cannot create phantom entries (round-4 ADVICE).
        Later duplicates (incremental updates) win."""
        blob = self.blob
        i = 0
        # a forward indirect /Length resolved MID-scan must not trigger the
        # ObjStm sweep on a partial offset map (and must not latch the
        # scanned flag while recovery is still possible)
        self._in_brute_scan = True
        while True:
            m = _OBJ_HEAD_RE.search(blob, i)
            if not m:
                break
            num = int(m.group(1))
            try:
                obj, end = self._parse_indirect_body(m.end())
            except ValueError:
                i = m.end()
                continue
            self.xref[num] = ("f", m.start())
            if isinstance(obj, Stream):
                # an indirect /Length may reference an object LATER in the
                # file; drop the walk-time parse so the lazy re-parse (with
                # the full offset map) can slice the stream exactly
                self._cache.pop(num, None)
            else:
                self._cache[num] = obj
            i = end
        self._in_brute_scan = False
        self._objstm_scanned = False  # any mid-scan sweep ran on partial state
        root = self.trailer.get("Root")
        if not isinstance(root, Ref):
            for num in self.xref:
                o = self._cache.get(num)
                if isinstance(o, dict) and str(o.get("Type") or "") == "Catalog":
                    self.trailer["Root"] = Ref(num, 0)
                    break

    # -- objects ------------------------------------------------------------

    def _parse_indirect_body(self, i: int):
        """Object value right after its ``N G obj`` header; streams slice by
        a RESOLVED /Length (indirect refs honored) with an endstream-scan
        fallback. Returns (value, index past endobj/endstream)."""
        blob = self.blob
        val, j = _parse_obj(blob, i)
        k = _skip_ws(blob, j)
        if isinstance(val, dict) and blob[k : k + 6] == b"stream":
            k += 6
            if blob[k : k + 2] == b"\r\n":
                k += 2
            elif blob[k : k + 1] in (b"\n", b"\r"):
                k += 1
            length = self._resolve_simple(val.get("Length"))
            raw = None
            if isinstance(length, int) and 0 <= length and k + length <= len(blob):
                end = _skip_ws(blob, k + length)
                if blob[end : end + 9] == b"endstream":
                    raw = blob[k : k + length]
                    j = end + 9
            if raw is None:
                em = blob.find(b"endstream", k)
                if em < 0:
                    raise ValueError("stream without endstream")
                raw = blob[k:em]
                if raw.endswith(b"\r\n"):
                    raw = raw[:-2]
                elif raw.endswith((b"\n", b"\r")):
                    raw = raw[:-1]
                j = em + 9
            return Stream(val, raw), j
        m = re.compile(rb"\s*endobj").match(blob, j)
        return val, (m.end() if m else j)

    def _resolve_simple(self, v):
        """Resolve refs whose target is a direct (non-stream) object — used
        for /Length etc. during low-level parsing."""
        seen = 0
        while isinstance(v, Ref) and seen < 8:
            v = self.get(v.num)
            seen += 1
        return v

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num in self._loading:
            raise ValueError(f"circular object reference {num}")
        if num in self.xref and self.xref[num] is None:
            return None  # FREED object: resolves to null, never resurrected
        ent = self.xref.get(num)
        if ent is None:
            if not self._in_brute_scan:
                self._scan_objstms_once()
            if num in self._cache:
                return self._cache[num]
            return None
        self._loading.add(num)
        try:
            if ent[0] == "f":
                off = ent[1]
                m = _OBJ_HEAD_RE.match(self.blob, _skip_ws(self.blob, off))
                if not m:
                    raise ValueError(f"xref offset for object {num} is not an object")
                obj, _ = self._parse_indirect_body(m.end())
            else:
                obj = self._load_from_objstm(ent[1], ent[2], num)
            self._cache[num] = obj
            return obj
        finally:
            self._loading.discard(num)

    def _load_from_objstm(self, stm_num: int, idx: int, want: int):
        stm = self.get(stm_num)
        if not isinstance(stm, Stream):
            raise ValueError(f"object stream {stm_num} is not a stream")
        self._index_objstm(stm_num, stm)
        if want in self._cache:
            return self._cache[want]
        raise ValueError(f"object {want} not found in object stream {stm_num}")

    def _index_objstm(self, stm_num: int, stm: Stream) -> None:
        data = _apply_filters(stm.raw, stm.sdict, self._resolve_simple)
        n = int(self._resolve_simple(stm.sdict.get("N")) or 0)
        first = int(self._resolve_simple(stm.sdict.get("First")) or 0)
        pairs = []
        i = 0
        for _ in range(n):
            onum, i = _parse_obj(data, i)
            ooff, i = _parse_obj(data, i)
            pairs.append((int(onum), int(ooff)))
        for onum, ooff in pairs:
            # skip already-parsed objects AND freed ones: an older ObjStm
            # copy must not resurrect an object the newest xref tombstoned
            if onum in self._cache or (onum in self.xref and self.xref[onum] is None):
                continue
            try:
                val, _ = _parse_obj(data, first + ooff)
            except ValueError:
                continue
            self._cache[onum] = val

    def _scan_objstms_once(self) -> None:
        """Brute-mode fallback: index every /Type/ObjStm so compressed
        objects resolve even without a usable xref stream."""
        if self._objstm_scanned:
            return
        self._objstm_scanned = True
        for num, ent in list(self.xref.items()):
            if not ent or ent[0] != "f":
                continue
            try:
                obj = self.get(num)
            except ValueError:
                continue
            if isinstance(obj, Stream) and str(obj.sdict.get("Type") or "") == "ObjStm":
                try:
                    self._index_objstm(num, obj)
                except ValueError:
                    continue

    def resolve(self, v):
        return self._resolve_simple(v)

    def stream_data(self, obj) -> bytes:
        obj = self.resolve(obj)
        if not isinstance(obj, Stream):
            raise ValueError("expected a stream object")
        key = id(obj)  # Stream objects live in _cache for the doc lifetime
        data = self._decoded.get(key)
        if data is None:
            data = _apply_filters(obj.raw, obj.sdict, self._resolve_simple)
            self._decoded[key] = data
        return data

    def _font_for(self, fref) -> _Font:
        key = fref.num if isinstance(fref, Ref) else id(fref)
        f = self._fonts.get(key)
        if f is None:
            f = _Font(self, fref)
            self._fonts[key] = f
        return f

    # -- document structure -------------------------------------------------

    def pages(self) -> list[tuple[dict, dict]]:
        """[(page dict, inherited attrs)] in tree order. Raises on /Kids
        entries that resolve to nothing (a broken object graph must become
        an error envelope, not a silently shorter document — round-4
        contract)."""
        root = self.resolve(self.trailer.get("Root"))
        pages_ref = root.get("Pages") if isinstance(root, dict) else None
        top = self.resolve(pages_ref)
        if not isinstance(top, dict):
            # brute-mode fallback: any /Type/Pages with /Kids
            for num in sorted(self.xref):
                o = self.resolve(Ref(num, 0))
                if isinstance(o, dict) and str(o.get("Type") or "") == "Pages" and "Kids" in o:
                    top = o
                    break
        if not isinstance(top, dict):
            raise ValueError("no /Pages object with /Kids")
        out: list[tuple[dict, dict]] = []
        visited: set[int] = set()

        def walk(node, inherited: dict) -> None:
            ref = node
            node = self.resolve(node)
            if not isinstance(node, dict):
                num = ref.num if isinstance(ref, Ref) else "?"
                raise ValueError(f"missing page object {num}")
            if len(out) >= _MAX_PAGES:
                return
            inh = dict(inherited)
            for key in ("Resources", "MediaBox", "Rotate"):
                if key in node:
                    inh[key] = node[key]
            typ = str(node.get("Type") or "")
            if typ == "Page" or ("Contents" in node and "Kids" not in node):
                out.append((node, inh))
                return
            kids = self.resolve(node.get("Kids"))
            if not isinstance(kids, list):
                return
            for kid in kids:
                kid_id = kid.num if isinstance(kid, Ref) else id(kid)
                if kid_id in visited:
                    continue
                visited.add(kid_id)
                walk(kid, inh)

        walk(top, {})
        if not out:
            raise ValueError("no /Pages object with /Kids")
        return out

    def page_text(self, page: dict, inherited: dict) -> str:
        contents = page.get("Contents")
        if contents is None:
            return ""
        clist = self.resolve(contents)
        if not isinstance(clist, list):
            clist = [contents]
        chunks = []
        for c in clist:
            c = self.resolve(c)
            if c is None:
                raise ValueError("missing content object")
            chunks.append(self.stream_data(c))
        data = b"\n".join(chunks)
        res = self.resolve(page.get("Resources", inherited.get("Resources"))) or {}
        return self._render_content(data, res, depth=0)

    def _render_content(self, data: bytes, res, depth: int) -> str:
        """Interpret one content stream under its resource dict; Form
        XObjects recurse (depth-capped) with their OWN resources."""
        if not isinstance(res, dict):
            res = {}
        fdict = self.resolve(res.get("Font"))
        fonts = {}
        if isinstance(fdict, dict):
            for name, fref in fdict.items():
                try:
                    fonts[str(name)] = self._font_for(fref)
                except ValueError:
                    continue
        xdict = self.resolve(res.get("XObject"))

        def do_xobject(name: str):
            if depth >= 8 or not isinstance(xdict, dict):
                return None
            xo = self.resolve(xdict.get(name))
            if not isinstance(xo, Stream):
                return None
            if str(self.resolve(xo.sdict.get("Subtype")) or "") != "Form":
                return None  # images etc. carry no text — and cost no budget
            # document-wide render budget, charged ONLY to Form renders
            # (the recursing, fanout-capable kind): a depth cap alone allows
            # ~fanout^depth renders on crafted files; once spent, every
            # further Form Do is O(1), so total form work stays bounded
            self._do_budget -= 1
            if self._do_budget < 0:
                return None
            sub_res = self.resolve(xo.sdict.get("Resources"))
            try:
                return self._render_content(
                    self.stream_data(xo), sub_res if isinstance(sub_res, dict) else res,
                    depth + 1,
                )
            except (ValueError, RecursionError):
                return None  # a broken form must not void the page

        return _interpret_content(data, fonts, do_xobject)


def parse_pdf_pages(blob: bytes) -> list[str]:
    """Real PDF bytes -> per-page extracted text (one line per text-showing
    operator, fonts decoded). Raises ``ValueError`` on any broken page (the
    pipeline error-envelope contract).

    Error contract: ValueError ONLY. The grammar caps nesting depth and the
    predictors validate geometry, but as the module boundary this also
    converts any residual RecursionError/MemoryError from hostile payloads
    into ValueError so the pipeline's error envelope always catches it."""
    try:
        doc = PdfDocument(blob)
        pages = doc.pages()
    except (RecursionError, MemoryError) as e:
        raise ValueError(f"pdf parse failed: {type(e).__name__}") from None
    out: list[str] = []
    for page, inh in pages:
        try:
            out.append(doc.page_text(page, inh))
        except (ValueError, RecursionError, MemoryError) as e:
            raise ValueError(f"pdf page parse failed: {e}") from None
    return out

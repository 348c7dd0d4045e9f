"""Stdlib-only media container parsing (headers) + deterministic builders.

The reference accepts 7 image formats in its extension whitelist
(/root/reference/scripts/convert.py:32-41) and hands them to the docling
library for OCR. This container has no codec libraries, so the rebuild's
media route is METADATA-ONLY but REAL: container headers are parsed with
``struct``/``zlib`` from the actual bytes — no fakes — covering:

- PNG  (IHDR width/height; signature + chunk CRC layout honoured)
- JPEG (SOF0/1/2 frame header scan for height/width)
- GIF  (logical screen descriptor, little-endian)
- BMP  (BITMAPINFOHEADER dims)
- WAV  (RIFF chunk walk: channels, sample rate, PCM frame count, duration)
- MP4  (ISO-BMFF box walk: moov/mvhd timescale+duration)

The builders construct minimal VALID files of each container (real CRCs,
real zlib image data, real chunk sizes) so tests and synthetic corpora
exercise the parsers on byte-true inputs. Everything is a pure function of
its arguments — usable as a local oracle outside Spark.
"""

from __future__ import annotations

import struct
import zlib

# ---------------------------------------------------------------------------
# parsers
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


class MediaParseError(ValueError):
    pass


def parse_png(b: bytes) -> dict:
    if len(b) < 24 or not b.startswith(_PNG_SIG):
        raise MediaParseError("not a PNG")
    length, ctype = struct.unpack(">I4s", b[8:16])
    if ctype != b"IHDR" or length < 13:
        raise MediaParseError("PNG missing IHDR")
    w, h = struct.unpack(">II", b[16:24])
    return {"format": "png", "width": int(w), "height": int(h)}


def parse_jpeg(b: bytes) -> dict:
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        raise MediaParseError("not a JPEG")
    i = 2
    n = len(b)
    while i + 4 <= n:
        if b[i] != 0xFF:
            i += 1
            continue
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no-payload markers
            i += 2
            continue
        if i + 4 > n:
            break
        seglen = struct.unpack(">H", b[i + 2 : i + 4])[0]
        # SOF0..SOF15 carry dimensions, except DHT(C4)/JPG(C8)/DAC(CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                break
            h, w = struct.unpack(">HH", b[i + 5 : i + 9])
            return {"format": "jpeg", "width": int(w), "height": int(h)}
        i += 2 + seglen
    raise MediaParseError("JPEG has no SOF frame header")


def parse_gif(b: bytes) -> dict:
    if len(b) < 10 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise MediaParseError("not a GIF")
    w, h = struct.unpack("<HH", b[6:10])
    return {"format": "gif", "width": int(w), "height": int(h)}


def parse_bmp(b: bytes) -> dict:
    if len(b) < 26 or b[:2] != b"BM":
        raise MediaParseError("not a BMP")
    w, h = struct.unpack("<ii", b[18:26])
    return {"format": "bmp", "width": int(w), "height": abs(int(h))}


def parse_wav(b: bytes) -> dict:
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise MediaParseError("not a WAV")
    i, n = 12, len(b)
    fmt: dict | None = None
    data_size = None
    while i + 8 <= n:
        cid, csize = struct.unpack("<4sI", b[i : i + 8])
        if cid == b"fmt " and i + 24 <= n:
            _, channels, rate, _byte_rate, block_align, bits = struct.unpack(
                "<HHIIHH", b[i + 8 : i + 24]
            )
            fmt = {
                "channels": int(channels),
                "sample_rate": int(rate),
                "block_align": int(block_align),
                "bits": int(bits),
            }
        elif cid == b"data":
            data_size = int(csize)
        i += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data_size is None:
        raise MediaParseError("WAV missing fmt/data chunk")
    frames = data_size // max(1, fmt["block_align"])
    return {
        "format": "wav",
        **fmt,
        "n_frames": frames,
        "duration_s": frames / max(1, fmt["sample_rate"]),
    }


def parse_mp4(b: bytes) -> dict:
    """Walk top-level ISO-BMFF boxes; read mvhd timescale/duration."""
    if len(b) < 12 or b[4:8] != b"ftyp":
        raise MediaParseError("not an MP4 (no ftyp)")

    def walk(lo: int, hi: int):
        i = lo
        while i + 8 <= hi:
            size, btype = struct.unpack(">I4s", b[i : i + 8])
            if size < 8:
                break
            yield btype, i + 8, min(i + size, hi)
            i += size

    for btype, lo, hi in walk(0, len(b)):
        if btype == b"moov":
            for inner, ilo, ihi in walk(lo, hi):
                if inner == b"mvhd" and ihi - ilo >= 20:
                    version = b[ilo]
                    if version == 1:
                        timescale, duration = struct.unpack(">IQ", b[ilo + 20 : ilo + 32])
                    else:
                        timescale, duration = struct.unpack(">II", b[ilo + 12 : ilo + 20])
                    return {
                        "format": "mp4",
                        "timescale": int(timescale),
                        "duration_s": duration / max(1, timescale),
                    }
    raise MediaParseError("MP4 missing moov/mvhd")


def parse_tiff(b: bytes) -> dict:
    """Baseline TIFF: walk IFD0 for ImageWidth(256)/ImageLength(257)."""
    if len(b) < 8 or b[:4] not in (b"II*\x00", b"MM\x00*"):
        raise MediaParseError("not a TIFF")
    endian = "<" if b[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack(endian + "I", b[4:8])
    if ifd_off + 2 > len(b):
        raise MediaParseError("TIFF IFD out of range")
    (n_entries,) = struct.unpack(endian + "H", b[ifd_off : ifd_off + 2])
    w = h = None
    for e in range(n_entries):
        off = ifd_off + 2 + e * 12
        if off + 12 > len(b):
            break
        tag, ftype = struct.unpack(endian + "HH", b[off : off + 4])
        if ftype == 3:  # SHORT
            (val,) = struct.unpack(endian + "H", b[off + 8 : off + 10])
        else:  # LONG (or inline value)
            (val,) = struct.unpack(endian + "I", b[off + 8 : off + 12])
        if tag == 256:
            w = int(val)
        elif tag == 257:
            h = int(val)
    if w is None or h is None:
        raise MediaParseError("TIFF missing dimension tags")
    return {"format": "tiff", "width": w, "height": h}


def parse_webp(b: bytes) -> dict:
    """WebP RIFF container: VP8X extended header or VP8/VP8L bitstream dims."""
    if len(b) < 16 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise MediaParseError("not a WebP")
    chunk = b[12:16]
    if chunk == b"VP8X" and len(b) >= 30:
        w = int.from_bytes(b[24:27], "little") + 1
        h = int.from_bytes(b[27:30], "little") + 1
        return {"format": "webp", "width": w, "height": h}
    if chunk == b"VP8 " and len(b) >= 30:
        w = struct.unpack("<H", b[26:28])[0] & 0x3FFF
        h = struct.unpack("<H", b[28:30])[0] & 0x3FFF
        return {"format": "webp", "width": w, "height": h}
    if chunk == b"VP8L" and len(b) >= 25:
        bits = int.from_bytes(b[21:25], "little")
        return {"format": "webp", "width": (bits & 0x3FFF) + 1, "height": ((bits >> 14) & 0x3FFF) + 1}
    raise MediaParseError("WebP has no readable header chunk")


_IMAGE_PARSERS = (parse_png, parse_jpeg, parse_gif, parse_bmp, parse_tiff, parse_webp)


# Totality boundary: a TRUNCATED container can pass a parser's magic check
# and then blow up inside struct.unpack/slicing (struct.error, IndexError,
# zlib.error) — dispatchers normalize every failure to MediaParseError so
# one adversarial blob can never kill a Spark task (O1 invariant).
_PARSE_ERRORS = (MediaParseError, struct.error, IndexError, ValueError, zlib.error, EOFError)


def parse_image(b: bytes) -> dict:
    """Dispatch across the image parsers by magic; raises MediaParseError."""
    for p in _IMAGE_PARSERS:
        try:
            return p(b)
        except _PARSE_ERRORS:
            continue
    raise MediaParseError("unrecognized image container")


def parse_media(b: bytes) -> dict:
    """Any supported container -> metadata dict with a 'format' key."""
    for p in (*_IMAGE_PARSERS, parse_wav, parse_mp4):
        try:
            return p(b)
        except _PARSE_ERRORS:
            continue
    raise MediaParseError("unrecognized media container")


# ---------------------------------------------------------------------------
# pixel-level PNG codec (stdlib zlib) + transforms
# ---------------------------------------------------------------------------

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def decode_png_pixels(b: bytes) -> tuple[int, int, int, bytearray]:
    """Full 8-bit PNG decode: chunk walk, zlib inflate, scanline unfilter
    (all five filter types incl. Paeth). Returns (w, h, channels, pixels
    row-major). Raises MediaParseError on anything unsupported."""
    meta = parse_png(b)
    w, h = meta["width"], meta["height"]
    bit_depth, color_type = b[24], b[25]
    if bit_depth != 8 or color_type not in _PNG_CHANNELS:
        raise MediaParseError(f"unsupported PNG (depth={bit_depth}, color={color_type})")
    ch = _PNG_CHANNELS[color_type]
    idat = bytearray()
    i = 8
    while i + 8 <= len(b):
        length, ctype = struct.unpack(">I4s", b[i : i + 8])
        if ctype == b"IDAT":
            idat += b[i + 8 : i + 8 + length]
        if ctype == b"IEND":
            break
        i += 12 + length  # len + type + payload + crc
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != (stride + 1) * h:
        raise MediaParseError("PNG data length mismatch")
    out = bytearray(stride * h)
    prev = bytearray(stride)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for x in range(ch, stride):
                line[x] = (line[x] + line[x - ch]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                c = prev[x - ch] if x >= ch else 0
                bb = prev[x]
                p = a + bb - c
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        elif ftype != 0:
            raise MediaParseError(f"unknown PNG filter {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return w, h, ch, out


def encode_png_pixels(w: int, h: int, ch: int, pixels: bytes) -> bytes:
    """8-bit PNG encode (filter 0) — inverse of decode_png_pixels."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    stride = w * ch
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw += pixels[y * stride : (y + 1) * stride]
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def resize_png(b: bytes, max_side: int) -> bytes:
    """Real nearest-neighbor downscale so the longest side <= max_side;
    returns the input unchanged when already small enough."""
    w, h, ch, px = decode_png_pixels(b)
    if max(w, h) <= max_side:
        return b
    scale = max_side / max(w, h)
    nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
    stride = w * ch
    out = bytearray(nw * nh * ch)
    for y in range(nh):
        sy = min(h - 1, int(y / scale))
        for x in range(nw):
            sx = min(w - 1, int(x / scale))
            src = sy * stride + sx * ch
            dst = (y * nw + x) * ch
            out[dst : dst + ch] = px[src : src + ch]
    return encode_png_pixels(nw, nh, ch, bytes(out))


def wav_frame_sample(b: bytes, step: int) -> bytes:
    """Keep every ``step``-th PCM frame (real decimation, no resample
    filter); sample rate is divided accordingly so duration is preserved."""
    meta = parse_wav(b)
    block = meta["block_align"]
    # locate the data chunk
    i, n = 12, len(b)
    while i + 8 <= n:
        cid, csize = struct.unpack("<4sI", b[i : i + 8])
        if cid == b"data":
            data = b[i + 8 : i + 8 + csize]
            frames = bytearray()
            for f in range(0, len(data) // block, step):
                frames += data[f * block : (f + 1) * block]
            new_rate = max(1, meta["sample_rate"] // step)
            fmt = struct.pack(
                "<HHIIHH", 1, meta["channels"], new_rate, new_rate * block, block, meta["bits"]
            )
            body = (
                b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(frames)) + bytes(frames)
            )
            return b"RIFF" + struct.pack("<I", len(body)) + body
        i += 8 + csize + (csize & 1)
    raise MediaParseError("WAV missing data chunk")


# ---------------------------------------------------------------------------
# builders (minimal VALID files — real CRCs/zlib/box sizes)
# ---------------------------------------------------------------------------


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def build_png(width: int, height: int, seed: int = 0) -> bytes:
    """Valid 8-bit RGB PNG with deterministic pixel bytes."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter: none
        for x in range(width):
            v = (x * 31 + y * 17 + seed) & 0xFF
            raw += bytes((v, (v * 3) & 0xFF, (v * 7) & 0xFF))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def build_jpeg(width: int, height: int, seed: int = 0) -> bytes:
    """Structurally valid JPEG header stream (SOI/APP0/SOF0/SOS/EOI)."""
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof = struct.pack(">BHHB", 8, height, width, 3) + bytes(
        (1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    )
    entropy = bytes(((i * 7 + seed) % 255) + 1 for i in range(32))  # no 0x00/0xFF issues avoided via +1<=255
    entropy = bytes(b if b != 0xFF else 0xFE for b in entropy)
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        + b"\xff\xda" + struct.pack(">H", 8) + bytes((1, 1, 0x00, 0, 63, 0))
        + entropy
        + b"\xff\xd9"
    )


def build_bmp(width: int, height: int, seed: int = 0) -> bytes:
    row = ((width * 3 + 3) // 4) * 4
    pixels = bytes(((x + seed) & 0xFF) for x in range(row * height))
    header = b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + info + pixels


def build_tiff(width: int, height: int) -> bytes:
    """Little-endian TIFF with a 2-entry IFD0 (width/length as LONGs)."""
    ifd = struct.pack("<H", 2)
    ifd += struct.pack("<HHII", 256, 4, 1, width)
    ifd += struct.pack("<HHII", 257, 4, 1, height)
    ifd += struct.pack("<I", 0)  # next IFD
    return b"II*\x00" + struct.pack("<I", 8) + ifd


def build_webp(width: int, height: int) -> bytes:
    """VP8X-flavored WebP (canvas size in the extended header)."""
    vp8x = bytes(10)
    vp8x = b"\x00\x00\x00\x00" + (width - 1).to_bytes(3, "little") + (height - 1).to_bytes(3, "little")
    chunk = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def build_wav(n_frames: int, sample_rate: int = 8000, seed: int = 0) -> bytes:
    """Mono 16-bit PCM WAV."""
    block_align = 2
    data = bytes(((i * 13 + seed) & 0xFF) for i in range(n_frames * block_align))
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * block_align, block_align, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def build_mp4(duration_s: float, seed: int = 0) -> bytes:
    """MP4 with a millisecond-timescale mvhd."""
    ftyp = b"isom\x00\x00\x02\x00isommp41"
    mvhd_payload = (
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # creation/modification (fixed: determinism)
        + struct.pack(">II", 1000, int(round(duration_s * 1000)))
        + b"\x00" * 80  # rate/volume/matrix/predefines/next_track (zeroed)
    )
    mvhd = struct.pack(">I4s", 8 + len(mvhd_payload), b"mvhd") + mvhd_payload
    moov = struct.pack(">I4s", 8 + len(mvhd), b"moov") + mvhd
    mdat_body = bytes(((i * 11 + seed) & 0xFF) for i in range(24))
    mdat = struct.pack(">I4s", 8 + len(mdat_body), b"mdat") + mdat_body
    return struct.pack(">I4s", 8 + len(ftyp), b"ftyp") + ftyp + moov + mdat

"""Multimodal columns: opaque binary payloads + typed metadata, REAL decode.

Images/audio/video travel as ``binary`` columns. Metadata extraction is done
with the stdlib container parsers in ``kernels/media.py`` (PNG IHDR, JPEG
SOF, GIF/BMP/TIFF/WebP headers, WAV RIFF chunks, MP4 mvhd) — actual bytes
parsed, no fakes. Deep codec work (pixel decode, resampling, frame
extraction) would need Pillow/av on executors; the ``feature`` column is
therefore a real but codec-free content feature: a 16-bin byte histogram
(fraction of payload bytes per bin) — deterministic, Arrow-batched, and a
drop-in slot for a model embedding in production.

Scale shape: one ``mapInPandas`` iterator per partition (binary column moves
zero-copy over Arrow); header parsing is O(header), the histogram O(bytes) in
numpy — no per-row Python string work.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_gfcr_spark.kernels import media

MEDIA_SCHEMA = (
    "media_id long, modality string, payload binary, mime string, n_bytes long"
)
FEATURE_SCHEMA = (
    "media_id long, modality string, n_bytes long, sha_prefix string, "
    "format string, width int, height int, n_frames int, duration_s double, "
    "feature array<float>"
)

_MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"II*\x00": "image/tiff",
    b"MM\x00*": "image/tiff",
    b"GIF8": "image/gif",
    b"BM": "image/bmp",
}


def sniff_mime(payload: bytes | None) -> str:
    if not payload:
        return "application/octet-stream"
    for magic, mime in _MAGIC.items():
        if payload.startswith(magic):
            return mime
    if payload[:4] == b"RIFF" and len(payload) >= 12:
        sub = payload[8:12]
        if sub == b"WAVE":
            return "audio/wav"
        if sub == b"WEBP":
            return "image/webp"
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return "video/mp4"
    return "application/octet-stream"


def decode_media(payload: bytes) -> dict:
    """Parse one payload's container header into the feature-row fields.

    Total: unrecognized containers come back as format='unknown' with zeroed
    dimensions (the row is preserved — reference invariant O1).
    """
    try:
        meta = media.parse_media(payload)
    except media.MediaParseError:
        return {"format": "unknown", "width": 0, "height": 0, "n_frames": 0, "duration_s": 0.0}
    fmt = meta["format"]
    if fmt in ("png", "jpeg", "gif", "bmp", "tiff", "webp"):
        return {
            "format": fmt,
            "width": meta["width"],
            "height": meta["height"],
            "n_frames": 1,
            "duration_s": 0.0,
        }
    if fmt == "wav":
        return {
            "format": fmt,
            "width": 0,
            "height": 0,
            "n_frames": meta["n_frames"],
            "duration_s": float(meta["duration_s"]),
        }
    return {  # mp4
        "format": fmt,
        "width": 0,
        "height": 0,
        "n_frames": 0,
        "duration_s": float(meta["duration_s"]),
    }


def byte_histogram(payload: bytes) -> list[float]:
    """Fraction of bytes per 16-wide value bin (16 bins) — a codec-free
    content feature."""
    if not payload:
        return [0.0] * 16
    arr = np.frombuffer(payload, dtype=np.uint8)
    counts = np.bincount(arr >> 4, minlength=16).astype(np.float64)
    return [float(x) for x in counts / len(arr)]


def extract_media_features(df: DataFrame) -> DataFrame:
    """mapInPandas over binary payloads -> typed metadata + content feature."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, modality, payload in zip(
                pdf["media_id"], pdf["modality"], pdf["payload"]
            ):
                blob = bytes(payload) if payload is not None else b""
                d = decode_media(blob)
                rows.append(
                    {
                        "media_id": media_id,
                        "modality": modality,
                        "n_bytes": len(blob),
                        "sha_prefix": hashlib.sha256(blob).hexdigest()[:16],
                        **d,
                        "feature": byte_histogram(blob),
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


def gen_media_payload(i: int) -> tuple[str, bytes]:
    """(modality, payload) for media_id ``i`` — REAL minimal containers,
    deterministic in ``i`` (seed 42); the shared unit both Spark generation
    and local test oracles call."""
    rng = np.random.RandomState(42 + int(i))
    m = int(i) % 4
    if m == 0:
        return "image", media.build_png(4 + int(i) % 28, 4 + (int(i) // 2) % 28, seed=int(i) & 0xFF)
    if m == 1:
        return "image", media.build_jpeg(8 + int(i) % 120, 8 + (int(i) // 3) % 90, seed=int(i) & 0xFF)
    if m == 2:
        return "audio", media.build_wav(
            100 + int(i) % 4000, sample_rate=8000 * (1 + int(i) % 2), seed=int(i) & 0xFF
        )
    if rng.rand() < 0.1:  # plant undecodable payloads: O1 must keep the row
        return "video", rng.bytes(64)
    return "video", media.build_mp4(0.5 + (int(i) % 50) / 10.0, seed=int(i) & 0xFF)


def make_fake_media(spark) -> DataFrame:
    """Deterministic 128-row media table of real minimal containers (see
    ``gen_media_payload``); 'fake' refers to the content, not the format."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                modality, payload = gen_media_payload(int(i))
                rows.append(
                    {
                        "media_id": int(i),
                        "modality": modality,
                        "payload": payload,
                        "mime": sniff_mime(payload),
                        "n_bytes": len(payload),
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(128).mapInPandas(gen, schema=MEDIA_SCHEMA)


def transform_payload(blob: bytes, max_side: int, frame_step: int) -> tuple[bytes, bool]:
    """Pure per-payload transform (shared by the Spark stage and the local
    fixture oracle): returns (new_payload, transformed)."""
    try:
        if blob.startswith(b"\x89PNG"):
            out = media.resize_png(blob, max_side)
            return out, out != blob
        if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
            return media.wav_frame_sample(blob, frame_step), True
    except media._PARSE_ERRORS:  # truncated/corrupt container (zlib/struct/
        pass  # index errors included): O1 — keep the row, flag untouched
    return blob, False


def transform_media(df: DataFrame) -> DataFrame:
    """Media transformation stage (mapInPandas): REAL pixel/PCM work where
    the container is stdlib-decodable, honest passthrough where not.

    - PNG images with a side over 20 px: nearest-neighbor downscale
      (full scanline unfilter incl. Paeth — kernels/media.py) and re-encode.
    - WAV audio: keep every 4th PCM frame (decimation; sample
      rate divided so duration is preserved).
    - JPEG/MP4 payloads pass through unchanged with ``transformed=false`` —
      entropy-coded streams need real codecs (Pillow/av on executors in
      production, swapped into this same iterator).

    Output keeps the MEDIA_SCHEMA shape plus a ``transformed`` flag so the
    stage composes with extract_media_features downstream.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, modality, payload in zip(
                pdf["media_id"], pdf["modality"], pdf["payload"]
            ):
                blob = bytes(payload) if payload is not None else b""
                out, done = transform_payload(blob, 20, 4)
                rows.append(
                    {
                        "media_id": media_id,
                        "modality": modality,
                        "payload": out,
                        "mime": sniff_mime(out),
                        "n_bytes": len(out),
                        "transformed": done,
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(op, schema=MEDIA_SCHEMA + ", transformed boolean")


def media_ref_token(payload_b64: str | None) -> str | None:
    """Compact typed ref for a base64 image payload —
    ``<media:{format}:{W}x{H}:{sha256-16}>`` — or ``None`` when the
    container doesn't parse (the caller falls back to the text route's
    apology record, mirroring pipeline's image handling). Pure Python so
    the fixture oracle (tools/make_fixtures.py) runs the IDENTICAL code
    the Spark UDF batches."""
    import base64
    import binascii

    if payload_b64 is None:
        return None
    try:
        blob = base64.b64decode(payload_b64, validate=True)
        meta = media.parse_image(blob)
    except (ValueError, binascii.Error):  # MediaParseError subclasses ValueError
        return None
    return (
        f"<media:{meta['format']}:{meta['width']}x{meta['height']}"
        f":{hashlib.sha256(blob).hexdigest()[:16]}>"
    )


from pyspark.sql.types import StringType  # noqa: E402  (DDL strings need a live session at import)


@F.pandas_udf(StringType())
def media_ref_udf(payload_b64: pd.Series) -> pd.Series:
    """Arrow-batched twin of :func:`media_ref_token` (one Python stage over
    the FILTERED media turns only — the text majority never reaches it)."""
    return payload_b64.map(media_ref_token)

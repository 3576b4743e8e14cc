"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Header metadata (width/height/channels/format) is parsed for real by a
pure-Python PNG/GIF/JPEG reader — no decode library needed. Full pixel
decode (the `feature` embedding step) still uses a content digest stand-in
behind an import guard, because PIL/torchaudio/av are not in this
container; the Spark-side plumbing (schemas, Arrow batch shapes,
mapInPandas signatures, partitioning) is production-form either way.
"""

from __future__ import annotations

import hashlib
import logging
import struct
import zlib

import pandas as pd

from pyspark.sql import DataFrame, functions as F

_log = logging.getLogger(__name__)

IMAGE_META_SCHEMA = ("doc_id long, width int, height int, channels int, "
                     "format string, feature binary")

# PNG color type -> sample channels
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_image_header(data: bytes):
    """Real (width, height, channels, format) from PNG / GIF / JPEG
    container headers, pure Python. Returns None for unrecognized bytes."""
    if len(data) >= 33 and data[:8] == b"\x89PNG\r\n\x1a\n" \
            and data[12:16] == b"IHDR":
        w, h = struct.unpack(">II", data[16:24])
        color_type = data[25]
        return (w, h, _PNG_CHANNELS.get(color_type, 3), "png")
    if len(data) >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", data[6:10])
        return (w, h, 3, "gif")
    if len(data) >= 4 and data[:2] == b"\xff\xd8":
        # walk JPEG segments to the first SOF marker
        i = 2
        while i + 9 <= len(data):
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if i + 4 > len(data):
                break
            seg_len = struct.unpack(">H", data[i + 2:i + 4])[0]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                          0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                if i + 9 > len(data):
                    break
                h, w = struct.unpack(">HH", data[i + 5:i + 9])
                channels = data[i + 9] if i + 9 < len(data) else 3
                return (w, h, channels, "jpeg")
            i += 2 + seg_len
    return None


def tiny_png(w: int, h: int, color_type: int = 2) -> bytes:
    """Minimal valid PNG (8-bit, zlib-compressed zero pixels) — the
    deterministic image fixture generator for tests and queries."""
    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    nch = _PNG_CHANNELS.get(color_type, 3)
    raw = b"".join(b"\x00" + bytes(nch * w) for _ in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _pil():
    """PIL.Image when the library exists in the environment, else None —
    the single import guard every pixel-touching path goes through."""
    try:
        from PIL import Image
        return Image
    except ImportError:
        return None


def decode_pixels(data: bytes):
    """REAL pixel decode (RGB uint8 HxWx3 numpy array) via PIL. In
    environments without PIL this raises the documented ImportError —
    callers that can run without pixels (image_features) use the digest
    stand-in instead; callers that need pixels surface the gap loudly."""
    Image = _pil()
    if Image is None:
        raise ImportError(
            "PIL not available: pixel decode runs only where Pillow is "
            "installed; header metadata and the digest feature stand-in "
            "do not need it")
    import io as _io

    import numpy as np

    return np.asarray(Image.open(_io.BytesIO(data)).convert("RGB"))


def pixel_feature(data: bytes) -> bytes | None:
    """64-byte real pixel feature: 8x8 mean-pooled grayscale of the
    decoded image (deterministic, library-version-independent for the
    flat test fixtures). None when PIL is absent or the bytes don't
    decode — the caller falls back to the content digest."""
    if _pil() is None:
        return None
    import numpy as np

    try:
        px = decode_pixels(data).astype(np.float64)
    except (OSError, ValueError) as e:
        # PIL raises OSError (UnidentifiedImageError) for bytes it cannot
        # identify or that end early, ValueError for bad parameters
        _log.warning("pixel fallback: %d-byte image did not decode, "
                     "using the content digest (%s)", len(data), e)
        return None
    g = px.mean(axis=2)
    h, w = g.shape
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 9).astype(int)
    out = np.zeros((8, 8), dtype=np.uint8)
    for i in range(8):
        for j in range(8):
            block = g[ys[i]:max(ys[i + 1], ys[i] + 1),
                      xs[j]:max(xs[j + 1], xs[j] + 1)]
            out[i, j] = int(block.mean()) if block.size else 0
    return out.tobytes()


def _decode_image(data: bytes):
    """Header metadata is parsed for real; bytes that are not a
    recognized image container fall back to a deterministic fake so the
    pipeline stays testable on arbitrary blobs. Pixel decode
    (decode_pixels/pixel_feature) is wired through the PIL guard and
    replaces the digest feature wherever Pillow exists."""
    meta = parse_image_header(data)
    if meta is not None:
        return meta
    h = hashlib.sha256(data).digest()
    return (64 + h[0] % 512, 64 + h[1] % 512, 3, "fake")


def image_features(df: DataFrame, bin_col: str = "html",
                   id_col: str = "doc_id") -> DataFrame:
    """Decode/feature-extract over binary columns via mapInPandas. With
    Pillow on the executors the feature is a REAL 64-byte 8x8 mean-pooled
    pixel feature (pixel_feature); without it, a 32-byte content digest
    stand-in. The Arrow batch shape (one row per asset, bounded batch
    bytes via maxRecordsPerBatch) is the production contract either
    way."""

    def run(iterator):
        for pdf in iterator:
            out = {"doc_id": [], "width": [], "height": [], "channels": [],
                   "format": [], "feature": []}
            for did, data in zip(pdf[id_col], pdf[bin_col]):
                if data is None:
                    continue
                b = bytes(data)
                w, h, c, fmt = _decode_image(b)
                out["doc_id"].append(int(did))
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["format"].append(fmt)
                feat = pixel_feature(b) if fmt != "fake" else None
                out["feature"].append(feat or hashlib.sha256(b).digest())
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=IMAGE_META_SCHEMA)


def frame_sample(df: DataFrame, bin_col: str = "html",
                 id_col: str = "doc_id", every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: emits (doc_id, frame_idx, frame
    digest) rows — the 1->N explode shape of real frame extraction, with a
    deterministic fake sampler (content-seeded frame count)."""
    schema = "doc_id long, frame_idx int, frame_sha string"

    def run(iterator):
        for pdf in iterator:
            rows = {"doc_id": [], "frame_idx": [], "frame_sha": []}
            for did, data in zip(pdf[id_col], pdf[bin_col]):
                if data is None:
                    continue
                b = bytes(data)
                n_frames = 1 + hashlib.sha256(b).digest()[0] % 5
                for i in range(0, n_frames, max(1, every_n // 10)):
                    rows["doc_id"].append(int(did))
                    rows["frame_idx"].append(i)
                    rows["frame_sha"].append(
                        hashlib.sha256(b + i.to_bytes(4, "little")).hexdigest())
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=schema)

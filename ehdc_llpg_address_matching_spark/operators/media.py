"""Multimodal column operators: decode / resize planning over opaque
binary or media_ref columns.

Pixel decode is REAL code behind an optional pillow import
(`decode_image` / `with_pixel_stats`): where PIL is installed the
operator decodes and measures actual pixels; in this pixel-less
sandbox it emits px_ok=False rows (never fake pixels) and the
NotImplementedError stub is reachable ONLY when PIL is absent. Header
METADATA parsing (`parse_image_header`) is pure-python and real
everywhere. The remaining deterministic stand-in (`_decode_fake` for
ref-only rows) is clearly marked.

Media rides through the linkage pipeline untouched inside the spans
array (the per-row invariant); these operators act on the exploded
media_spans view (sources.documents.media_spans).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_META_SCHEMA = ("width int, height int, n_channels int, "
                     "format string, ok boolean")

try:  # real pixel decode when pillow is installed (deployment path)
    from PIL import Image as _PILImage
except ImportError:  # this sandbox ships no image libraries
    _PILImage = None


def decode_image(data) -> "np.ndarray | None":
    """REAL pixel decode via PIL when installed: (h, w, 3) uint8 RGB
    array, or None for undecodable bytes. Raises NotImplementedError
    when PIL is absent — the ONLY remaining stub in the media path
    (header METADATA parsing below is real either way)."""
    if _PILImage is None:
        raise NotImplementedError(
            "pixel decode requires pillow; header metadata via "
            "parse_image_header works without it")
    import io
    try:
        with _PILImage.open(io.BytesIO(bytes(data))) as im:
            return np.asarray(im.convert("RGB"))
    except Exception:
        return None


def with_pixel_stats(media: DataFrame,
                     content_col: str = "content") -> DataFrame:
    """Decode-bearing operator (the shape a training pipeline's
    image-quality filter runs): per image, decoded width/height + mean
    and std intensity via mapInPandas. Uses the real PIL decode when
    available; without PIL it emits px_ok=False rows — never fake
    pixels — so the Spark plumbing (schema, batching, partitioning)
    stays testable in pixel-less environments."""
    def run(it):
        for pdf in it:
            w, h, mean, std, ok = [], [], [], [], []
            for d in pdf[content_col]:
                arr = None
                if _PILImage is not None and d is not None:
                    arr = decode_image(d)
                if arr is None:
                    w.append(0); h.append(0)
                    mean.append(0.0); std.append(0.0); ok.append(False)
                else:
                    h.append(int(arr.shape[0])); w.append(int(arr.shape[1]))
                    mean.append(float(arr.mean()))
                    std.append(float(arr.std())); ok.append(True)
            out = pdf.reset_index(drop=True)
            out["px_w"] = w; out["px_h"] = h
            out["px_mean"] = mean; out["px_std"] = std; out["px_ok"] = ok
            yield out

    schema = (", ".join(f"{n} {t}" for n, t in media.dtypes) +
              ", px_w int, px_h int, px_mean double, px_std double, "
              "px_ok boolean")
    return media.mapInPandas(run, schema=schema)


def _decode_fake(ref: str) -> tuple[int, int, int, str]:
    """Deterministic stand-in for an image decoder: dimensions derived
    from the media_ref hash. Real impl: PIL.Image.open on fetched bytes.
    STUB — used only when no binary content column exists (pixel
    DECODE still needs image libs; header METADATA is real, below)."""
    h = hashlib.md5(ref.encode()).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192, 3, ["jpeg", "png", "pdf"][h[2] % 3]


PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> samples per pixel (PNG spec 11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_image_header(data) -> tuple[int, int, int, str, bool]:
    """REAL pure-python image-metadata decode — no image libraries
    needed, dimensions live in the first KB of the container:
    - PNG: 8-byte signature, then the IHDR chunk (width/height 4-byte
      BE, bit depth, color type) — PNG spec 5.2/11.2.2.
    - JPEG: marker scan from SOI; any SOF0-SOF15 frame header except
      DHT/JPG/DAC (C4/C8/CC) carries precision, height, width,
      component count — ITU T.81 B.2.2.
    - GIF87a/89a: logical screen width/height, 2-byte LE.
    Returns (width, height, n_channels, format, ok)."""
    if data is None or len(data) == 0:
        return 0, 0, 0, "none", False
    b = bytes(data)
    if b[:8] == PNG_SIG:
        if len(b) >= 26 and b[12:16] == b"IHDR":
            w = int.from_bytes(b[16:20], "big")
            h = int.from_bytes(b[20:24], "big")
            return w, h, _PNG_CHANNELS.get(b[25], 0), "png", True
        return 0, 0, 0, "png", False
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            if b[i + 1] == 0xFF:
                # legal fill/padding byte before a marker (T.81 B.1.1.2)
                # — must NOT be read as a marker with a length field
                i += 1
                continue
            marker = b[i + 1]
            if marker == 0x00:  # stuffed byte, not a marker
                i += 2
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2          # standalone markers carry no length
                continue
            if marker in (0xD9, 0xDA):
                # EOI, or SOS without a preceding SOF: past SOS lies
                # entropy-coded data where spurious 0xFF,0xCx byte
                # pairs would be misread as frame headers — stop.
                break
            seg_len = int.from_bytes(b[i + 2:i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 10 <= len(b):
                    h = int.from_bytes(b[i + 5:i + 7], "big")
                    w = int.from_bytes(b[i + 7:i + 9], "big")
                    return w, h, b[i + 9], "jpeg", True
                break
            i += 2 + seg_len
        return 0, 0, 0, "jpeg", False
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        return (int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"), 1, "gif", True)
    return 0, 0, 0, "unknown", False


def synth_image_bytes(ref: str) -> bytes:
    """Deterministic REAL image headers for fixtures/oracles: a JFIF
    JPEG (SOI + APP0 + SOF0 + EOI) or a PNG (signature + full IHDR
    chunk incl. CRC) whose dimensions derive from md5(ref). The
    generation rule is trivially mirror-able in SQL (md5 hex bytes);
    parse_image_header does real marker/chunk parsing on the result —
    generation is the fixture, parsing is the product code."""
    import zlib
    hx = hashlib.md5(ref.encode()).hexdigest()
    w = 64 + int(hx[0:2], 16) % 192
    h = 64 + int(hx[2:4], 16) % 192
    if int(hx[4:6], 16) % 2 == 0:
        app0 = (b"\xff\xe0" + (16).to_bytes(2, "big") +
                b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        sof0 = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08" +
                h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" +
                b"\x01\x22\x00\x02\x11\x01\x03\x11\x01")
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    color_type = 2 if int(hx[6:8], 16) % 2 == 0 else 6  # RGB / RGBA
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big") +
            bytes([8, color_type, 0, 0, 0]))
    chunk = b"IHDR" + ihdr
    return (PNG_SIG + (13).to_bytes(4, "big") + chunk +
            zlib.crc32(chunk).to_bytes(4, "big"))


def with_media_metadata(media: DataFrame,
                        ref_col: str = "media_ref",
                        content_col: str | None = None) -> DataFrame:
    """Adds width/height/n_channels/format/ok via mapInPandas
    (batch-shaped like a real decode: one Arrow batch in, one out).

    With content_col set (a binary column of image bytes), metadata is
    REALLY decoded by parse_image_header — pure-python JPEG/PNG/GIF
    header parsing, no image libs. Without it, only the media_ref
    exists, so the hash-derived _decode_fake stub fills in (clearly a
    stand-in: there are no bytes to parse)."""
    def run(it):
        for pdf in it:
            if content_col is not None:
                parsed = [parse_image_header(d) for d in pdf[content_col]]
                meta = [p[:4] for p in parsed]
                ok = [p[4] for p in parsed]
            else:
                refs = pdf[ref_col].fillna("")
                meta = [_decode_fake(r) if r else (0, 0, 0, "none")
                        for r in refs]
                ok = (refs.to_numpy() != "").tolist()
            m = pd.DataFrame(meta, columns=["width", "height",
                                            "n_channels", "format"])
            m["ok"] = ok
            yield pd.concat([pdf.reset_index(drop=True), m], axis=1)

    schema = ", ".join(f"{n} {t}" for n, t in media.dtypes) + ", " + \
        MEDIA_META_SCHEMA
    return media.mapInPandas(run, schema=schema)


def with_synth_image_bytes(media: DataFrame,
                           ref_col: str = "media_ref",
                           out_col: str = "content") -> DataFrame:
    """Fixture column: deterministic real image headers per ref (see
    synth_image_bytes). Arrow-batched; production replaces this with
    the object-store fetch."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def _gen(refs: pd.Series) -> pd.Series:
        return refs.fillna("").map(
            lambda r: synth_image_bytes(r) if r else b"")

    return media.withColumn(out_col, _gen(F.col(ref_col)))


def resize_spec(media: DataFrame, target_w: int = 224,
                target_h: int = 224) -> DataFrame:
    """Resize planning as column math on decoded metadata (scale factor,
    letterbox padding). The pixel resample itself would live in the same
    mapInPandas as the decode; the plan columns are what downstream
    training shards consume."""
    scale = F.least(F.lit(target_w) / F.greatest("width", F.lit(1)),
                    F.lit(target_h) / F.greatest("height", F.lit(1)))
    return (media
            .withColumn("resize_scale", scale)
            .withColumn("resized_w",
                        F.round(F.col("width") * scale).cast("int"))
            .withColumn("resized_h",
                        F.round(F.col("height") * scale).cast("int"))
            .withColumn("pad_x", (F.lit(target_w) - F.col("resized_w")) / 2)
            .withColumn("pad_y", (F.lit(target_h) - F.col("resized_h")) / 2))

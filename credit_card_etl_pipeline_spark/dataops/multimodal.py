"""Multimodal column support (engine extension).

Media travels as opaque ``binary`` columns paired with a typed
metadata struct; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so bytes never round-trip through driver memory.

Image decode is REAL: via Pillow when installed (anything PIL reads),
else the vendored stdlib PNG codec (dataops/png.py, incl. APNG
animations) — so ``decode_media(..., fake=False)`` works on actual
images in this runtime.  ``fake=True`` keeps the deterministic
byte-histogram pseudo-decoder used by the SQL-expressible oracle
queries.  Other image formats need Pillow; video containers and audio
have no stdlib path and raise at the exact call site a pyav/ffmpeg
integration would fill.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import png as _png


def decode_image_gray(data: bytes) -> tuple[int, int, bytes]:
    """(width, height, luminance bytes) of a real encoded image.

    Prefers Pillow (any format it reads); falls back to the vendored
    PNG codec on PNG magic bytes.  Raises ``NotImplementedError`` for
    any other format when Pillow is absent."""
    try:
        from PIL import Image  # optional dependency, not in runtime
    except ImportError:
        Image = None
    if Image is not None:
        import io

        with Image.open(io.BytesIO(data)) as im:
            gray = im.convert("L")
            return gray.width, gray.height, gray.tobytes()
    if data[:8] == _png.PNG_MAGIC:
        w, h, channels, pixels = _png.decode_png(data)
        return w, h, _png.to_gray(channels, pixels)
    raise NotImplementedError(
        "image decode without Pillow covers PNG/APNG (dataops/png.py); "
        "other formats require Pillow"
    )

#: Metadata carried alongside every media payload.
MEDIA_METADATA_TYPE = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),      # codec/container tag
        T.StructField("byte_len", T.LongType()),
        T.StructField("checksum", T.StringType()),    # md5 hex of payload
    ]
)


def pack_text_as_media(text: Column, media_type: str = "image") -> Column:
    """Test/demo helper: utf-8 bytes of ``text`` as a media payload."""
    _ = media_type
    return F.encode(text, "utf-8")


def media_metadata(payload: Column, media_type: str, fmt: str) -> Column:
    """Typed metadata struct from a binary payload — native expressions
    only (byte length + md5 checksum)."""
    return F.struct(
        F.lit(media_type).alias("media_type"),
        F.lit(fmt).alias("format"),
        F.length(payload).cast("long").alias("byte_len"),
        F.md5(payload).alias("checksum"),
    )


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.LongType())),
    ]
)


def decode_media(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """Arrow-batched media decode returning per-item features.

    With ``fake=False`` (the real path) payloads are decoded as images
    — Pillow when installed, else the vendored PNG codec — and the
    feature is a 16-bin LUMINANCE histogram of the decoded pixels.
    With ``fake=True`` the "decoder" emits a 16-bin histogram of the
    raw payload bytes instead: same batch path (schema, Arrow transfer,
    per-partition batching), but SQL-expressible, which is what the
    fake-mode oracle queries check.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sizes, feats = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                # NULL payload = no content (b""): fake mode yields a
                # zero histogram / zero frames, matching SQL null
                # semantics in the oracles; the real decoders treat
                # empty bytes as any other invalid container (loud
                # format error), unchanged.
                data = b"" if payload is None else bytes(payload)
                source = (
                    data if fake else decode_image_gray(data)[2]
                )
                hist = [0] * 16
                for byte in source:
                    hist[byte >> 4] += 1
                ids.append(doc_id)
                sizes.append(len(data))
                feats.append(hist)
            yield pd.DataFrame(
                {"doc_id": ids, "n_bytes": sizes, "feature": feats}
            )

    return df.select(
        F.col(id_col).alias(id_col), F.col(payload_col).alias(payload_col)
    ).mapInPandas(run, _DECODE_SCHEMA)


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)


def resize_images(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    width: int = 8,
    height: int = 8,
    fake: bool = False,
) -> DataFrame:
    """Image resize: Arrow-batched, emits fixed-dimension pixel buffers.

    Real path (``fake=False``): decode to luminance (Pillow or the
    vendored PNG codec), then nearest-neighbor resample to w×h.  The
    fake decoder tiles payload bytes into the target buffer
    (truncate/repeat) — same shape contract, SQL-expressible."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        size = width * height

        def real(data: bytes) -> bytes:
            w, h, gray = decode_image_gray(data)
            return _png.resize_nearest(gray, w, h, width, height)

        def tiled(data: bytes) -> bytes:
            return (data * (size // max(len(data), 1) + 1))[:size]

        pix = tiled if fake else real
        for pdf in batches:
            out = {
                "doc_id": list(pdf[id_col]),
                "width": [width] * len(pdf),
                "height": [height] * len(pdf),
                "pixels": [
                    pix(b"" if p is None else bytes(p))
                    for p in pdf[payload_col]
                ],
            }
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(run, _RESIZE_SCHEMA)


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_bytes: int = 16,
    every: int = 4,
    fake: bool = False,
) -> DataFrame:
    """Video frame-sampling: one output row per sampled frame (explode
    shape), keeping every ``every``-th frame.

    Real path (``fake=False``): payloads are PNG/APNG streams decoded
    by the vendored codec (png.decode_apng_frames) — each kept frame
    is emitted as its luminance pixel buffer.  Video containers
    (avi/mp4/mkv) would slot in at the same call site via
    pyav/ffmpeg.  The fake path treats the payload as fixed-size byte
    frames — the same fan-out contract, SQL-expressible for the
    oracle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                for fno, frame in iter_sampled_frames(
                    payload,
                    every=every,
                    frame_bytes=frame_bytes,
                    fake=fake,
                ):
                    ids.append(doc_id)
                    nos.append(fno)
                    frames.append(frame)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_no": nos, "frame": frames}
            )

    return df.select(id_col, payload_col).mapInPandas(run, _FRAME_SCHEMA)


def iter_sampled_frames(
    payload,
    *,
    every: int = 4,
    frame_bytes: int = 16,
    fake: bool = False,
):
    """Per-payload core of :func:`sample_frames`: yield (frame_no,
    gray_frame_bytes) for every ``every``-th frame (this IS the
    DataFrame operator's decode path — extracted so a caller whose
    payloads are born inside a Python stage can sample frames in the
    SAME crossing instead of shipping the bytes JVM→Python→JVM→Python
    again; guide §4)."""
    data = b"" if payload is None else bytes(payload)
    if fake:
        n = len(data) // frame_bytes
        for fno in range(0, n, every):
            yield fno, data[fno * frame_bytes : (fno + 1) * frame_bytes]
    else:
        decoded = _png.decode_apng_frames(data)
        for fno in range(0, len(decoded), every):
            _, _, channels, pixels = decoded[fno]
            yield fno, _png.to_gray(channels, pixels)


def dhash64(width: int, height: int, gray: bytes) -> tuple[int, list[int]]:
    """Difference hash of a decoded grayscale image: 2x2 area-mean
    downsample to a 9-wide x 8-tall grid (width/height must be 18x16),
    one gradient bit per adjacent column pair (m[r][c] > m[r][c+1]),
    64 bits packed little-endian by k = r*8 + c into a signed int64
    (bit 63 two's-complement) plus four 16-bit band keys for LSH-style
    candidate blocking.  Pure integer arithmetic — truncating division
    for the mean — so a SQL oracle can recompute it bit-for-bit from
    a pixel formula."""
    if (width, height) != (18, 16):
        raise ValueError(f"dhash64 expects 18x16, got {width}x{height}")
    m = [
        [
            (
                gray[(2 * r) * 18 + 2 * c]
                + gray[(2 * r) * 18 + 2 * c + 1]
                + gray[(2 * r + 1) * 18 + 2 * c]
                + gray[(2 * r + 1) * 18 + 2 * c + 1]
            )
            // 4
            for c in range(9)
        ]
        for r in range(8)
    ]
    bits = [
        1 if m[r][c] > m[r][c + 1] else 0
        for r in range(8)
        for c in range(8)
    ]
    word = sum(b << k for k, b in enumerate(bits))
    if word >= 1 << 63:
        word -= 1 << 64
    bands = [
        sum(bits[16 * j + t] << t for t in range(16)) for j in range(4)
    ]
    return word, bands


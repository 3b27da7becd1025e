"""Multimodal column support (engine extension).

Media (image/audio/video) travels as opaque ``binary`` columns paired
with a typed metadata struct; decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so bytes never round-trip through
driver memory.

Image and audio decode are REAL: images via Pillow when installed
(anything PIL reads), else the vendored codecs — stdlib PNG
(dataops/png.py, incl. APNG animations), GIF87a/89a (dataops/gif.py,
incl. animations), and uncompressed BMP (dataops/bmp.py); audio
via the vendored RIFF/WAVE PCM codec (dataops/wav.py) — so
``decode_media(..., fake=False)`` and ``decode_audio_stats`` work on
actual media in this runtime.
``fake=True`` keeps the deterministic byte-histogram pseudo-decoder
used by the SQL-expressible oracle queries.  Other image formats
(JPEG, TIFF) need Pillow; video containers and compressed audio have
no stdlib path and raise at the exact call site a pyav/ffmpeg
integration would fill.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import gif as _gif
from . import png as _png


def decode_image_gray(data: bytes) -> tuple[int, int, bytes]:
    """(width, height, luminance bytes) of a real encoded image.

    Prefers Pillow (any format it reads); falls back to the vendored
    codecs routed on magic bytes — PNG, GIF (first frame), BMP.
    Raises ``NotImplementedError`` only for formats with no vendored
    path AND no Pillow."""
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
    if data[:6] in _gif.GIF_MAGICS:
        w, h, gray = _gif.decode_gif_frames(data)[0]
        return w, h, gray
    if data[:2] == b"BM":
        from . import bmp as _bmp

        return _bmp.decode_bmp_gray(data)
    raise NotImplementedError(
        "image decode without Pillow covers PNG, GIF and uncompressed "
        "BMP (dataops/{png,gif,bmp}.py); other formats require Pillow"
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

    Real path (``fake=False``): payloads are APNG or animated-GIF
    streams decoded by the vendored codecs (png.decode_apng_frames /
    gif.decode_gif_frames, routed on magic bytes) — each kept frame is
    emitted as its luminance pixel buffer.  Video containers
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
    gray_frame_bytes) for every ``every``-th frame, routing on magic
    bytes exactly as the DataFrame operator does (this IS the
    DataFrame operator's decode path — extracted so a caller whose
    payloads are born inside a Python stage can sample frames in the
    SAME crossing instead of shipping the bytes JVM→Python→JVM→Python
    again; guide §4)."""
    data = b"" if payload is None else bytes(payload)
    if fake:
        n = len(data) // frame_bytes
        for fno in range(0, n, every):
            yield fno, data[fno * frame_bytes : (fno + 1) * frame_bytes]
    elif data[:6] in _gif.GIF_MAGICS:
        gdecoded = _gif.decode_gif_frames(data)
        for fno in range(0, len(gdecoded), every):
            _, _, gray = gdecoded[fno]
            yield fno, gray
    else:
        decoded = _png.decode_apng_frames(data)
        for fno in range(0, len(decoded), every):
            _, _, channels, pixels = decoded[fno]
            yield fno, _png.to_gray(channels, pixels)


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak_abs", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
    ]
)


def decode_audio_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL audio decode: RIFF/WAVE PCM payloads through the vendored
    stdlib codec (dataops/wav.py), Arrow-batched, emitting exact
    integer signal statistics per item.  Compressed formats raise
    inside the worker at the exact call site a torchaudio/ffmpeg
    integration would fill."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, ns, peaks, sums = [], [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                rate, n, peak, tot = audio_stats_of(payload)
                ids.append(doc_id)
                rates.append(rate)
                ns.append(n)
                peaks.append(peak)
                sums.append(tot)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "sample_rate": rates,
                    "n_samples": ns,
                    "peak_abs": peaks,
                    "sum_abs": sums,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, _AUDIO_SCHEMA)


def audio_stats_of(payload) -> tuple[int, int, int, int]:
    """Per-payload core of :func:`decode_audio_stats`: decode one
    RIFF/WAVE payload through the vendored codec and return
    (sample_rate, n_samples, peak_abs, sum_abs) — extracted so a
    caller whose payloads are born inside a Python stage can compute
    the stats in the SAME crossing (guide §4), identical semantics to
    the DataFrame operator by construction (the operator calls this)."""
    from . import wav as _wav

    rate, _, samples = _wav.decode_wav(bytes(payload))
    return (
        rate,
        len(samples),
        max((abs(s) for s in samples), default=0),
        sum(abs(s) for s in samples),
    )


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


def gradient_fingerprint64(values: list[int]) -> tuple[int, list[int]]:
    """64 gradient bits over a 65-value sequence (bit k = values[k] >
    values[k+1]), packed like :func:`dhash64` into a signed int64 word
    plus four 16-bit band keys — the shared fingerprint shape for
    1-D signals (audio frame energies) and any ordered feature run."""
    if len(values) != 65:
        raise ValueError(f"gradient_fingerprint64 expects 65 values, got {len(values)}")
    bits = [1 if values[k] > values[k + 1] else 0 for k in range(64)]
    word = sum(b << k for k, b in enumerate(bits))
    if word >= 1 << 63:
        word -= 1 << 64
    bands = [
        sum(bits[16 * j + t] << t for t in range(16)) for j in range(4)
    ]
    return word, bands

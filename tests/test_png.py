"""Vendored PNG codec (dataops/png.py) + real multimodal decode path.

The encoder cycles scanline filters (row % 5), so every round-trip here
covers all five PNG filter reconstructions, not just filter 0."""

from __future__ import annotations

import os
import struct
import zlib

import pytest

from credit_card_etl_pipeline_spark.dataops.png import (
    PNG_MAGIC,
    decode_png,
    encode_png,
    resize_nearest,
    to_gray,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_roundtrip_all_channel_counts(channels):
    w, h = 13, 9  # odd sizes catch stride bugs
    pixels = bytes(
        (i * 37 + c * 11) % 256
        for i in range(w * h)
        for c in range(channels)
    )
    data = encode_png(w, h, channels, pixels)
    assert data[:8] == PNG_MAGIC
    gw, gh, gch, got = decode_png(data)
    assert (gw, gh, gch) == (w, h, channels)
    assert got == pixels


def test_palette_png_expands_to_rgb():
    # hand-built color-type-3 PNG: 4x2, 3-entry palette
    w, h = 4, 2
    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx_rows = [bytes([0, 1, 2, 1]), bytes([2, 2, 0, 0])]
    raw = b"".join(b"\x00" + r for r in idx_rows)

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload))
        )

    data = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    gw, gh, gch, got = decode_png(data)
    assert (gw, gh, gch) == (w, h, 3)
    assert got[:6] == bytes([255, 0, 0, 0, 255, 0])


def test_interlaced_and_16bit_raise():
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload))
        )

    for ihdr, msg in [(ihdr16, "bit depth"), (ihdr_i, "interlaced")]:
        data = (
            PNG_MAGIC
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError, match=msg):
            decode_png(data)


def test_to_gray_and_resize():
    rgb = bytes([255, 255, 255, 0, 0, 0, 100, 100, 100, 200, 200, 200])
    gray = to_gray(3, rgb)
    assert gray == bytes([255, 0, 100, 200])
    up = resize_nearest(gray, 2, 2, 4, 4)
    assert len(up) == 16
    assert up[0] == 255 and up[1] == 255  # top-left quadrant
    assert up[15] == 200


def test_committed_fixtures_decode_via_real_path():
    """The committed real PNG files decode through the production
    (non-fake) multimodal path with exact pixel values — no Pillow
    needed (vendored codec); with Pillow installed the same test pins
    engine agreement."""
    from credit_card_etl_pipeline_spark.dataops.multimodal import (
        decode_image_gray,
    )

    with open(os.path.join(ROOT, "fixtures", "gradient_gray.png"), "rb") as f:
        w, h, gray = decode_image_gray(f.read())
    assert (w, h) == (32, 24)
    assert gray == bytes(
        (3 * x + 5 * y) % 256 for y in range(24) for x in range(32)
    )

    with open(os.path.join(ROOT, "fixtures", "gradient_rgb.png"), "rb") as f:
        w, h, gray_rgb = decode_image_gray(f.read())
    assert (w, h) == (16, 16)
    # spot-check luminance of a known pixel: (x=4, y=2) -> rgb(64,32,8)
    lum = (77 * 64 + 150 * 32 + 29 * 8) >> 8
    assert gray_rgb[2 * 16 + 4] == lum


def test_decode_media_real_path(spark):
    """decode_media(fake=False) over real PNG payloads in Spark."""
    from credit_card_etl_pipeline_spark.dataops.multimodal import (
        decode_media,
    )

    rows = []
    for doc_id in (1, 2, 3):
        pixels = bytes((doc_id * 31 + i * 7) % 256 for i in range(256))
        rows.append((doc_id, bytearray(encode_png(16, 16, 1, pixels))))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r
        for r in decode_media(df, fake=False).collect()
    }
    for doc_id in (1, 2, 3):
        pixels = bytes((doc_id * 31 + i * 7) % 256 for i in range(256))
        hist = [0] * 16
        for b in pixels:
            hist[b >> 4] += 1
        assert got[doc_id]["feature"] == hist
        assert got[doc_id]["n_bytes"] > 0


def test_resize_images_real_path(spark):
    from credit_card_etl_pipeline_spark.dataops.multimodal import (
        resize_images,
    )

    pixels = bytes((3 * x + 5 * y) % 256 for y in range(24) for x in range(32))
    df = spark.createDataFrame(
        [(7, bytearray(encode_png(32, 24, 1, pixels)))],
        "doc_id long, payload binary",
    )
    row = resize_images(df, width=8, height=8, fake=False).collect()[0]
    assert (row["width"], row["height"]) == (8, 8)
    assert bytes(row["pixels"]) == resize_nearest(pixels, 32, 24, 8, 8)


def test_non_png_without_pillow_raises_or_pillow_decodes():
    from credit_card_etl_pipeline_spark.dataops.multimodal import (
        decode_image_gray,
    )

    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        # only PNG has a vendored path; every other format (TIFF,
        # JPEG, GIF, BMP) raises the capability error
        for data in (
            b"II*\x00 fake tiff bytes",
            b"\xff\xd8\xff\xe0 fake jpeg bytes",
            b"GIF89a fake gif bytes",
            b"BM fake bmp bytes",
        ):
            with pytest.raises(NotImplementedError, match="Pillow"):
                decode_image_gray(data)


def test_fixtures_match_generator():
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from make_png_fixture import gray_pixels, rgb_pixels
    finally:
        sys.path.pop(0)
    with open(os.path.join(ROOT, "fixtures", "gradient_gray.png"), "rb") as f:
        assert decode_png(f.read())[3] == gray_pixels()
    with open(os.path.join(ROOT, "fixtures", "gradient_rgb.png"), "rb") as f:
        assert decode_png(f.read())[3] == rgb_pixels()


def test_apng_roundtrip_and_plain_png_single_frame():
    from credit_card_etl_pipeline_spark.dataops.png import (
        decode_apng_frames,
        encode_apng,
    )

    frames = [
        bytes(((f * 31 + i * 7) % 256) for i in range(64))
        for f in range(5)
    ]
    got = decode_apng_frames(encode_apng(8, 8, 1, frames))
    assert [px for _, _, _, px in got] == frames
    assert all((w, h, ch) == (8, 8, 1) for w, h, ch, _ in got)
    one = decode_apng_frames(encode_png(4, 4, 1, bytes(range(16))))
    assert len(one) == 1 and one[0][3] == bytes(range(16))


def test_sample_frames_real_apng_path(spark):
    from credit_card_etl_pipeline_spark.dataops.multimodal import (
        sample_frames,
    )
    from credit_card_etl_pipeline_spark.dataops.png import encode_apng

    frames = [bytes([f * 10] * 16) for f in range(9)]
    df = spark.createDataFrame(
        [(5, bytearray(encode_apng(4, 4, 1, frames)))],
        "doc_id long, payload binary",
    )
    got = {
        r["frame_no"]: bytes(r["frame"])
        for r in sample_frames(df, every=4, fake=False).collect()
    }
    assert set(got) == {0, 4, 8}
    assert got[4] == bytes([40] * 16)

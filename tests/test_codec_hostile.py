"""Corrupt-input certification for the vendored PNG/APNG codec
(VERDICT r10 ask #7): zero-length, wrong-magic, truncated-at-
every-byte, declared-size-overflow, and single-bit-flipped streams
must fail LOUDLY with the documented contract — ``ValueError`` for
corrupt bytes, ``NotImplementedError`` for valid-but-unsupported
profiles — never a silent partial decode, never a leaked
``IndexError`` / ``struct.error`` / ``zlib.error`` / ``KeyError``, and
never an unbounded allocation a forged header could use to wedge an
executor task.

No Spark needed: the codec's entry points are pure functions, and
the Spark-side multimodal queries call exactly these entry points
inside mapInPandas (dataops/multimodal.py), so per-cell failure
behavior is decided here.
"""

from __future__ import annotations

import pytest

from credit_card_etl_pipeline_spark.dataops import png

ALLOWED = (ValueError, NotImplementedError)


def _fixtures():
    """(name, decode_fn, valid_stream) for each certified stream kind,
    including the multi-frame APNG container."""
    px = bytes((x * 7 + 13) % 256 for x in range(16 * 12))
    frames = [px, bytes(reversed(px)), px[100:] + px[:100]]
    return [
        ("png_gray", png.decode_png, png.encode_png(16, 12, 1, px)),
        (
            "png_rgb",
            png.decode_png,
            png.encode_png(16, 4, 3, px[: 16 * 4 * 3]),
        ),
        ("apng", png.decode_apng_frames,
         png.encode_apng(16, 12, 1, frames)),
    ]


@pytest.mark.parametrize("name,fn,data", _fixtures(),
                         ids=[f[0] for f in _fixtures()])
def test_valid_stream_decodes(name, fn, data):
    """The hardening must not reject the codec's own valid output."""
    out = fn(data)
    assert out is not None


@pytest.mark.parametrize("name,fn,data", _fixtures(),
                         ids=[f[0] for f in _fixtures()])
def test_zero_length_and_wrong_magic(name, fn, data):
    for blob in (b"", b"\x00", b"\x00" * 64, b"NOTAMAGIC" + data[9:],
                 bytes(reversed(data[:16])) + data[16:]):
        with pytest.raises(ALLOWED):
            fn(blob)


@pytest.mark.parametrize("name,fn,data", _fixtures(),
                         ids=[f[0] for f in _fixtures()])
def test_truncation_at_every_byte_fails_loudly(name, fn, data):
    """data[:k] for EVERY k < len must raise the contract exceptions —
    a truncated container returning a partial frame list is a
    silent-wrong-answer bug."""
    for cut in range(len(data)):
        try:
            fn(data[:cut])
        except ALLOWED:
            continue
        else:
            pytest.fail(f"{name}: silent success on {cut}-byte prefix")


@pytest.mark.parametrize("name,fn,data", _fixtures(),
                         ids=[f[0] for f in _fixtures()])
def test_single_bit_flips_never_leak_raw_exceptions(name, fn, data):
    """Flipping any single byte may legitimately still decode (pixel
    bytes are arbitrary), but whatever happens must be a clean decode
    or a contract exception — no IndexError/struct.error/zlib.error/
    KeyError escaping into a Spark task."""
    for i in range(len(data)):
        blob = bytearray(data)
        blob[i] ^= 0xFF
        try:
            fn(bytes(blob))
        except ALLOWED:
            pass  # loud, contractual


def test_forged_dimensions_raise_before_allocating():
    """A tiny stream whose header declares giant dimensions must raise
    ValueError instead of allocating the declared canvas."""
    import struct
    import zlib

    # PNG: 30000 x 30000 IHDR (9e8 pixels) with a 1-byte IDAT
    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload))
        )

    ihdr = struct.pack(">IIBBBBB", 30000, 30000, 8, 0, 0, 0, 0)
    bad_png = (
        png.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="implausible"):
        png.decode_png(bad_png)


def test_png_compression_bomb_is_bounded():
    """An IDAT that inflates far past the header-expected size must
    raise (bounded decompress), not materialize the bomb."""
    import struct
    import zlib

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # expects 10 B
    bomb = zlib.compress(b"\x00" * 10_000_000)  # ~10 KB compressed
    data = (
        png.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="exceeds expected"):
        png.decode_png(data)


"""Vendored OLE2/BIFF8 .xls reader-writer (sources/xls.py).

The reference reads legacy binary .xls via pandas+xlrd (etl.py:312-316);
this engine vendors a stdlib parser for the same files.  These tests
cover the container (FAT chains, directory, stream padding), the BIFF
records (SST, LABELSST, NUMBER, RK, MULRK, LABEL), and the SST CONTINUE
split — the formats are public ([MS-CFB], [MS-XLS])."""

from __future__ import annotations

import struct

import pytest

from credit_card_etl_pipeline_spark.sources.xls import (
    OLE2_MAGIC,
    _decode_rk,
    _ole2_container,
    _rec,
    read_xls_rows,
    read_xls_sheets,
    write_minimal_xls,
)


def test_roundtrip_strings_numbers_cjk(tmp_path):
    rows = [
        ["消費日", "卡號末四碼", "消費明細", "金額"],
        ["05/02", "7777", "咖啡店", "120"],
        ["05/06", "", "誠品  書店", 1350],
        ["05/09", "8888", "加油站", 123.45],
    ]
    p = tmp_path / "t.xls"
    write_minimal_xls(str(p), rows, sheet="帳單")
    assert p.read_bytes()[:8] == OLE2_MAGIC
    got = read_xls_sheets(p.read_bytes())
    assert list(got) == ["帳單"]
    assert got["帳單"][0] == rows[0]
    assert got["帳單"][2] == ["05/06", "", "誠品  書店", "1350"]
    assert got["帳單"][3][3] == "123.45"


def test_sst_continue_split_roundtrip(tmp_path):
    # >8224 bytes of distinct shared strings forces the writer to emit
    # CONTINUE records and the reader to stitch them back together
    rows = [["a", "b"]] + [
        [f"merchant_name_number_{i:05d}", i] for i in range(600)
    ]
    p = tmp_path / "big.xls"
    write_minimal_xls(str(p), rows)
    back = read_xls_rows(p.read_bytes())
    assert len(back) == 601
    assert back[600] == ["merchant_name_number_00599", "599"]
    assert back[1] == ["merchant_name_number_00000", "0"]


def test_rk_decode_all_four_encodings():
    # [MS-XLS] 2.5.276: 30-bit int / float-high-bits, each ±div-100
    assert _decode_rk((1490 << 2) | 0x02) == 1490.0
    assert _decode_rk(((-120 & 0x3FFFFFFF) << 2) | 0x02) == -120.0
    assert _decode_rk((149000 << 2) | 0x03) == 1490.0
    as_bits = struct.unpack("<Q", struct.pack("<d", 2.5))[0]
    assert _decode_rk((as_bits >> 32) & 0xFFFFFFFC) == 2.5
    assert _decode_rk(((as_bits >> 32) & 0xFFFFFFFC) | 0x01) == 0.025


def test_rk_mulrk_label_records(tmp_path):
    """Hand-assembled sheet using the record types the writer doesn't
    emit: RK, MULRK, and inline LABEL cells."""
    bof_g = _rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    eof = _rec(0x000A, b"")
    sheet_cells = (
        _rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + _rec(0x027E, struct.pack("<HHHI", 0, 0, 0, (42 << 2) | 0x02))
        + _rec(
            0x00BD,
            struct.pack("<HH", 1, 0)
            + struct.pack("<HI", 0, (100 << 2) | 0x02)
            + struct.pack("<HI", 0, (250 << 2) | 0x03)
            + struct.pack("<H", 1),
        )
        + _rec(
            0x0204,
            struct.pack("<HHH", 2, 0, 0)
            + struct.pack("<HB", 2, 0x01)
            + "早餐".encode("utf-16-le"),
        )
        + eof
    )

    def globals_part(off: int) -> bytes:
        name = "S1".encode("utf-16-le")
        return (
            bof_g
            + _rec(
                0x0085,
                struct.pack("<IBB", off, 0, 0)
                + struct.pack("<BB", 2, 0x01)
                + name,
            )
            + _rec(0x00FC, struct.pack("<II", 0, 0))
            + eof
        )

    probe = globals_part(0)
    stream = globals_part(len(probe)) + sheet_cells
    p = tmp_path / "hand.xls"
    p.write_bytes(_ole2_container(stream))
    # MULRK spans cols 0-1, so every row pads to width 2
    assert read_xls_rows(p.read_bytes()) == [
        ["42", ""],
        ["100", "2.5"],
        ["早餐", ""],
    ]


def test_multi_sector_payload_fat_chain(tmp_path):
    # ~40 KB of BIFF content spans many 512-byte sectors; exercises the
    # FAT next-sector chain walk rather than a single-sector read
    rows = [["k", "v"]] + [[f"key_{i:04d}", f"val_{i:04d}"] for i in range(700)]
    p = tmp_path / "chain.xls"
    write_minimal_xls(str(p), rows)
    back = read_xls_rows(p.read_bytes())
    assert back[700] == ["key_0699", "val_0699"]


def test_missing_stream_raises(tmp_path):
    p = tmp_path / "empty.xls"
    p.write_bytes(_ole2_container(b"\x00" * 16, stream_name="NotABook"))
    with pytest.raises(ValueError, match="no stream named"):
        read_xls_rows(p.read_bytes())


def test_committed_fixture_matches_generator():
    """fixtures/台新_202406.xls must stay in sync with its generator
    (tools/make_xls_fixture.py) and the ingest_xls_statement oracle."""
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from make_xls_fixture import ROWS
    finally:
        sys.path.pop(0)
    with open(os.path.join(root, "fixtures", "台新_202406.xls"), "rb") as f:
        got = read_xls_rows(f.read())
    want = [[str(c) for c in row] for row in ROWS]
    assert got == want

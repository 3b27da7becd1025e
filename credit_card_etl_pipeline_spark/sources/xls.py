"""Vendored minimal legacy ``.xls`` (BIFF8 in OLE2) reader/writer,
stdlib only.

The reference ingests Excel statements via ``pandas.read_excel``
(etl.py:312-316), which for legacy binary ``.xls`` needs the ``xlrd``
engine — not in this runtime.  Both container and payload are public,
documented formats ([MS-CFB] compound file, [MS-XLS] BIFF8), and the
subset a bank statement needs — one worksheet grid of text and number
cells — is small:

* ``read_xls_sheets`` returns every worksheet of a workbook's bytes as
  padded rows of cell strings (the same contract as
  ``xlsx.read_xlsx_sheets``); ``read_xls_rows`` returns the first.
* ``write_minimal_xls`` emits a spec-valid single-sheet BIFF8 workbook
  in an OLE2 container — enough to build test fixtures without Excel.

Record coverage (reader): BOF, BOUNDSHEET, SST (+CONTINUE splits),
LABELSST, LABEL, NUMBER, RK, MULRK, EOF.  Formula cells and rich-text
runs are skipped structurally (payload ignored, offsets honored).
"""

from __future__ import annotations

import struct

# ------------------------------------------------------------------
# OLE2 / Compound File Binary container ([MS-CFB])
# ------------------------------------------------------------------

OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_DIFSECT = 0xFFFFFFFC


def _u16(b: bytes, off: int) -> int:
    return struct.unpack_from("<H", b, off)[0]


def _u32(b: bytes, off: int) -> int:
    return struct.unpack_from("<I", b, off)[0]


class _Ole2:
    """Just enough [MS-CFB] to pull one stream out of a compound file:
    header → DIFAT → FAT → directory; small streams resolved through
    the mini FAT + root mini stream."""

    def __init__(self, data: bytes):
        if data[:8] != OLE2_MAGIC:
            raise ValueError("not an OLE2 compound file")
        self.data = data
        self.sector_size = 1 << _u16(data, 30)
        self.mini_size = 1 << _u16(data, 32)
        self.mini_cutoff = _u32(data, 56)
        n_fat = _u32(data, 44)
        self.first_dir = _u32(data, 48)
        first_minifat, n_minifat = _u32(data, 60), _u32(data, 64)
        first_difat, n_difat = _u32(data, 68), _u32(data, 72)

        # DIFAT: 109 entries in the header, then a chain of DIFAT sectors
        fat_sectors = [
            _u32(data, 76 + 4 * i)
            for i in range(min(109, n_fat))
        ]
        sect = first_difat
        for _ in range(n_difat):
            if sect in (_ENDOFCHAIN, _FREESECT):
                break
            raw = self._sector(sect)
            per = self.sector_size // 4 - 1
            fat_sectors += [
                _u32(raw, 4 * i)
                for i in range(per)
                if _u32(raw, 4 * i) != _FREESECT
            ]
            sect = _u32(raw, self.sector_size - 4)
        self.fat: list[int] = []
        for s in fat_sectors[:n_fat]:
            raw = self._sector(s)
            self.fat += [
                _u32(raw, 4 * i) for i in range(self.sector_size // 4)
            ]

        self.dir_entries = self._read_dir()
        root = self.dir_entries[0]
        self.mini_stream = self._read_chain(root["start"], root["size"])
        self.minifat: list[int] = []
        sect = first_minifat
        for _ in range(n_minifat):
            if sect in (_ENDOFCHAIN, _FREESECT):
                break
            raw = self._sector(sect)
            self.minifat += [
                _u32(raw, 4 * i) for i in range(self.sector_size // 4)
            ]
            sect = self.fat[sect]

    def _sector(self, n: int) -> bytes:
        off = 512 + n * self.sector_size
        return self.data[off : off + self.sector_size]

    def _read_chain(self, start: int, size: int) -> bytes:
        out, sect, guard = [], start, 0
        while sect not in (_ENDOFCHAIN, _FREESECT) and guard <= len(
            self.fat
        ):
            out.append(self._sector(sect))
            sect = self.fat[sect]
            guard += 1
        return b"".join(out)[:size]

    def _read_mini_chain(self, start: int, size: int) -> bytes:
        out, sect, guard = [], start, 0
        while sect not in (_ENDOFCHAIN, _FREESECT) and guard <= len(
            self.minifat
        ):
            off = sect * self.mini_size
            out.append(self.mini_stream[off : off + self.mini_size])
            sect = self.minifat[sect]
            guard += 1
        return b"".join(out)[:size]

    def _read_dir(self) -> list[dict]:
        raw = self._read_chain(self.first_dir, 1 << 31)
        entries = []
        for off in range(0, len(raw), 128):
            ent = raw[off : off + 128]
            if len(ent) < 128:
                break
            name_len = _u16(ent, 64)
            kind = ent[66]
            if kind == 0:  # unallocated
                continue
            name = ent[: max(0, name_len - 2)].decode(
                "utf-16-le", errors="replace"
            )
            entries.append(
                {
                    "name": name,
                    "type": kind,
                    "start": _u32(ent, 116),
                    "size": _u32(ent, 120),
                }
            )
        return entries

    def stream(self, *names: str) -> bytes:
        wanted = {n.lower() for n in names}
        for ent in self.dir_entries:
            if ent["type"] == 2 and ent["name"].lower() in wanted:
                if ent["size"] < self.mini_cutoff:
                    return self._read_mini_chain(ent["start"], ent["size"])
                return self._read_chain(ent["start"], ent["size"])
        raise ValueError(f"no stream named {names!r} in compound file")


# ------------------------------------------------------------------
# BIFF8 records ([MS-XLS])
# ------------------------------------------------------------------

_R_BOF = 0x0809
_R_EOF = 0x000A
_R_BOUNDSHEET = 0x0085
_R_SST = 0x00FC
_R_CONTINUE = 0x003C
_R_LABELSST = 0x00FD
_R_LABEL = 0x0204
_R_NUMBER = 0x0203
_R_RK = 0x027E
_R_MULRK = 0x00BD


def _records(stream: bytes, start: int = 0):
    """Yield (record_id, payload, offset) from a BIFF stream; stops at
    the stream end or a zero record id (sector zero-padding)."""
    off = start
    n = len(stream)
    while off + 4 <= n:
        rid = _u16(stream, off)
        size = _u16(stream, off + 2)
        if rid == 0:
            return
        yield rid, stream[off + 4 : off + 4 + size], off
        off += 4 + size


class _SstReader:
    """XLUnicodeRichExtendedString reader over SST + CONTINUE payload
    fragments.  At a CONTINUE boundary mid-string a fresh option byte
    is emitted — the one genuinely fiddly part of BIFF8."""

    def __init__(self, fragments: list[bytes]):
        self.fragments = fragments
        self.frag = 0
        self.off = 0

    def _remaining(self) -> int:
        return len(self.fragments[self.frag]) - self.off

    def _advance_fragment(self) -> None:
        self.frag += 1
        self.off = 0

    def read(self, n: int) -> bytes:
        out = b""
        while n > 0:
            if self._remaining() == 0:
                self._advance_fragment()
                continue
            take = min(n, self._remaining())
            cur = self.fragments[self.frag]
            out += cur[self.off : self.off + take]
            self.off += take
            n -= take
        return out

    def read_string(self) -> str:
        cch = struct.unpack("<H", self.read(2))[0]
        flags = self.read(1)[0]
        n_runs = (
            struct.unpack("<H", self.read(2))[0] if flags & 0x08 else 0
        )
        ext_len = (
            struct.unpack("<i", self.read(4))[0] if flags & 0x04 else 0
        )
        wide = bool(flags & 0x01)
        chars: list[str] = []
        left = cch
        while left > 0:
            if self._remaining() == 0:
                # mid-string CONTINUE: next fragment restates the
                # high-byte flag for its portion
                self._advance_fragment()
                wide = bool(self.read(1)[0] & 0x01)
            step = min(
                left, self._remaining() // 2 if wide else self._remaining()
            )
            if step == 0:  # fragment too small to hold one wide char
                self._advance_fragment()
                wide = bool(self.read(1)[0] & 0x01)
                continue
            raw = self.read(step * 2 if wide else step)
            chars.append(
                raw.decode("utf-16-le" if wide else "latin-1")
            )
            left -= step
        self.read(4 * n_runs + max(0, ext_len))
        return "".join(chars)


def _short_string(payload: bytes, off: int) -> str:
    """BIFF8 ShortXLUnicodeString (8-bit length), used by BOUNDSHEET."""
    cch = payload[off]
    flags = payload[off + 1]
    if flags & 0x01:
        return payload[off + 2 : off + 2 + 2 * cch].decode("utf-16-le")
    return payload[off + 2 : off + 2 + cch].decode("latin-1")


def _decode_rk(rk: int) -> float:
    div100 = rk & 0x01
    is_int = rk & 0x02
    if is_int:
        # arithmetic shift of the signed 30-bit payload
        val = float(
            struct.unpack("<i", struct.pack("<I", rk & 0xFFFFFFFF))[0] >> 2
        )
    else:
        val = struct.unpack(
            "<d", b"\x00\x00\x00\x00" + struct.pack("<I", rk & 0xFFFFFFFC)
        )[0]
    return val / 100.0 if div100 else val


def _fmt_number(v: float) -> str:
    """Mirror the string a text-typed reader surfaces for a numeric
    cell: integral doubles drop the trailing .0 (bank statements store
    amounts as integers; '1350.0' would break the amount cleanser)."""
    return str(int(v)) if v == int(v) else repr(v)


def read_xls_sheets(data: bytes) -> dict[str, list[list[str]]]:
    """Every worksheet of the workbook ``data`` as name → padded rows of
    cell strings, in workbook order.  Missing cells become ''."""
    book = _Ole2(data).stream("Workbook", "Book")

    # Workbook-globals pass: sheet offsets + shared string table
    sheets: list[tuple[str, int]] = []
    sst: list[str] = []
    sst_fragments: list[bytes] | None = None
    collecting = False  # CONTINUEs only extend an immediately-prior SST
    n_sst = 0
    for rid, payload, _ in _records(book):
        if rid == _R_BOUNDSHEET:
            sheets.append((_short_string(payload, 6), _u32(payload, 0)))
            collecting = False
        elif rid == _R_SST:
            n_sst = _u32(payload, 4)
            sst_fragments = [payload[8:]]
            collecting = True
        elif rid == _R_CONTINUE and collecting and sst_fragments:
            sst_fragments.append(payload)
        elif rid == _R_EOF:
            break
        else:
            collecting = False
    if sst_fragments is not None:
        reader = _SstReader(sst_fragments)
        for _ in range(n_sst):
            sst.append(reader.read_string())

    out: dict[str, list[list[str]]] = {}
    for name, bof in sheets:
        cells: dict[tuple[int, int], str] = {}
        for rid, payload, _ in _records(book, bof):
            if rid == _R_EOF:
                break
            if rid == _R_LABELSST:
                r, c = _u16(payload, 0), _u16(payload, 2)
                idx = _u32(payload, 6)
                cells[(r, c)] = sst[idx] if idx < len(sst) else ""
            elif rid == _R_LABEL:  # inline string cell
                r, c = _u16(payload, 0), _u16(payload, 2)
                reader = _SstReader([payload[6:]])
                cells[(r, c)] = reader.read_string()
            elif rid == _R_NUMBER:
                r, c = _u16(payload, 0), _u16(payload, 2)
                v = struct.unpack_from("<d", payload, 6)[0]
                cells[(r, c)] = _fmt_number(v)
            elif rid == _R_RK:
                r, c = _u16(payload, 0), _u16(payload, 2)
                cells[(r, c)] = _fmt_number(_decode_rk(_u32(payload, 6)))
            elif rid == _R_MULRK:
                r, c0 = _u16(payload, 0), _u16(payload, 2)
                n = (len(payload) - 6) // 6
                for i in range(n):
                    rk = _u32(payload, 4 + 6 * i + 2)
                    cells[(r, c0 + i)] = _fmt_number(_decode_rk(rk))
        if cells:
            n_rows = max(r for r, _ in cells) + 1
            n_cols = max(c for _, c in cells) + 1
            out[name] = [
                [cells.get((r, c), "") for c in range(n_cols)]
                for r in range(n_rows)
            ]
        else:
            out[name] = []
    if not out:
        raise ValueError("no worksheets in workbook")
    return out


def read_xls_rows(data: bytes) -> list[list[str]]:
    """First worksheet as rows of cell strings (see read_xls_sheets)."""
    return next(iter(read_xls_sheets(data).values()), [])


# ------------------------------------------------------------------
# Minimal writer (test fixtures)
# ------------------------------------------------------------------

def _rec(rid: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rid, len(payload)) + payload


def _unicode_string(s: str) -> bytes:
    """XLUnicodeRichExtendedString, always wide (no compression)."""
    raw = s.encode("utf-16-le")
    return struct.pack("<HB", len(s), 0x01) + raw


def _short_unicode(s: str) -> bytes:
    raw = s.encode("utf-16-le")
    return struct.pack("<BB", len(s), 0x01) + raw


def _biff_stream(rows: list[list[object]], sheet: str) -> bytes:
    strings: list[str] = []
    index: dict[str, int] = {}
    n_uses = 0

    def sst_idx(s: str) -> int:
        nonlocal n_uses
        n_uses += 1
        if s not in index:
            index[s] = len(strings)
            strings.append(s)
        return index[s]

    cell_recs: list[bytes] = []
    for r, row in enumerate(rows):
        for c, v in enumerate(row):
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                cell_recs.append(
                    _rec(
                        _R_NUMBER,
                        struct.pack("<HHH", r, c, 0)
                        + struct.pack("<d", float(v)),
                    )
                )
            else:
                cell_recs.append(
                    _rec(
                        _R_LABELSST,
                        struct.pack("<HHHI", r, c, 0, sst_idx(str(v))),
                    )
                )

    # SST, split into CONTINUE records at string boundaries when the
    # 8224-byte record payload cap would be exceeded ([MS-XLS] 2.1.4)
    blobs = [_unicode_string(s) for s in strings]
    sst_records: list[bytes] = []
    cur = struct.pack("<II", n_uses, len(strings))
    for blob in blobs:
        if len(blob) > 8224:
            raise ValueError("fixture writer: string too long for one record")
        if len(cur) + len(blob) > 8224:
            sst_records.append(cur)
            cur = b""
        cur += blob
    sst_records.append(cur)
    sst_part = _rec(_R_SST, sst_records[0]) + b"".join(
        _rec(_R_CONTINUE, p) for p in sst_records[1:]
    )
    sheet_stream = (
        _rec(_R_BOF, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + b"".join(cell_recs)
        + _rec(_R_EOF, b"")
    )

    # two-pass: BOUNDSHEET carries the absolute offset of the sheet BOF
    def globals_part(sheet_bof: int) -> bytes:
        return (
            _rec(
                _R_BOF, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0)
            )
            + _rec(
                _R_BOUNDSHEET,
                struct.pack("<IBB", sheet_bof, 0, 0)
                + _short_unicode(sheet),
            )
            + sst_part
            + _rec(_R_EOF, b"")
        )

    probe = globals_part(0)
    return globals_part(len(probe)) + sheet_stream


def _ole2_container(stream: bytes, stream_name: str = "Workbook") -> bytes:
    """Wrap one stream in a minimal v3 OLE2 file.  The stream is padded
    to the 4096-byte mini-stream cutoff so it lives in the regular FAT
    (padding is past the directory-recorded size, so readers that honor
    the size field never see it; the BIFF parser also stops at EOF)."""
    size = max(len(stream), 4096)
    payload = stream + b"\x00" * (size - len(stream))
    n_payload_sectors = (len(payload) + 511) // 512
    payload += b"\x00" * (n_payload_sectors * 512 - len(payload))

    # sector map: [0]=FAT, [1]=directory, [2..]=stream
    n_sectors = 2 + n_payload_sectors
    if n_sectors > 128:
        raise ValueError("fixture writer supports single-FAT files only")
    fat = [_FREESECT] * 128
    fat[0] = _FATSECT
    fat[1] = _ENDOFCHAIN
    for i in range(n_payload_sectors):
        fat[2 + i] = 3 + i if i + 1 < n_payload_sectors else _ENDOFCHAIN
    fat_sector = struct.pack("<128I", *fat)

    def dir_entry(
        name: str, kind: int, start: int, sz: int, child: int = -1
    ) -> bytes:
        raw_name = name.encode("utf-16-le") + b"\x00\x00"
        ent = raw_name + b"\x00" * (64 - len(raw_name))
        ent += struct.pack("<H", len(raw_name))
        ent += struct.pack("<BB", kind, 1)  # color: black
        ent += struct.pack("<iii", -1, -1, child)  # siblings/child
        ent += b"\x00" * 16  # CLSID
        ent += b"\x00" * 4  # state bits
        ent += b"\x00" * 16  # timestamps
        ent += struct.pack("<II", start, sz)
        ent += b"\x00" * 4  # size high / reserved
        return ent

    free = b"\x00" * 64 + struct.pack("<H", 0) + b"\x00" * 62
    directory = (
        dir_entry("Root Entry", 5, _ENDOFCHAIN, 0, child=1)
        + dir_entry(stream_name, 2, 2, size)
        + free
        + free
    )

    header = (
        OLE2_MAGIC
        + b"\x00" * 16  # CLSID
        + struct.pack("<HH", 0x003E, 0x0003)  # minor, major (v3)
        + struct.pack("<H", 0xFFFE)  # little-endian marker
        + struct.pack("<HH", 9, 6)  # sector / mini sector shift
        + b"\x00" * 6
        + struct.pack("<I", 0)  # num dir sectors (v3: 0)
        + struct.pack("<I", 1)  # num FAT sectors
        + struct.pack("<I", 1)  # first directory sector
        + struct.pack("<I", 0)  # transaction signature
        + struct.pack("<I", 4096)  # mini stream cutoff
        + struct.pack("<II", _ENDOFCHAIN, 0)  # miniFAT start/count
        + struct.pack("<II", _ENDOFCHAIN, 0)  # DIFAT start/count
        + struct.pack("<I", 0)  # DIFAT[0] -> FAT at sector 0
        + struct.pack("<I", _FREESECT) * 108
    )
    assert len(header) == 512, len(header)
    assert len(directory) == 512, len(directory)
    return header + fat_sector + directory + payload


def write_minimal_xls(
    path: str, rows: list[list[object]], sheet: str = "Sheet1"
) -> None:
    """Write a single-sheet BIFF8 .xls: str cells via SST/LABELSST,
    int/float cells as NUMBER records."""
    with open(path, "wb") as f:
        f.write(_ole2_container(_biff_stream(rows, sheet)))

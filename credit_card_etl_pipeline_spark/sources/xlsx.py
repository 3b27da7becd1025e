"""Vendored minimal .xlsx reader/writer (stdlib only).

The reference ingests Excel statements via ``pandas.read_excel``
(etl.py:312-316), which needs an engine (openpyxl/xlrd) that is not a
hard dependency of this engine.  An .xlsx file is just a zip of XML, so
the subset a bank statement needs — one worksheet grid of strings and
numbers, shared-string and inline-string cells — parses fine with
``zipfile`` + ``xml.etree``:

* ``read_xlsx_sheets`` returns every worksheet of a workbook's bytes as
  padded rows of cell strings; ``read_xlsx_rows`` returns the first.
* ``write_minimal_xlsx`` emits a spec-valid workbook using inline
  strings — enough to build test fixtures without an Excel engine.

Legacy binary ``.xls`` (an OLE2 container, not a zip) is read by
``sources.xls``.
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET
import zipfile
from xml.sax.saxutils import escape

_MAIN_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _cell_col(ref: str | None, fallback: int) -> int:
    """'B3' → 1 (0-based column); cells without a ref fall back to the
    next sequential slot."""
    if not ref:
        return fallback
    col = 0
    for ch in ref:
        if ch.isalpha():
            col = col * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return col - 1 if col else fallback


def _text_of(elem: ET.Element) -> str:
    """Concatenated text of every <t> descendant (rich-text runs)."""
    return "".join(
        (t.text or "") for t in elem.iter() if _local(t.tag) == "t"
    )


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    name = "xl/sharedStrings.xml"
    if name not in z.namelist():
        return []
    root = ET.fromstring(z.read(name))
    return [_text_of(si) for si in root if _local(si.tag) == "si"]


def _sheet_targets(z: zipfile.ZipFile) -> list[tuple[str, str]]:
    """(sheet name, worksheet part) pairs in workbook order."""
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    by_id = {
        rel.get("Id"): rel.get("Target")
        for rel in rels
        if _local(rel.tag) == "Relationship"
    }
    out: list[tuple[str, str]] = []
    for sheets in wb:
        if _local(sheets.tag) != "sheets":
            continue
        for sheet in sheets:
            rid = sheet.get(f"{{{_REL_NS}}}id") or sheet.get("id")
            target = by_id.get(rid)
            if target:
                target = target.lstrip("/")
                if not target.startswith("xl/"):
                    target = f"xl/{target}"
                out.append((sheet.get("name") or target, target))
    if not out:
        raise ValueError("workbook has no resolvable sheets")
    return out


def _cell_value(c: ET.Element, shared: list[str]) -> str:
    kind = c.get("t", "n")
    if kind == "inlineStr":
        for child in c:
            if _local(child.tag) == "is":
                return _text_of(child)
        return ""
    v = ""
    for child in c:
        if _local(child.tag) == "v":
            v = child.text or ""
    if kind == "s":
        try:
            return shared[int(v)]
        except (ValueError, IndexError):
            return ""
    return v


def _parse_sheet(sheet: ET.Element, shared: list[str]) -> list[list[str]]:
    rows: list[list[str]] = []
    for elem in sheet.iter():
        if _local(elem.tag) != "row":
            continue
        cells: dict[int, str] = {}
        nxt = 0
        for c in elem:
            if _local(c.tag) != "c":
                continue
            idx = _cell_col(c.get("r"), nxt)
            cells[idx] = _cell_value(c, shared)
            nxt = idx + 1
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i, "") for i in range(width)])
    width = max((len(r) for r in rows), default=0)
    return [r + [""] * (width - len(r)) for r in rows]


def read_xlsx_sheets(data: bytes) -> dict[str, list[list[str]]]:
    """Every worksheet of the workbook ``data`` as name → padded rows of
    cell strings, in workbook order.  Missing cells (sparse refs)
    become ''."""
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        shared = _shared_strings(z)
        return {
            name: _parse_sheet(ET.fromstring(z.read(target)), shared)
            for name, target in _sheet_targets(z)
        }


def read_xlsx_rows(data: bytes) -> list[list[str]]:
    """First worksheet as rows of cell strings (see read_xlsx_sheets)."""
    return next(iter(read_xlsx_sheets(data).values()), [])


# ------------------------------------------------------------------
# Minimal writer (test fixtures)
# ------------------------------------------------------------------

def _content_types(n_sheets: int) -> str:
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
        for i in range(1, n_sheets + 1)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + overrides
        + "</Types>"
    )

_ROOT_RELS = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="{_PKG_REL_NS}">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

def _workbook_xml(names: list[str]) -> str:
    sheets = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i}" r:id="rId{i}"/>'
        for i, n in enumerate(names, start=1)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_MAIN_NS}" xmlns:r="{_REL_NS}">'
        f"<sheets>{sheets}</sheets></workbook>"
    )


def _workbook_rels(n_sheets: int) -> str:
    rels = "".join(
        f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i}.xml"/>'
        for i in range(1, n_sheets + 1)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_PKG_REL_NS}">{rels}</Relationships>'
    )


def _sheet_xml(rows: list[list[str]]) -> str:
    body = []
    for i, row in enumerate(rows, start=1):
        cells = "".join(
            f'<c r="{_col_letter(j)}{i}" t="inlineStr">'
            f"<is><t>{escape(str(v))}</t></is></c>"
            for j, v in enumerate(row)
        )
        body.append(f'<row r="{i}">{cells}</row>')
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_MAIN_NS}"><sheetData>'
        + "".join(body)
        + "</sheetData></worksheet>"
    )


def write_minimal_xlsx(
    path: str,
    rows: list[list[str]] | dict[str, list[list[str]]],
) -> None:
    """Write an .xlsx using inline strings — a bare row list becomes one
    'Sheet1'; a dict writes one worksheet per (name → rows) entry."""
    sheets = rows if isinstance(rows, dict) else {"Sheet1": rows}
    names = list(sheets)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _content_types(len(names)))
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _workbook_xml(names))
        z.writestr("xl/_rels/workbook.xml.rels", _workbook_rels(len(names)))
        for i, name in enumerate(names, start=1):
            z.writestr(f"xl/worksheets/sheet{i}.xml", _sheet_xml(sheets[name]))


def _col_letter(idx: int) -> str:
    letters = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters

"""Statement ingest layer (operators A1-A6, A2, B1-B3).

Re-expression of the reference's `etl.py` Part 2/3 ingest
(etl.py:129-152 smart CSV, :259-335 per-file pipeline, :463-482
directory scan) in a Spark-native shape:

* **One `binaryFile` scan** over the statement directory — files are
  routed to banks by filename keyword (A1, etl.py:453-459) and parsed
  inside a single Arrow-batched ``mapInPandas`` by :func:`file_rows`,
  which the driver can call on a file's bytes as well.
* **One parser for every format** (A4-A6, etl.py:290-316): a file's
  leading bytes, not its name or its bank, pick the format.  CSV text
  is decoded in the bank's encoding (A4: utf-8 / cp950 / Big5,
  ``errors='replace'``); HTML (A5) is flattened to cell-separator rows
  by a stdlib-``HTMLParser`` table extractor, also when it carries an
  ``.xls`` name; ``.xlsx`` and legacy ``.xls`` workbooks (A6) are read
  by the vendored stdlib readers (``sources.xlsx``, ``sources.xls``).
* **Each file under its own header** (A3 + B1/B2, etl.py:129-152): the
  parse holds the whole file, so it finds the header there (the first
  of lines 0-50 containing the spec's ``header_keyword``, else line 0),
  maps that header's cells through the spec's ``columns_mapping`` and
  emits one fixed-schema row per data line: ``path``, ``Bank_Name``,
  ``pos`` and the canonical raw string columns.  Two files of one bank
  may order their columns differently.  CSV lines are split with
  Python's ``csv`` module; like pandas' ``on_bad_lines='skip'`` a row
  with more fields than its header is skipped and a shorter one is
  padded with nulls.  Line numbers stay explicit — they carry the
  order-dependent forward-fill (E2, SURVEY §2.E) without relying on
  implicit row order.

The scan is one lazy plan for every bank: no driver action, no cache,
no per-bank branch.  Filename metadata (A2) is a Spark column
expression on top of the decode.
"""

from __future__ import annotations

import csv as _csv
from collections.abc import Iterator
from dataclasses import dataclass
from html.parser import HTMLParser
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schema as S

#: Cell separator used to flatten HTML and workbook rows into "lines".
CELL_SEP = "\x1f"


@dataclass
class BankSpec:
    """Per-source parsing spec (banks_config.yaml shape,
    configs/banks_configs_example.yaml:12-77)."""

    bank_id: str
    keywords: list[str]  # filename routing tokens (etl.py:453-459)
    columns_mapping: dict[str, str]  # raw header → canonical name
    encoding: str = "utf-8"
    header_keyword: str | None = None


#: Default specs replicating the reference's four banks
#: (configs/banks_configs_example.yaml; FIXTURES.md §1).
DEFAULT_BANK_SPECS: list[BankSpec] = [
    BankSpec(
        bank_id="esun_bank",
        keywords=["玉山"],
        encoding="utf-8",
        header_keyword="交易日期",
        columns_mapping={
            "交易日期": S.TRANSACTION_DATE,
            "入帳日期": S.POSTING_DATE,
            "卡號末四碼": S.CARD_NO,
            "交易說明": S.MERCHANT,
            "外幣金額": S.CURRENCY_AMOUNT,
            "臺幣金額": S.AMOUNT,
        },
    ),
    BankSpec(
        bank_id="cube_bank",
        keywords=["國泰", "國泰世華"],
        encoding="utf-8",
        header_keyword="信用卡號",
        columns_mapping={
            "交易日": S.TRANSACTION_DATE,
            "入帳日": S.POSTING_DATE,
            "卡號末四碼": S.CARD_NO,
            "交易說明": S.MERCHANT,
            "臺幣金額": S.AMOUNT,
            "消費地/幣別": S.RAW_COUNTRY_CURRENCY,
        },
    ),
    BankSpec(
        bank_id="ctbc_bank",
        keywords=["中信", "中國信託"],
        encoding="cp950",
        header_keyword="消費日期",
        columns_mapping={
            "消費日期": S.TRANSACTION_DATE,
            "入帳日期": S.POSTING_DATE,
            "卡號末四碼": S.CARD_NO,
            "商店名稱": S.MERCHANT,
            "臺幣金額": S.AMOUNT,
            "外幣金額": S.CURRENCY_AMOUNT,
            "幣別": S.CURRENCY_TYPE,
        },
    ),
    BankSpec(
        bank_id="hncb_bank",
        keywords=["華南"],
        encoding="big5",
        header_keyword="交易日期",
        columns_mapping={
            "交易日期": S.TRANSACTION_DATE,
            "入帳日期": S.POSTING_DATE,
            "卡號末四碼": S.CARD_NO,
            "摘要": S.MERCHANT,
            "金額": S.AMOUNT,
        },
    ),
]


class _TableExtractor(HTMLParser):
    """Minimal HTML table reader: collects every <table> as rows of
    trimmed cell texts (whitespace/newlines flattened — etl.py:301)."""

    def __init__(self) -> None:
        super().__init__()
        self.tables: list[list[list[str]]] = []
        self._stack: list[list[list[str]]] = []
        self._row: list[str] | None = None
        self._cell: list[str] | None = None

    def handle_starttag(self, tag: str, attrs: Any) -> None:
        if tag == "table":
            self._stack.append([])
        elif tag == "tr" and self._stack:
            self._row = []
        elif tag in ("td", "th") and self._row is not None:
            self._cell = []

    def handle_endtag(self, tag: str) -> None:
        if tag == "table" and self._stack:
            self.tables.append(self._stack.pop())
        elif tag == "tr" and self._stack and self._row is not None:
            self._stack[-1].append(self._row)
            self._row = None
        elif tag in ("td", "th") and self._cell is not None and self._row is not None:
            self._row.append(" ".join("".join(self._cell).split()))
            self._cell = None

    def handle_data(self, data: str) -> None:
        if self._cell is not None:
            self._cell.append(data)


def html_table_lines(text: str, header_keyword: str | None) -> list[str]:
    """A5: rows of the table containing ``header_keyword``, flattened to
    CELL_SEP-joined lines (etl.py:290-304)."""
    parser = _TableExtractor()
    parser.feed(text)
    for table in parser.tables:
        if header_keyword is None or any(
            header_keyword in cell for row in table for cell in row
        ):
            return [CELL_SEP.join(row) for row in table]
    return []


def route_bank(filename: str, specs: list[BankSpec]) -> BankSpec | None:
    """A1: filename keyword → bank spec (first match, etl.py:470-474)."""
    for spec in specs:
        if any(kw in filename for kw in spec.keywords):
            return spec
    return None


_HEADER_SCAN_LINES = 50  # A3: header keyword searched in lines 0-50

#: OLE2 / Compound-File-Binary magic — the container of legacy binary
#: .xls workbooks (public format signature, [MS-CFB] 2.2).
_OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_WORKBOOK_SUFFIXES = (".xls", ".xlsx")


def sniff_workbook_format(head: bytes) -> str:
    """Classify a statement file by its leading bytes, not its name:
    ``xlsx`` (zip), ``xls`` (OLE2 compound file), ``html`` (``<`` after
    optional whitespace or a UTF-8 BOM — bank portals routinely serve
    HTML under an .xls name), else ``csv``."""
    head = head[:512]
    if head[:4] == b"PK\x03\x04":
        return "xlsx"
    if head[:8] == _OLE2_MAGIC:
        return "xls"
    if head.removeprefix(b"\xef\xbb\xbf").lstrip()[:1] == b"<":
        return "html"
    return "csv"


def workbook_sheets(path: str, data: bytes) -> dict[str, list[list[str]]]:
    """Every worksheet of the .xlsx or .xls workbook ``data`` as name →
    padded rows of cell strings, in workbook order.  Raises ValueError
    naming ``path`` when ``data`` is no workbook or does not parse."""
    kind = sniff_workbook_format(data)
    if kind == "xlsx":
        from .xlsx import read_xlsx_sheets as read
    elif kind == "xls":
        from .xls import read_xls_sheets as read
    else:
        raise ValueError(f"{path}: not an .xlsx or .xls workbook")
    try:
        return read(data)
    except Exception as e:  # any reader failure is one unreadable file
        raise ValueError(f"{path}: unreadable {kind} workbook: {e}") from e


def _split_cells(line: str, table: bool) -> list[str]:
    if table:
        return line.split(CELL_SEP)
    return next(_csv.reader((line,)), [])


def _header_index(lines: list[str], keyword: str | None) -> int:
    """A3 (etl.py:137-149): first of lines 0-50 containing the keyword;
    files without one fall back to line 0."""
    if keyword is not None:
        for i, line in enumerate(lines[: _HEADER_SCAN_LINES + 1]):
            if keyword in line:
                return i
    return 0


def file_rows(
    path: str, content: bytes, spec: BankSpec, columns: list[str]
) -> Iterator[tuple]:
    """A3-A6 + B1/B2 for one statement file: its bytes pick the format,
    its own header picks, for each of ``columns``, the cell it comes
    from; one ``(path, Bank_Name, pos, *columns)`` row per non-blank
    data line.  A file with a workbook name whose bytes are neither a
    workbook nor HTML raises ValueError naming ``path``."""
    kind = sniff_workbook_format(content)
    if kind == "html":
        text = content.decode(spec.encoding, errors="replace")
        lines = html_table_lines(text, spec.header_keyword)
    elif kind == "csv" and not path.lower().endswith(_WORKBOOK_SUFFIXES):
        # pandas' read_csv drops a UTF-8 BOM; kept, it would stay glued
        # to the first header cell and unmap that column
        text = content.decode(spec.encoding, errors="replace")
        lines = text.removeprefix("\ufeff").splitlines()
    else:
        sheet = next(iter(workbook_sheets(path, content).values()), [])
        lines = [CELL_SEP.join(row) for row in sheet]
    if not lines:
        return
    table = kind != "csv"
    hpos = _header_index(lines, spec.header_keyword)
    # B2: trim + flatten whitespace in raw header names (etl.py:301,319)
    header = [" ".join(c.split()) for c in _split_cells(lines[hpos], table)]
    where: dict[str, int] = {}
    for i, raw in enumerate(header):
        canonical = spec.columns_mapping.get(raw)
        if canonical is not None:
            where.setdefault(canonical, i)
    idx = [where.get(c) for c in columns]
    width = len(header)
    for pos in range(hpos + 1, len(lines)):
        line = lines[pos]
        if not line.strip(" "):
            continue
        try:
            cells = _split_cells(line, table)
        except _csv.Error:  # e.g. a field over the csv module's size limit
            continue
        if not table and len(cells) > width:
            continue  # etl.py:146 on_bad_lines='skip': too many fields
        # short rows pad with nulls; an empty CSV field is null, an empty
        # HTML or workbook cell stays ''
        vals = [None if i is None or i >= len(cells) else cells[i] for i in idx]
        if not table:
            vals = [v or None for v in vals]
        yield (path, spec.bank_id, pos, *vals)


def statement_lines(
    spark: SparkSession, data_dir: str, specs: list[BankSpec] | None = None
) -> DataFrame:
    """A1-A6 + B1/B2: one distributed frame of every data line of every
    routable statement file under ``data_dir`` (a directory or one
    file) — ``path``, ``Bank_Name``, ``pos``, the canonical raw string
    columns, and the filename's ``base_year`` / ``bill_month`` (A2)."""
    spec_list = list(specs if specs is not None else DEFAULT_BANK_SPECS)
    # every spec's mapping targets, in first-seen order
    columns = list(
        dict.fromkeys(c for s in spec_list for c in s.columns_mapping.values())
    )
    names = ["path", S.BANK_NAME, "pos", *columns]
    schema = T.StructType(
        [T.StructField("path", T.StringType()),
         T.StructField(S.BANK_NAME, T.StringType()),
         T.StructField("pos", T.LongType())]
        + [T.StructField(c, T.StringType()) for c in columns]
    )

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{csv,html,xls,xlsx}")
        .load(data_dir)
        .select("path", "content")
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                spec = route_bank(path.rsplit("/", 1)[-1], spec_list)
                if spec is not None:
                    out.extend(file_rows(path, bytes(content), spec, columns))
            yield pd.DataFrame(out, columns=names)

    return files.mapInPandas(decode, schema).withColumns(
        filename_meta(F.col("path"))
    )


def filename_meta(path_col: F.Column) -> dict[str, F.Column]:
    """A2 (etl.py:272-282): billing year/month from the filename —
    ROC era ``113年1月`` (+1911) takes precedence over western
    ``202401``; defaults 2024/1."""
    name = F.element_at(F.split(path_col, "/"), -1)
    west_y = F.regexp_extract(name, r"(20\d{2})(\d{2})", 1)
    west_m = F.regexp_extract(name, r"(20\d{2})(\d{2})", 2)
    roc_y = F.regexp_extract(name, r"(\d{2,3})年(\d{1,2})月", 1)
    roc_m = F.regexp_extract(name, r"(\d{2,3})年(\d{1,2})月", 2)
    base_year = (
        F.when(roc_y != "", roc_y.cast("int") + 1911)
        .when(west_y != "", west_y.cast("int"))
        .otherwise(F.lit(2024))
    )
    bill_month = (
        F.when(roc_m != "", roc_m.cast("int"))
        .when(west_m != "", west_m.cast("int"))
        .otherwise(F.lit(1))
    )
    return {"base_year": base_year, "bill_month": bill_month}


# The traced benchmark run (perfbench/spans.py) wraps these two names by
# attribute; they are off the extract path and go away with that patch
# table.


def _headers_and_positions(lines: DataFrame) -> DataFrame:
    """Per-file (path, Bank_Name, first data line) table of a
    :func:`statement_lines` frame; headers are found and applied in the
    decode."""
    return lines.groupBy("path", S.BANK_NAME).agg(F.min("pos").alias("pos"))


def parse_banks(
    lines: DataFrame, specs: list[BankSpec] | None = None
) -> dict[str, DataFrame]:
    """``{bank_id: that bank's rows}`` of a :func:`statement_lines`
    frame, in spec order (lazy, no action)."""
    specs = specs if specs is not None else DEFAULT_BANK_SPECS
    return {s.bank_id: lines.where(F.col(S.BANK_NAME) == s.bank_id) for s in specs}

"""Statement ingest layer (operators A1-A6, A2, B1-B3).

Re-expression of the reference's `etl.py` Part 2/3 ingest
(etl.py:129-152 smart CSV, :259-335 per-file pipeline, :463-482
directory scan) in a Spark-native shape:

* **One `binaryFile` scan** over the statement directory — files are
  routed to banks by filename keyword (A1, etl.py:453-459) and decoded
  (A4: utf-8 / cp950 / Big5, ``errors='replace'``) inside a single
  Arrow-batched ``mapInPandas``.
* **Each file under its own header** (A3 + B1/B2, etl.py:129-152): the
  decode holds the whole file, so it finds the header there (the first
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
* **HTML statements** (A5, etl.py:290-304) are flattened to
  cell-separator rows by a stdlib-``HTMLParser`` table extractor inside
  the same decode step (BeautifulSoup/lxml are not required).
* **Excel** (A6, etl.py:312-316) is a driver-side read of one workbook
  (:func:`read_excel_statement`), sniffed by magic bytes.

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

#: Cell separator used to flatten HTML table rows into "lines".
HTML_CELL_SEP = "\x1f"


@dataclass
class BankSpec:
    """Per-source parsing spec (banks_config.yaml shape,
    configs/banks_configs_example.yaml:12-77)."""

    bank_id: str
    keywords: list[str]  # filename routing tokens (etl.py:453-459)
    columns_mapping: dict[str, str]  # raw header → canonical name
    file_type: str = "csv"  # csv | html | excel
    encoding: str = "utf-8"
    header_keyword: str | None = None


#: Default specs replicating the reference's four banks
#: (configs/banks_configs_example.yaml; FIXTURES.md §1).
DEFAULT_BANK_SPECS: list[BankSpec] = [
    BankSpec(
        bank_id="esun_bank",
        keywords=["玉山"],
        file_type="csv",
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
        file_type="csv",
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
        file_type="csv",
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
        file_type="html",
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
    HTML_CELL_SEP-joined lines (etl.py:290-304)."""
    parser = _TableExtractor()
    parser.feed(text)
    for table in parser.tables:
        if header_keyword is None or any(
            header_keyword in cell for row in table for cell in row
        ):
            return [HTML_CELL_SEP.join(row) for row in table]
    return []


def route_bank(filename: str, specs: list[BankSpec]) -> BankSpec | None:
    """A1: filename keyword → bank spec (first match, etl.py:470-474)."""
    for spec in specs:
        if any(kw in filename for kw in spec.keywords):
            return spec
    return None


_HEADER_SCAN_LINES = 50  # A3: header keyword searched in lines 0-50


def _split_cells(line: str, html: bool) -> list[str]:
    if html:
        return line.split(HTML_CELL_SEP)
    return next(_csv.reader((line,)), [])


def _header_index(lines: list[str], keyword: str | None) -> int:
    """A3 (etl.py:137-149): first of lines 0-50 containing the keyword;
    files without one fall back to line 0."""
    if keyword is not None:
        for i, line in enumerate(lines[: _HEADER_SCAN_LINES + 1]):
            if keyword in line:
                return i
    return 0


def _file_rows(
    path: str, spec: BankSpec, lines: list[str], columns: list[str]
) -> Iterator[tuple]:
    """A3+B1+B2 for one file: its own header picks, for each canonical
    column, the cell it comes from; one row per non-blank data line."""
    if not lines:
        return
    html = spec.file_type == "html"
    hpos = _header_index(lines, spec.header_keyword)
    # B2: trim + flatten whitespace in raw header names (etl.py:301,319)
    header = [" ".join(c.split()) for c in _split_cells(lines[hpos], html)]
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
            cells = _split_cells(line, html)
        except _csv.Error:  # e.g. a field over the csv module's size limit
            continue
        if not html and len(cells) > width:
            continue  # etl.py:146 on_bad_lines='skip': too many fields
        # short rows pad with nulls; an empty CSV field is null, an empty
        # HTML cell stays ''
        vals = [None if i is None or i >= len(cells) else cells[i] for i in idx]
        if not html:
            vals = [v or None for v in vals]
        yield (path, spec.bank_id, pos, *vals)


def statement_lines(
    spark: SparkSession, data_dir: str, specs: list[BankSpec] | None = None
) -> DataFrame:
    """A1-A5 + B1/B2: one distributed frame of every data line of every
    routable statement file under ``data_dir`` — ``path``,
    ``Bank_Name``, ``pos``, the canonical raw string columns, and the
    filename's ``base_year`` / ``bill_month`` (A2)."""
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
                if spec is None:
                    continue
                text = bytes(content).decode(spec.encoding, errors="replace")
                if spec.file_type == "html":
                    lines = html_table_lines(text, spec.header_keyword)
                else:
                    lines = text.splitlines()
                out.extend(_file_rows(path, spec, lines, columns))
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


#: OLE2 / Compound-File-Binary magic — the container of legacy binary
#: .xls workbooks (public format signature, [MS-CFB] 2.2).
_OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


def sniff_workbook_format(path: str) -> str:
    """Classify a workbook file by leading bytes, not extension:
    ``xlsx`` (PK zip), ``xls`` (OLE2 compound file), ``html`` (bank
    portals routinely serve HTML with an .xls name), else ``unknown``."""
    with open(path, "rb") as f:
        head = f.read(512)
    if head[:4] == b"PK\x03\x04":
        return "xlsx"
    if head[:8] == _OLE2_MAGIC:
        return "xls"
    if head.lstrip()[:1] == b"<":
        return "html"
    return "unknown"


def read_excel_statement(
    spark: SparkSession, path: str, spec: BankSpec
) -> DataFrame:
    """A6 (etl.py:312-316): driver-side Excel read.  The file format is
    sniffed from magic bytes BEFORE any parser touches it, so an HTML
    table masquerading under an ``.xls`` name (reference README.md:98)
    always parses via the HTML path — even when a pandas Excel engine
    is installed and would raise a raw ValueError/BadZipFile on it —
    a true OLE2 binary .xls goes through the vendored stdlib BIFF8
    parser (sources.xls), and a real .xlsx goes through
    ``pandas.read_excel`` when an engine is installed, else the
    vendored stdlib .xlsx parser (sources.xlsx)."""
    kind = sniff_workbook_format(path)
    if kind == "html":
        with open(path, "rb") as f:
            text = f.read().decode(spec.encoding, errors="replace")
        lines = html_table_lines(text, spec.header_keyword)
        if not lines:
            raise ValueError(f"no matching HTML table in {path}")
        grid = [ln.split(HTML_CELL_SEP) for ln in lines]
        width = len(grid[0])
        body = [r[:width] + [""] * (width - len(r)) for r in grid[1:]]
        pdf = pd.DataFrame(body, columns=grid[0])
    elif kind == "xls":
        from .xls import read_xls_rows

        rows = read_xls_rows(path)
        if not rows:
            raise ValueError(f"empty workbook: {path}")
        pdf = pd.DataFrame(rows[1:], columns=rows[0])
    elif kind == "xlsx":
        try:
            pdf = pd.read_excel(path, dtype=str)
        except (ImportError, ValueError) as e:  # no engine / engine balked
            from .xlsx import read_xlsx_rows

            rows = read_xlsx_rows(path)
            if not rows:
                raise ValueError(f"empty workbook: {path}") from e
            pdf = pd.DataFrame(rows[1:], columns=rows[0])
    else:
        raise NotImplementedError(
            f"{path}: unrecognized workbook format (not zip/.xlsx,"
            " OLE2/.xls, or HTML); convert to .xlsx/CSV."
        )
    pdf.columns = [" ".join(str(c).split()) for c in pdf.columns]
    pdf = pdf.astype(str)  # raw cells as strings BEFORE adding typed cols
    pdf["path"] = path
    pdf["pos"] = range(len(pdf))  # must stay integral: E2 orders on it
    df = spark.createDataFrame(pdf)
    cols = [F.col("path"), F.col("pos").cast("long").alias("pos")]
    for raw, canonical in spec.columns_mapping.items():
        if raw in pdf.columns:
            cols.append(F.col(raw).alias(canonical))
    return (
        df.select(*cols)
        .withColumn(S.BANK_NAME, F.lit(spec.bank_id))
        .withColumns(filename_meta(F.col("path")))
    )

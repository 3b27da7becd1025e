"""Ingest edge cases: rows with too many fields skipped and short rows
padded, a UTF-8 BOM kept off the first header cell, each file read
under its own header, keyword-less files fall back to line 0, empty directories yield an empty canonical frame, the
extract-to-report path leaves no persisted RDD behind, and every file
format, workbooks included, goes through the one parser."""

from __future__ import annotations

import pytest

from credit_card_etl_pipeline_spark import schema as S
from credit_card_etl_pipeline_spark.plans.etl import run_etl

BAD_ROWS_CSV = """交易日期,入帳日期,卡號末四碼,交易說明,外幣金額,臺幣金額
01/10,01/11,,正常商店,,100
01/11,01/12,,壞行,太多,欄位,在這裡,多一個,再一個
01/12,01/13,,另一家,,200
01/13,01/14,,短行
"""

NO_KEYWORD_CSV = """消費日期,入帳日期,卡號末四碼,商店名稱,臺幣金額,外幣金額,幣別
03/05,03/06,2222,頭排商店,180,,
"""


def test_malformed_rows_skipped(spark, tmp_path):
    d = tmp_path / "s1"
    d.mkdir()
    (d / "玉山_202401.csv").write_text(BAD_ROWS_CSV, encoding="utf-8")
    rows = {r[S.MERCHANT]: r for r in run_etl(spark, str(d)).collect()}
    # the long row is dropped; the short one is padded with nulls and
    # lands, as pandas' on_bad_lines='skip' does (etl.py:146)
    assert set(rows) == {"正常商店", "另一家", "短行"}
    assert rows["短行"][S.AMOUNT] is None
    assert rows["短行"][S.TRANSACTION_DATE].isoformat() == "2024-01-13"


def test_utf8_bom_keeps_first_header_column(spark, tmp_path):
    # Excel's "CSV UTF-8" starts with a BOM; left on the first header
    # cell it unmaps 交易日期, and every row would fall to the null-date
    # filter without an error
    from tests.test_etl import ESUN_CSV

    d = tmp_path / "bom"
    d.mkdir()
    body = ESUN_CSV.split("\n", 2)[2]  # no preamble: the header is line 0
    (d / "玉山_202401.csv").write_text(body, encoding="utf-8-sig")
    rows = run_etl(spark, str(d)).collect()
    dates = sorted(r[S.TRANSACTION_DATE].isoformat() for r in rows)
    assert dates == ["2023-12-30", "2024-01-10", "2024-01-12", "2024-01-20"]


CUBE_HEADER = "交易日,入帳日,卡號末四碼,交易說明,臺幣金額,消費地/幣別,信用卡號"


def test_each_file_read_under_its_own_header(spark, tmp_path):
    # March swaps 臺幣金額 and 交易說明: a header read once per bank
    # would land the March row with Merchant '700' and a null amount
    d = tmp_path / "s4"
    d.mkdir()
    (d / "國泰世華_202402.csv").write_text(
        f"國泰世華帳單,,,,,,\n{CUBE_HEADER}\n"
        "02/01,02/02,1111,誠品書店,500,TW / TWD,****\n",
        encoding="utf-8",
    )
    swapped = CUBE_HEADER.replace("交易說明,臺幣金額", "臺幣金額,交易說明")
    (d / "國泰世華_202403.csv").write_text(
        f"{swapped}\n03/03,03/04,1111,700,全家便利商店,TW / TWD,****\n",
        encoding="utf-8",
    )
    rows = {
        r[S.TRANSACTION_DATE].month: r for r in run_etl(spark, str(d)).collect()
    }
    assert (rows[2][S.MERCHANT], rows[2][S.AMOUNT]) == ("誠品書店", 500.0)
    assert (rows[3][S.MERCHANT], rows[3][S.AMOUNT]) == ("全家便利商店", 700.0)


def test_headerless_fallback_uses_first_line(spark, tmp_path):
    # ctbc keyword is 消費日期, present in line 0 → hpos 0 either way;
    # strip the keyword to exercise the no-match fallback explicitly
    d = tmp_path / "s2"
    d.mkdir()
    content = NO_KEYWORD_CSV.replace("消費日期", "日期X")
    (d / "中信_202403.csv").write_bytes(content.encode("cp950"))
    rows = run_etl(spark, str(d)).collect()
    # header fell back to line 0; 日期X is unmapped so Transaction_Date
    # is never populated → row dropped by the null-date filter (B6)
    assert rows == []


def test_empty_dir_yields_empty_canonical(spark, tmp_path):
    d = tmp_path / "s3"
    d.mkdir()
    (d / "notes.txt").write_text("not a statement")
    out = run_etl(spark, str(d))
    assert out.count() == 0
    assert set(S.ETL_OUTPUT_COLUMNS) == set(out.columns)


def test_load_path_pins_no_persisted_rdd(spark, tmp_path):
    """Extract → refine → warehouse, closed six times in one session and
    each close followed by the card RFM report, leaves no persisted or
    checkpointed RDD in the SparkContext and no tracked frame."""
    from pyspark.sql import functions as F

    from credit_card_etl_pipeline_spark.functions import caching
    from credit_card_etl_pipeline_spark.operators import rfm as rfm_ops
    from credit_card_etl_pipeline_spark.plans.refine import RefineConfig, refine
    from credit_card_etl_pipeline_spark.warehouse import (
        to_warehouse,
        write_warehouse,
    )
    from tests.test_etl import CUBE_CSV, ESUN_CSV

    d = tmp_path / "s5"
    d.mkdir()
    (d / "玉山銀行113年1月.csv").write_text(ESUN_CSV, encoding="utf-8")
    (d / "國泰世華_202402.csv").write_text(CUBE_CSV, encoding="utf-8")
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):  # other tests' leftovers
        rdd.unpersist(True)
    caching.release_tracked()
    sizes, tracked = [], []
    for _ in range(6):
        wh = to_warehouse(refine(run_etl(spark, str(d)), RefineConfig()))
        write_warehouse(wh, str(tmp_path / "wh"), expected_rows=7)
        # the card report as perfbench and examples/run_pipeline.py run it
        table = spark.read.parquet(str(tmp_path / "wh"))
        clean = rfm_ops.exclude_bank_noise(table).where(
            F.col("card_name").isNotNull() & (F.col("card_name") != "")
        )
        report = rfm_ops.rfm_aggregate(
            clean,
            ["bank_name", "card_name"],
            date_col="transaction_date",
            id_col="transaction_id",
            amount_col="payment_amount",
            rank_metrics=("f", "m"),
        ).collect()
        assert report
        sizes.append(jsc.getPersistentRDDs().size())
        tracked.append(len(caching._TRACKED))
    assert sizes == [0] * 6
    assert tracked == [0] * 6


def test_vendored_xlsx_shared_strings_and_sparse_cells(tmp_path):
    # hand-built workbook exercising the t="s" sharedStrings branch and
    # sparse cell refs (B2 present, A2 missing -> '')
    import zipfile

    from credit_card_etl_pipeline_spark.sources.xlsx import read_xlsx_rows

    main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    path = tmp_path / "shared.xlsx"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
        z.writestr(
            "_rels/.rels",
            f'<?xml version="1.0"?><Relationships xmlns="{pkg}">'
            '<Relationship Id="rId1" Type="t" Target="xl/workbook.xml"/></Relationships>',
        )
        z.writestr(
            "xl/workbook.xml",
            f'<?xml version="1.0"?><workbook xmlns="{main}" xmlns:r="{rel}">'
            '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<?xml version="1.0"?><Relationships xmlns="{pkg}">'
            '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>',
        )
        z.writestr(
            "xl/sharedStrings.xml",
            f'<?xml version="1.0"?><sst xmlns="{main}">'
            "<si><t>交易日期</t></si>"
            "<si><r><t>rich</t></r><r><t>text</t></r></si></sst>",
        )
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0"?><worksheet xmlns="{main}"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
            '<row r="2"><c r="B2"><v>42</v></c></row>'
            "</sheetData></worksheet>",
        )
    assert read_xlsx_rows(path.read_bytes()) == [
        ["交易日期", "richtext"],
        ["", "42"],
    ]


def test_workbook_sniffing_ole2_and_html(spark, tmp_path):
    """The bytes pick the parser: junk under an .xls name raises with
    its path, a true OLE2 .xls parses through the vendored BIFF8 reader,
    and HTML masquerading as .xls parses through the HTML table path."""
    from credit_card_etl_pipeline_spark.sources.ingest import (
        DEFAULT_BANK_SPECS,
        sniff_workbook_format,
        statement_lines,
    )
    from credit_card_etl_pipeline_spark.sources.xls import write_minimal_xls

    specs = DEFAULT_BANK_SPECS[:1]

    junk = tmp_path / "玉山_202401.xls"
    junk.write_bytes(b"\x00\x01\x02\x03 not a workbook at all")
    assert sniff_workbook_format(junk.read_bytes()) == "csv"
    with pytest.raises(
        Exception, match="玉山_202401.xls: not an .xlsx or .xls workbook"
    ):
        statement_lines(spark, str(junk), specs).collect()

    ole2 = tmp_path / "玉山_202402.xls"
    write_minimal_xls(
        str(ole2),
        [
            ["交易日期", "交易說明", "臺幣金額"],
            ["01/05", "超商", "89"],
            ["01/09", "書店", 450],
        ],
    )
    assert sniff_workbook_format(ole2.read_bytes()) == "xls"
    got = {r["pos"]: r for r in statement_lines(spark, str(ole2), specs).collect()}
    assert len(got) == 2
    assert got[2][S.MERCHANT] == "書店" and got[2][S.AMOUNT] == "450"
    assert got[1]["base_year"] == 2024 and got[1]["bill_month"] == 2

    cells = "".join(
        f"<tr><td>01/{i:02d}</td><td>SHOP{i}</td><td>{100 + i}</td></tr>"
        for i in range(1, 4)
    )
    html = tmp_path / "玉山_202403.xls"
    html.write_text(
        "\ufeff  <html><body><table><tr><th>交易日期</th><th>交易說明</th>"
        f"<th>臺幣金額</th></tr>{cells}</table></body></html>",
        encoding="utf-8",
    )
    assert sniff_workbook_format(html.read_bytes()) == "html"
    rows = statement_lines(spark, str(html), specs).orderBy("pos").collect()
    assert [r[S.MERCHANT] for r in rows] == ["SHOP1", "SHOP2", "SHOP3"]
    assert rows[0]["base_year"] == 2024 and rows[0]["bill_month"] == 3


def test_run_etl_lands_every_format(spark, tmp_path):
    """CSV, HTML, .xlsx and legacy .xls statements in one directory go
    through the one parser: each workbook's rows land with their
    values, and a corrupt workbook under a routed name raises with its
    path instead of landing null rows."""
    import datetime as dt
    import os
    import shutil

    from credit_card_etl_pipeline_spark.queries.etl_queries import (
        _EXCEL_SPEC,
        _XLS_SPEC,
    )
    from credit_card_etl_pipeline_spark.sources.ingest import DEFAULT_BANK_SPECS
    from tests.test_etl import ESUN_CSV, HNCB_HTML

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    specs = [*DEFAULT_BANK_SPECS, _EXCEL_SPEC, _XLS_SPEC]
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "玉山銀行113年1月.csv").write_text(ESUN_CSV, encoding="utf-8")
    (d / "華南_202404.html").write_bytes(HNCB_HTML.encode("big5"))
    shutil.copy(os.path.join(root, "fixtures", "statements", "富邦_202405.xlsx"), d)
    shutil.copy(os.path.join(root, "fixtures", "台新_202406.xls"), d)

    rows = {
        (r[S.BANK_NAME], r[S.MERCHANT]): r
        for r in run_etl(spark, str(d), specs).collect()
    }
    assert sum(b == "fubon_bank" for b, _ in rows) == 3
    assert sum(b == "taishin_bank" for b, _ in rows) == 4
    fubon = rows[("fubon_bank", "誠品 書店")]
    assert fubon[S.TRANSACTION_DATE] == dt.date(2024, 5, 6)
    assert fubon[S.POSTING_DATE] == dt.date(2024, 5, 7)
    assert (fubon[S.CARD_NO], fubon[S.AMOUNT]) == ("7777", 1350.0)
    taishin = rows[("taishin_bank", "台新Richart轉帳回饋")]
    assert taishin[S.TRANSACTION_DATE] == dt.date(2024, 6, 7)
    assert taishin[S.AMOUNT] == -120.0
    assert rows[("taishin_bank", "書店  文具")][S.AMOUNT] == 2480.0
    assert ("esun_bank", "全聯福利中心") in rows
    assert ("hncb_bank", "家樂福") in rows

    (d / "台新_202407.xlsx").write_bytes(b"PK\x03\x04 truncated zip")
    with pytest.raises(Exception, match="台新_202407.xlsx: unreadable xlsx"):
        run_etl(spark, str(d), specs).collect()

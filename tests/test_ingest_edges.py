"""Ingest edge cases: rows with too many fields skipped and short rows
padded, each file read under its own header, keyword-less files fall
back to line 0, empty directories yield an empty canonical frame, and
the extract-to-report path leaves no persisted RDD behind."""

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


def test_excel_statement_path(spark, monkeypatch, tmp_path):
    # A6 with a (faked) workbook engine: monkeypatch the pandas reader
    # so the mapping/typing/ordering plumbing is exercised for real.
    # The file itself only needs the zip magic — sniffing runs first.
    import pandas as pd

    from credit_card_etl_pipeline_spark.sources.ingest import (
        DEFAULT_BANK_SPECS,
        read_excel_statement,
    )

    def fake_read_excel(path, dtype=None, **kw):
        return pd.DataFrame(
            {
                "交易日期": [f"01/{i:02d}" for i in range(1, 13)],
                "交易說明": [f"SHOP{i}" for i in range(12)],
                "臺幣金額": [str(100 + i) for i in range(12)],
            }
        )

    monkeypatch.setattr(pd, "read_excel", fake_read_excel)
    spec = DEFAULT_BANK_SPECS[0]
    xlsx = tmp_path / "玉山_202401.xlsx"
    xlsx.write_bytes(b"PK\x03\x04 fake zip body")
    df = read_excel_statement(spark, str(xlsx), spec)
    rows = df.orderBy("pos").collect()
    assert dict(df.dtypes)["pos"] == "bigint"  # E2 ordering must be numeric
    assert [r["pos"] for r in rows] == list(range(12))
    assert rows[0][S.MERCHANT] == "SHOP0"
    assert rows[0]["base_year"] == 2024 and rows[0]["bill_month"] == 1


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
    assert read_xlsx_rows(str(path)) == [
        ["交易日期", "richtext"],
        ["", "42"],
    ]


def test_workbook_sniffing_ole2_and_html(spark, tmp_path, monkeypatch):
    """Magic-byte sniffing: true OLE2 .xls fails honestly; HTML
    masquerading as .xls parses through the HTML table path."""
    import pandas as pd
    import pytest

    from credit_card_etl_pipeline_spark.sources.ingest import (
        DEFAULT_BANK_SPECS,
        read_excel_statement,
        sniff_workbook_format,
    )

    def no_engine(path, dtype=None, **kw):
        raise ImportError("no excel engine")

    monkeypatch.setattr(pd, "read_excel", no_engine)
    spec = DEFAULT_BANK_SPECS[0]

    junk = tmp_path / "玉山_202401.dat"
    junk.write_bytes(b"\x00\x01\x02\x03 not a workbook at all")
    assert sniff_workbook_format(str(junk)) == "unknown"
    with pytest.raises(NotImplementedError, match="unrecognized workbook"):
        read_excel_statement(spark, str(junk), spec)

    # true OLE2 .xls now parses via the vendored BIFF8 reader
    from credit_card_etl_pipeline_spark.sources.xls import write_minimal_xls

    ole2 = tmp_path / "玉山_202401.xls"
    write_minimal_xls(
        str(ole2),
        [
            ["交易日期", "交易說明", "臺幣金額"],
            ["01/05", "超商", "89"],
            ["01/09", "書店", 450],
        ],
    )
    assert sniff_workbook_format(str(ole2)) == "xls"
    df = read_excel_statement(spark, str(ole2), spec)
    got = {r["pos"]: r for r in df.collect()}
    assert len(got) == 2
    assert got[1][S.MERCHANT] == "書店" and got[1][S.AMOUNT] == "450"
    assert got[0]["base_year"] == 2024 and got[0]["bill_month"] == 1

    cells = "".join(
        f"<tr><td>01/{i:02d}</td><td>SHOP{i}</td><td>{100 + i}</td></tr>"
        for i in range(1, 4)
    )
    html = tmp_path / "玉山_202402.xls"
    html.write_text(
        "<html><body><table><tr><th>交易日期</th><th>交易說明</th>"
        f"<th>臺幣金額</th></tr>{cells}</table></body></html>",
        encoding=spec.encoding,
    )
    assert sniff_workbook_format(str(html)) == "html"
    df = read_excel_statement(spark, str(html), spec)
    rows = df.orderBy("pos").collect()
    assert len(rows) == 3
    assert rows[0]["base_year"] == 2024 and rows[0]["bill_month"] == 2

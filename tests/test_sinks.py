"""Sink tests: BOM presence (A9), size guard, distributed path, and the
workbook exporter (A7): legacy .xls export and the non-workbook error."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from credit_card_etl_pipeline_spark.sources.sinks import (
    export_workbook_configs,
    write_csv_bom,
    write_csv_distributed,
)


@pytest.fixture()
def small_df(spark):
    return spark.createDataFrame(
        pd.DataFrame({"名稱": ["全聯", "家樂福"], "金額": [100, 200]})
    )


def test_csv_bom(spark, small_df, tmp_path):
    path = str(tmp_path / "out.csv")
    write_csv_bom(small_df, path)
    raw = open(path, "rb").read()
    assert raw.startswith(b"\xef\xbb\xbf")  # UTF-8 BOM
    back = pd.read_csv(path, encoding="utf-8-sig")
    assert list(back.columns) == ["名稱", "金額"]
    assert len(back) == 2


def test_csv_bom_size_guard(spark, small_df, tmp_path):
    with pytest.raises(ValueError, match="write_csv_distributed"):
        write_csv_bom(small_df, str(tmp_path / "x.csv"), driver_side_limit=1)


def test_csv_distributed(spark, small_df, tmp_path):
    path = str(tmp_path / "dist")
    write_csv_distributed(small_df, path)
    assert spark.read.option("header", "true").csv(path).count() == 2


def test_workbook_export_gate(tmp_path):
    # bytes that are no workbook raise the one error naming the file
    fake = tmp_path / "model.xlsx"
    fake.write_bytes(b"not a real workbook")
    with pytest.raises(ValueError, match="model.xlsx: not an .xlsx or .xls workbook"):
        export_workbook_configs(str(fake), str(tmp_path / "cfg"))


def test_legacy_xls_workbook_export(tmp_path):
    # a legacy BIFF8 .xls exports through the vendored reader; the
    # all-empty row and column are dropped as with an .xlsx
    from credit_card_etl_pipeline_spark.sources.xls import write_minimal_xls

    book = tmp_path / "model.xls"
    write_minimal_xls(
        str(book),
        [
            ["Keyword", "", "Card_Name"],
            ["LINE", "", "LINE Pay"],
            ["", "", ""],
            ["全聯", "", "PX Pay"],
        ],
        sheet="card_mapping",
    )
    written = export_workbook_configs(str(book), str(tmp_path / "cfg"))
    assert [os.path.basename(p) for p in written] == ["cards.csv"]
    back = pd.read_csv(written[0], encoding="utf-8-sig", dtype=str)
    assert list(back.columns) == ["Keyword", "Card_Name"]
    assert back.values.tolist() == [["LINE", "LINE Pay"], ["全聯", "PX Pay"]]

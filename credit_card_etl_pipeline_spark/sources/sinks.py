"""Output sinks (operators A9, A7).

A9 — the reference writes every CSV with a UTF-8 BOM for Excel interop
(``encoding='utf-8-sig'``, etl.py:500, refine.py:432,
db_to_card_RFM.py:153).  Small result tables (RFM outputs, samples) go
through the driver for an exact single-file replica; large datasets
write distributed Spark CSV (no BOM — Excel isn't the consumer of a
thousand part files).

A7 — ``convert_model.py:15-23,54-75``: an Excel workbook's sheets are
the author's master rule/dim model; export each mapped sheet to a CSV
config.  Driver-side utility over the vendored .xlsx / .xls readers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: Sheet → config-file mapping (reference convert_model.py:15-23).
WORKBOOK_SHEET_MAP: dict[str, str] = {
    "card_mapping": "cards.csv",
    "payment_regex_rules": "payment_gateway.csv",
    "merchant_regex_rules": "merchants.csv",
    "merchant_categories": "merchant_categories.csv",
    "reward_rates": "reward_rates.csv",
    "reward_bridges": "reward_bridges.csv",
    "exchange_rates": "exchange_rates.csv",
}


def write_csv_bom(df: DataFrame, path: str, *, driver_side_limit: int = 1_000_000) -> None:
    """A9: single CSV file with UTF-8 BOM (Excel-ready).

    Intended for result tables; refuses driver collection beyond
    ``driver_side_limit`` rows — use :func:`write_csv_distributed` for
    big data.
    """
    n = df.limit(driver_side_limit + 1).count()
    if n > driver_side_limit:
        raise ValueError(
            f"result has >{driver_side_limit} rows; use "
            "write_csv_distributed for large outputs"
        )
    pdf = df.toPandas()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pdf.to_csv(path, index=False, encoding="utf-8-sig")


def write_csv_distributed(df: DataFrame, path: str) -> None:
    """A9 at scale: header-ed distributed CSV (one file per partition,
    no BOM)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def export_workbook_configs(
    workbook_path: str,
    output_dir: str,
    sheet_map: dict[str, str] | None = None,
) -> list[str]:
    """A7: read every mapped sheet of an .xlsx or .xls workbook as
    strings, drop all-empty rows and columns, write one BOM CSV per
    sheet.  Returns written paths."""
    import pandas as pd

    from .ingest import workbook_sheets

    sheet_map = sheet_map or WORKBOOK_SHEET_MAP
    with open(workbook_path, "rb") as f:
        sheets = workbook_sheets(workbook_path, f.read())
    os.makedirs(output_dir, exist_ok=True)
    written: list[str] = []
    for sheet_name, csv_name in sheet_map.items():
        if sheet_name not in sheets:
            continue
        rows = sheets[sheet_name]
        pdf = pd.DataFrame(rows[1:], columns=rows[0]) if rows else pd.DataFrame()
        # '' → NA, so that an empty cell counts as missing in the drops
        pdf = pdf.replace("", pd.NA).dropna(how="all").dropna(axis=1, how="all")
        out = os.path.join(output_dir, csv_name)
        pdf.to_csv(out, index=False, encoding="utf-8-sig")
        written.append(out)
    return written

"""The extract pipeline (reference: etl.py Part 3/4, lines 259-503).

One lazy plan over every bank's statements, each step run once over all
banks and reading the bank from the row:

    statement_lines (A1 scan + A4 decode + A5 html + A6 workbooks + A3
                     per-file header + B1/B2 mapping, ONE binaryFile pass;
                     A2 filename meta)
      → B3 init missing canonical columns
      → extract_card_info (E2 ordered ffill + H8 + B11)
      → parse_bank_specific (H7 / H9 / bank defaults)
      → general_cleanse (H3, H2+B6, H4, H5, H1, H6)
      → ordered projection (B4)

The reference's per-bank frames and their concat (G1) are one frame
here.  Shuffle profile: the only wide operation is E2's per-file
window; everything else is narrow column expressions over the single
file scan.  No driver action runs before the caller's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S
from ..functions.cleanse import general_cleanse
from ..operators.bank_parse import parse_bank_specific
from ..operators.extract_cards import extract_card_info
from ..sources.ingest import BankSpec, statement_lines
from ..sources.ingest import parse_banks  # noqa: F401  (traced-run patch table)


def _init_missing(df: DataFrame) -> DataFrame:
    """B3 (etl.py:333-335): materialize absent canonical columns as
    string nulls (typing happens in general_cleanse)."""
    missing = {
        c: F.lit(None).cast("string")
        for c in S.CANONICAL_COLUMNS
        if c not in df.columns
    }
    return df.withColumns(missing) if missing else df


def run_etl(
    spark: SparkSession,
    data_dir: str,
    specs: list[BankSpec] | None = None,
) -> DataFrame:
    """Directory of raw statements → unified canonical fact
    (`result_all_banks` shape, 16 ordered columns)."""
    df = _init_missing(statement_lines(spark, data_dir, specs))
    df = extract_card_info(df)
    df = parse_bank_specific(df)
    df = general_cleanse(df)
    return df.select(*S.ETL_OUTPUT_COLUMNS)

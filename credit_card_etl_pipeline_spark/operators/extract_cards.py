"""Card-info extraction via ordered forward-fill (operators E2, H8, B11).

Re-expression of the reference's ``extract_card_info`` (etl.py:155-203):
master header rows (玉山 ``卡號：…（卡別－正卡）`` / 華南
``卡別************1234``) are tagged, their text forward-filled down to
the detail rows below them **in file order**, card number / card type
regex-extracted from the filled text, payment/transfer rows force-cleared
(etl.py:190-195), and the master rows dropped (B11).

Spark has no implicit row order (SURVEY §4 trap 2), so the fill runs
over an **explicit ingest-order window**: ``partitionBy(file)
orderBy(line_pos)`` with ``last(..., ignorenulls=True)`` and an
unbounded-preceding frame.  Statement files are KB-sized, so one
partition per file is the natural (and correct) granularity; thousands
of files parallelize across executors.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import schema as S
from ..functions.predicates import by_bank, s


@dataclass(frozen=True)
class CardMasterPattern:
    """Per-bank master-row spec (etl.py:161-172)."""

    trigger: str  # regex marking a master row
    card_no: str  # extraction regex, group 1 = last-4 digits
    card_type: str  # extraction regex, group 1 = card name


#: Reference patterns (etl.py:161-172).
CARD_MASTER_PATTERNS: dict[str, CardMasterPattern] = {
    "esun_bank": CardMasterPattern(
        trigger="卡號：",
        card_no=r"(\d{4})（",
        card_type=r"（(.*?)－?(?:正卡|附卡)）",
    ),
    "hncb_bank": CardMasterPattern(
        trigger=r"\*{12}",
        card_no=r"\*{12}(\d{4})",
        card_type=r"^(.*?)\*{12}",
    ),
}


def _extract_or_null(col: F.Column, pattern: str) -> F.Column:
    """pandas ``str.extract`` semantics: no match → null (Spark's
    ``regexp_extract`` yields '' for both no-match and empty match)."""
    hit = F.regexp_extract(col, pattern, 1)
    return F.when(col.rlike(pattern), hit).otherwise(F.lit(None).cast("string"))


def extract_card_info(
    df: DataFrame,
    *,
    file_col: str = "path",
    order_col: str = "pos",
) -> DataFrame:
    """E2+H8+B11 over a frame of any banks' rows (etl.py:155-203); the
    bank comes from each row's ``Bank_Name``.

    Rows of banks without a master-row convention pass through
    unchanged, mirroring the reference's target_banks guard
    (etl.py:156-158).  Expects ``Merchant``, ``Card_No`` and
    ``Card_Type`` columns.
    """
    pats = CARD_MASTER_PATTERNS
    merchant = s(S.MERCHANT)
    is_master = by_bank(
        {b: merchant.rlike(p.trigger) for b, p in pats.items()}, F.lit(False)
    )
    w = (
        Window.partitionBy(file_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = F.last(
        F.when(is_master, F.col(S.MERCHANT)), ignorenulls=True
    ).over(w)

    card_no = by_bank(
        {b: _extract_or_null(filled, p.card_no) for b, p in pats.items()},
        F.col(S.CARD_NO),
    )
    card_type = by_bank(
        {b: _extract_or_null(filled, p.card_type) for b, p in pats.items()},
        F.col(S.CARD_TYPE),
    )
    # Payment/transfer rows must not inherit a card (etl.py:190-195).
    cleared = F.col(S.BANK_NAME).isin(*pats) & merchant.rlike("繳款|轉帳")
    null_s = F.lit(None).cast("string")
    return df.withColumns(
        {
            S.CARD_NO: F.when(cleared, null_s).otherwise(card_no),
            S.CARD_TYPE: F.when(cleared, null_s).otherwise(card_type),
        }
    ).where(~is_master)  # B11

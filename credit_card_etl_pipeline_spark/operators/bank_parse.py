"""Bank-specific statement parsing (operators H7, H9, H5-variants).

Node-4 of the reference's per-bank pipeline (etl.py:205-254, 343-369):
E.Sun fused foreign-transaction fields, Cathay country/currency split,
CTBC / Hua Nan location+currency defaults.  All pure column
expressions, chosen per row by ``Bank_Name``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schema as S
from ..functions.cleanse import normalize_country_code
from ..functions.predicates import by_bank

#: H7 (etl.py:214): merchant ⟨2+ spaces or tab⟩ place ⟨spaces⟩ MM/DD?
ESUN_FOREIGN_PATTERN = r"^(.*?)(?:\s{2,}|\t)(.*?)(?:\s+(\d{2}/\d{2}))?$"


def _esun_columns() -> dict[str, F.Column]:
    """H7 (etl.py:206-242) + the location copy step (etl.py:349-357).

    The reference strips the merchant, extracts (name, place,
    conversion-date) from rows where the fused pattern matches, fills
    ``Consumption_Place`` and then copies it into
    ``Merchant_Location``.  pandas ``str.extract`` group semantics: a
    non-matching row leaves every target untouched; optional group 3
    may be absent within a matching row.
    """
    merchant = F.trim(F.col(S.MERCHANT).cast("string"))
    matched = F.coalesce(merchant.rlike(ESUN_FOREIGN_PATTERN), F.lit(False))
    g1 = F.regexp_extract(merchant, ESUN_FOREIGN_PATTERN, 1)
    g2 = F.regexp_extract(merchant, ESUN_FOREIGN_PATTERN, 2)
    g3 = F.regexp_extract(merchant, ESUN_FOREIGN_PATTERN, 3)

    has_place = matched & (g2 != "")
    place = F.trim(g2)
    return {
        S.MERCHANT: F.when(matched & (g1 != ""), F.trim(g1)).otherwise(merchant),
        S.CONSUMPTION_PLACE: F.when(has_place, place).otherwise(
            F.col(S.CONSUMPTION_PLACE)
        ),
        S.CONVERSION_DATE: F.when(matched & (g3 != ""), g3).otherwise(
            F.col(S.CONVERSION_DATE)
        ),
        # etl.py:354-357 — the "搬運工" copy into Merchant_Location.
        S.MERCHANT_LOCATION: F.when(has_place, place).otherwise(
            F.col(S.MERCHANT_LOCATION)
        ),
    }


def _cube_columns() -> dict[str, F.Column]:
    """H9 (etl.py:245-254): ``消費地/幣別`` = ``'TW / TWD'`` → location
    (country-normalized) + currency."""
    raw = F.col(S.RAW_COUNTRY_CURRENCY).cast("string")
    parts = F.split(raw, " / ", 2)
    has = raw.isNotNull()
    return {
        S.MERCHANT_LOCATION: F.when(
            has, normalize_country_code(F.trim(parts.getItem(0)))
        ).otherwise(F.col(S.MERCHANT_LOCATION)),
        S.CURRENCY_TYPE: F.when(
            has & (F.size(parts) >= 2), F.trim(parts.getItem(1))
        ).otherwise(F.col(S.CURRENCY_TYPE)),
    }


#: CTBC/HNCB null-fill defaults (etl.py:362-369).
_DEFAULTS = {
    "ctbc_bank": {S.MERCHANT_LOCATION: "TW", S.CURRENCY_TYPE: "TWD"},
    "hncb_bank": {S.MERCHANT_LOCATION: "TW"},
}


def parse_esun_details(df: DataFrame) -> DataFrame:
    """H7 over a frame of E.Sun rows (see :func:`_esun_columns`)."""
    return df.withColumns(_esun_columns())


def parse_cube_details(df: DataFrame) -> DataFrame:
    """H9 over a frame of Cathay rows; raw column dropped."""
    return df.withColumns(_cube_columns()).drop(S.RAW_COUNTRY_CURRENCY)


def parse_bank_specific(df: DataFrame) -> DataFrame:
    """Node-4 (etl.py:343-369) over a frame of all banks: each column a
    bank step touches becomes one CASE on the row's ``Bank_Name``;
    ``Raw_Country_Currency`` is dropped."""
    per_bank = {"esun_bank": _esun_columns(), "cube_bank": _cube_columns()}
    for bank_id, fills in _DEFAULTS.items():
        per_bank[bank_id] = {
            c: F.coalesce(F.col(c), F.lit(v)) for c, v in fills.items()
        }
    touched = dict.fromkeys(c for cols in per_bank.values() for c in cols)
    return df.withColumns(
        {
            c: by_bank(
                {b: cols[c] for b, cols in per_bank.items() if c in cols},
                F.col(c),
            )
            for c in touched
        }
    ).drop(S.RAW_COUNTRY_CURRENCY)

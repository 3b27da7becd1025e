"""General cleanse expressions (operators H1-H6, B6) — the reference's
`etl.py` Node-5 stage as pure Column expressions (no UDFs).

All functions replicate the pandas semantics exactly where the reference
depends on them (invalid input → null, matching ``errors='coerce'``;
the engine session runs with ANSI mode off so casts are permissive).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schema as S
from .predicates import s

#: ISO-3 → ISO-2 country map (reference etl.py:81-86).
COUNTRY_3TO2: dict[str, str] = {
    "TWN": "TW", "USA": "US", "JPN": "JP", "KOR": "KR",
    "HKG": "HK", "SGP": "SG", "GBR": "GB", "CHN": "CN",
    "IRL": "IE", "DEU": "DE", "FRA": "FR", "AUS": "AU",
    "VNM": "VN", "THA": "TH", "MYS": "MY", "IDN": "ID",
}


def normalize_country_code(col: Column | str) -> Column:
    """H1 (etl.py:47-98): null/blank → 'TW'; else upper-case first
    space-token; 3-letter codes mapped to ISO-2; 2-char passthrough;
    anything else passes through unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.trim(c.cast("string"))
    clean = F.upper(F.split(stripped, " ", 2).getItem(0))
    iso2 = F.create_map(*(F.lit(x) for kv in COUNTRY_3TO2.items() for x in kv))
    # 2-char and unknown codes pass through
    mapped = F.coalesce(F.try_element_at(iso2, clean), clean)
    return F.when(c.isNull() | (stripped == ""), "TW").otherwise(mapped)


#: H2 null sentinels (etl.py:102).
_DATE_SENTINELS = ("(null)", "nan", "")


def parse_date_with_year(
    col: Column | str, base_year: Column, bill_month: Column
) -> Column:
    """H2 (etl.py:100-122): parse statement dates that may lack a year.

    * ``MM/DD`` (2 parts, ``/`` or ``-``) → attach the billing year with
      cross-year correction: bill month 1 + txn month 12 → year-1;
      bill month 12 + txn month 1 → year+1.
    * ``Y/M/D`` (3 parts) → direct parse (`pd.to_datetime(errors='coerce')`).
    * sentinels ``(null)``/``nan``/empty, or any parse failure → null.

    ``base_year``/``bill_month`` are columns (derived per file from the
    filename, operator A2), so the whole thing stays one distributed
    expression — no driver-side per-file branching.
    """
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c.cast("string"))
    parts = F.split(t, "[/-]")
    n = F.size(parts)
    month = parts.getItem(0).cast("int")
    day = parts.getItem(1).cast("int")
    year = (
        F.when((bill_month == 1) & (month == 12), base_year - 1)
        .when((bill_month == 12) & (month == 1), base_year + 1)
        .otherwise(base_year)
    )
    two_part = F.make_date(year, month, day)  # invalid → null (ANSI off)
    three_part = F.to_date(
        F.concat_ws(
            "-",
            parts.getItem(0),
            F.lpad(parts.getItem(1), 2, "0"),
            F.lpad(parts.getItem(2), 2, "0"),
        ),
        "yyyy-MM-dd",
    )
    return (
        F.when(c.isNull() | t.isin(*_DATE_SENTINELS), F.lit(None).cast("date"))
        .when(n == 2, two_part)
        .when(n == 3, three_part)
        .otherwise(F.lit(None).cast("date"))
    )


def fix_card_no(col: Column | str) -> Column:
    """H3 (etl.py:387-389): strip the float artifact ``.0`` suffix; map
    ``'nan'``/``'NaN'``/``''`` to null."""
    c = F.col(col) if isinstance(col, str) else col
    fixed = F.regexp_replace(c.cast("string"), r"\.0$", "")
    return F.when(fixed.isin("nan", "NaN", ""), F.lit(None).cast("string")).otherwise(
        fixed
    )


def clean_amount(col: Column | str) -> Column:
    """H4 (etl.py:398-401): trim, drop thousands commas, numeric-coerce
    (invalid → null)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(c.cast("string")), ",", "").cast("double")


def general_cleanse(df: DataFrame) -> DataFrame:
    """Node-5 general cleanse (etl.py:383-438): H3 card fix, H2 dates
    (expects ``base_year``/``bill_month`` columns), B6 null-date drop,
    H4 amounts, H5 payment fills, H1 location normalize, H6 domestic
    scrub + foreign-currency default.
    """
    by, bm = F.col("base_year"), F.col("bill_month")

    df = df.withColumn(S.CARD_NO, fix_card_no(S.CARD_NO))
    df = df.withColumns(
        {
            c: parse_date_with_year(c, by, bm)
            for c in (S.TRANSACTION_DATE, S.POSTING_DATE, S.CONVERSION_DATE)
            if c in df.columns
        }
    )
    df = df.where(F.col(S.TRANSACTION_DATE).isNotNull())  # B6
    df = df.withColumns(
        {
            c: clean_amount(c)
            for c in (S.AMOUNT, S.PAYMENT_AMOUNT, S.CURRENCY_AMOUNT)
            if c in df.columns
        }
    )
    # H5: settlement amount falls back to the statement amount; missing
    # payment currency is TWD.
    df = df.withColumns(
        {
            S.PAYMENT_AMOUNT: F.coalesce(F.col(S.PAYMENT_AMOUNT), F.col(S.AMOUNT)),
            S.PAYMENT_CURRENCY: F.coalesce(F.col(S.PAYMENT_CURRENCY), F.lit("TWD")),
        }
    )
    df = df.withColumn(S.MERCHANT_LOCATION, normalize_country_code(S.MERCHANT_LOCATION))

    # H6 (etl.py:423-438): pure domestic rows (TW and not a payment row)
    # lose their foreign-currency fields; foreign rows with no currency
    # default to TWD.
    is_tw = F.col(S.MERCHANT_LOCATION) == "TW"
    is_payment = F.coalesce(
        s(S.MERCHANT).rlike("繳款|轉帳"), F.lit(False)
    )
    domestic = is_tw & ~is_payment
    df = df.withColumns(
        {
            S.CURRENCY_TYPE: F.when(domestic, F.lit(None).cast("string"))
            .when(
                ~is_tw & F.col(S.CURRENCY_TYPE).isNull(), F.lit("TWD")
            )
            .otherwise(F.col(S.CURRENCY_TYPE)),
            S.CURRENCY_AMOUNT: F.when(
                domestic, F.lit(None).cast("double")
            ).otherwise(F.col(S.CURRENCY_AMOUNT)),
        }
    )
    return df

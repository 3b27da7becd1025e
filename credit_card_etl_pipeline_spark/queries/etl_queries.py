"""Ingest-layer query family — operators H1-H6, B6, E2, H8, B11.

``etl_general_cleanse`` drives the Node-5 cleanse stage
(etl.py:383-438) over raw statement strings synthesized from ``orders``
(dates re-rendered as year-less ``MM/DD`` text with cross-year
scenarios, amounts as comma-grouped text, country codes in every dirty
shape).  ``etl_card_ffill`` drives the ordered forward-fill extractor
(etl.py:155-203) over ``events`` re-shaped as statement lines — the
E2 window (partition by file, order by line) against a DuckDB
``last_value IGNORE NULLS`` twin.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S
from ..functions.cleanse import general_cleanse
from ..operators.extract_cards import extract_card_info
from ..sources.ingest import BankSpec, statement_lines
from . import load, query

# ====================================================================
# H1-H6 general cleanse
# ====================================================================


def _synth_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-string statement rows with one dirty scenario per
    ``o_orderkey % 17`` (twin of the SQL CTE in the oracle)."""
    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    m = k % 17
    d = F.to_date("o_orderdate")
    pay = F.round(F.col("o_totalprice") * 100) / 100.0

    date_str = (
        F.when(m == 0, "(null)")
        .when(m == 1, "nan")
        .when(m == 2, "12/30")
        .when(m == 3, "01/05")
        .when(m == 4, F.date_format(d, "yyyy/MM/dd"))
        .otherwise(F.date_format(d, "MM/dd"))
    )
    base_year = (
        F.when(m.isin(2, 3), F.lit(2024)).otherwise(F.year(d)).alias("base_year")
    )
    bill_month = (
        F.when(m == 2, F.lit(1))
        .when(m == 3, F.lit(12))
        .otherwise(F.month(d))
        .alias("bill_month")
    )
    amount_str = (
        F.when(m == 5, "1,234")
        .when(m == 6, " 567.80 ")
        .when(m == 7, "N/A")
        .otherwise(pay.cast("string"))
    )
    card_str = (
        F.when(m == 8, "1234.0").when(m == 9, "nan").otherwise(F.lit("9999"))
    )
    location = (
        F.when(m == 10, "JPN CHIYODA-KU")
        .when(m == 11, "usa")
        .when(m == 12, "")
        .when(m == 13, "GB")
        .when(m == 14, "XYZ")
        .otherwise(F.lit("TW"))
    )
    merchant = F.when(m == 15, "信用卡繳款 THANK YOU").otherwise(
        F.concat(F.lit("SHOP-"), (k % 50).cast("string"))
    )
    currency = F.when(m == 16, "TWD").when(m.isin(10, 14), F.lit(None)).otherwise(
        F.lit(None).cast("string")
    )
    null_s = F.lit(None).cast("string")
    return orders.select(
        k.alias("id"),
        date_str.alias(S.TRANSACTION_DATE),
        null_s.alias(S.POSTING_DATE),
        null_s.alias(S.CONVERSION_DATE),
        merchant.alias(S.MERCHANT),
        location.alias(S.MERCHANT_LOCATION),
        currency.alias(S.CURRENCY_TYPE),
        amount_str.alias(S.AMOUNT),
        null_s.alias(S.CURRENCY_AMOUNT),
        null_s.alias(S.PAYMENT_AMOUNT),
        null_s.alias(S.PAYMENT_CURRENCY),
        card_str.alias(S.CARD_NO),
        base_year,
        bill_month,
    )


_RAW_SQL = """
    SELECT o_orderkey AS id,
      CASE (o_orderkey % 17)
        WHEN 0 THEN '(null)'
        WHEN 1 THEN 'nan'
        WHEN 2 THEN '12/30'
        WHEN 3 THEN '01/05'
        WHEN 4 THEN strftime(CAST(o_orderdate AS DATE), '%Y/%m/%d')
        ELSE strftime(CAST(o_orderdate AS DATE), '%m/%d')
      END AS date_str,
      CASE WHEN (o_orderkey % 17) IN (2, 3) THEN 2024
           ELSE year(CAST(o_orderdate AS DATE)) END AS base_year,
      CASE (o_orderkey % 17) WHEN 2 THEN 1 WHEN 3 THEN 12
           ELSE month(CAST(o_orderdate AS DATE)) END AS bill_month,
      CASE (o_orderkey % 17)
        WHEN 5 THEN '1,234'
        WHEN 6 THEN ' 567.80 '
        WHEN 7 THEN 'N/A'
        ELSE CAST(round(o_totalprice * 100) / 100.0 AS VARCHAR)
      END AS amount_str,
      CASE (o_orderkey % 17) WHEN 8 THEN '1234.0' WHEN 9 THEN 'nan'
           ELSE '9999' END AS card_str,
      CASE (o_orderkey % 17)
        WHEN 10 THEN 'JPN CHIYODA-KU'
        WHEN 11 THEN 'usa'
        WHEN 12 THEN ''
        WHEN 13 THEN 'GB'
        WHEN 14 THEN 'XYZ'
        ELSE 'TW'
      END AS location,
      CASE WHEN (o_orderkey % 17) = 15 THEN '信用卡繳款 THANK YOU'
           ELSE 'SHOP-' || CAST(o_orderkey % 50 AS VARCHAR) END AS merchant,
      CASE WHEN (o_orderkey % 17) = 16 THEN 'TWD' ELSE NULL END AS currency
    FROM orders
"""

#: ISO-3→2 map as SQL (twin of functions.cleanse.COUNTRY_3TO2).
_COUNTRY_CASE = """
    CASE tok
      WHEN 'TWN' THEN 'TW' WHEN 'USA' THEN 'US' WHEN 'JPN' THEN 'JP'
      WHEN 'KOR' THEN 'KR' WHEN 'HKG' THEN 'HK' WHEN 'SGP' THEN 'SG'
      WHEN 'GBR' THEN 'GB' WHEN 'CHN' THEN 'CN' WHEN 'IRL' THEN 'IE'
      WHEN 'DEU' THEN 'DE' WHEN 'FRA' THEN 'FR' WHEN 'AUS' THEN 'AU'
      WHEN 'VNM' THEN 'VN' WHEN 'THA' THEN 'TH' WHEN 'MYS' THEN 'MY'
      WHEN 'IDN' THEN 'ID' ELSE tok END
"""

_CLEANSE_ORACLE = f"""
WITH raw AS ({_RAW_SQL}),
dated AS (
  SELECT *,
    CASE
      WHEN trim(date_str) IN ('(null)', 'nan', '') THEN NULL
      WHEN len(string_split_regex(trim(date_str), '[/-]')) = 2 THEN
        make_date(
          CASE WHEN bill_month = 1
                    AND CAST(string_split_regex(trim(date_str), '[/-]')[1] AS INT) = 12
               THEN base_year - 1
               WHEN bill_month = 12
                    AND CAST(string_split_regex(trim(date_str), '[/-]')[1] AS INT) = 1
               THEN base_year + 1
               ELSE base_year END,
          CAST(string_split_regex(trim(date_str), '[/-]')[1] AS INT),
          CAST(string_split_regex(trim(date_str), '[/-]')[2] AS INT))
      WHEN len(string_split_regex(trim(date_str), '[/-]')) = 3 THEN
        CAST(replace(trim(date_str), '/', '-') AS DATE)
      ELSE NULL
    END AS txn_date
  FROM raw
),
kept AS (SELECT * FROM dated WHERE txn_date IS NOT NULL),
amts AS (
  SELECT *, TRY_CAST(replace(trim(amount_str), ',', '') AS DOUBLE) AS amount
  FROM kept
),
loc AS (
  SELECT *, CASE WHEN location IS NULL OR trim(location) = '' THEN 'TW'
                 ELSE {_COUNTRY_CASE.replace('tok',
                     "upper(string_split(trim(location), ' ')[1])")} END
            AS location_n
  FROM amts
)
SELECT id,
  txn_date AS "Transaction_Date",
  merchant AS "Merchant",
  location_n AS "Merchant_Location",
  CASE WHEN location_n = 'TW' AND NOT regexp_matches(merchant, '繳款|轉帳')
       THEN NULL
       WHEN location_n <> 'TW' AND currency IS NULL THEN 'TWD'
       ELSE currency END AS "Currency_Type",
  amount AS "Amount",
  amount AS "Payment_Amount",
  'TWD' AS "Payment_Currency",
  CASE WHEN regexp_replace(card_str, '\\.0$', '') IN ('nan', 'NaN', '')
       THEN NULL
       ELSE regexp_replace(card_str, '\\.0$', '') END AS "Card_No"
FROM loc
"""


@query("etl_general_cleanse", _CLEANSE_ORACLE)
def etl_general_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1-H6 + B6 over dirty raw strings: card-no float-artifact fix,
    year-attaching date parse with cross-year correction, null-date
    drop, comma-stripping numeric coercion, payment fills, country
    normalization, domestic scrub / foreign default."""
    raw = _synth_raw(spark, sf_dir)
    out = general_cleanse(raw)
    return out.select(
        "id",
        S.TRANSACTION_DATE,
        S.MERCHANT,
        S.MERCHANT_LOCATION,
        S.CURRENCY_TYPE,
        S.AMOUNT,
        S.PAYMENT_AMOUNT,
        S.PAYMENT_CURRENCY,
        S.CARD_NO,
    )


# ====================================================================
# H7 / H9 bank-specific parsers
# ====================================================================

_ESUN_RE = r"^(.*?)(?:\s{2,}|\t)(.*?)(?:\s+(\d{2}/\d{2}))?$"

_ESUN_ORACLE = f"""
WITH raw AS (
    SELECT o_orderkey AS id,
      CASE (o_orderkey % 6)
        WHEN 0 THEN 'AMAZON.CO.JP  JPN CHIYODA-KU 01/15'
        WHEN 1 THEN 'NETFLIX.COM' || chr(9) || 'USA LOS GATOS'
        WHEN 2 THEN 'APPLE.COM/BILL  IRL CORK 02/03'
        WHEN 3 THEN '全聯福利中心'
        WHEN 4 THEN '  PADDED DOMESTIC  '
        ELSE 'SHOP-' || CAST(o_custkey % 50 AS VARCHAR)
      END AS merchant
    FROM orders
),
t AS (SELECT id, trim(merchant) AS m FROM raw),
ext AS (
    SELECT id, m,
           regexp_matches(m, '{_ESUN_RE}') AS hit,
           regexp_extract(m, '{_ESUN_RE}', 1) AS g1,
           regexp_extract(m, '{_ESUN_RE}', 2) AS g2,
           regexp_extract(m, '{_ESUN_RE}', 3) AS g3
    FROM t
)
SELECT id,
       CASE WHEN hit AND g1 <> '' THEN trim(g1) ELSE m END AS "Merchant",
       CASE WHEN hit AND g2 <> '' THEN trim(g2) END AS "Consumption_Place",
       CASE WHEN hit AND g2 <> '' THEN trim(g2) END AS "Merchant_Location",
       CASE WHEN hit AND g3 <> '' THEN g3 END AS conversion_raw
FROM ext
"""


@query("etl_esun_foreign_split", _ESUN_ORACLE)
def etl_esun_foreign_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7 (etl.py:206-242): fused E.Sun foreign rows split into
    merchant / place / conversion-date via the reference regex; place
    copied into Merchant_Location (etl.py:349-357)."""
    from ..operators.bank_parse import parse_esun_details

    orders = load(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    merchant = (
        F.when(k % 6 == 0, "AMAZON.CO.JP  JPN CHIYODA-KU 01/15")
        .when(k % 6 == 1, F.concat(F.lit("NETFLIX.COM"), F.lit("\t"), F.lit("USA LOS GATOS")))
        .when(k % 6 == 2, "APPLE.COM/BILL  IRL CORK 02/03")
        .when(k % 6 == 3, "全聯福利中心")
        .when(k % 6 == 4, "  PADDED DOMESTIC  ")
        .otherwise(F.concat(F.lit("SHOP-"), (c % 50).cast("string")))
    )
    null_s = F.lit(None).cast("string")
    raw = orders.select(
        k.alias("id"),
        merchant.alias(S.MERCHANT),
        null_s.alias(S.CONSUMPTION_PLACE),
        null_s.alias(S.CONVERSION_DATE),
        null_s.alias(S.MERCHANT_LOCATION),
    )
    out = parse_esun_details(raw)
    return out.select(
        "id",
        S.MERCHANT,
        S.CONSUMPTION_PLACE,
        S.MERCHANT_LOCATION,
        F.col(S.CONVERSION_DATE).alias("conversion_raw"),
    )


_CUBE_ORACLE = """
WITH raw AS (
    SELECT o_orderkey AS id,
      CASE (o_orderkey % 5)
        WHEN 0 THEN 'TW / TWD'
        WHEN 1 THEN 'JPN CHIYODA-KU / JPY'
        WHEN 2 THEN 'usa / USD'
        WHEN 3 THEN ''
        ELSE NULL
      END AS rc
    FROM orders
),
parts AS (
    SELECT id, rc,
           string_split(rc, ' / ') AS p
    FROM raw
),
tok AS (
    SELECT id, rc, p,
           CASE WHEN rc IS NULL THEN NULL
                WHEN trim(p[1]) = '' THEN 'TW'
                ELSE upper(string_split(trim(p[1]), ' ')[1]) END AS t
    FROM parts
)
SELECT id,
       CASE WHEN rc IS NULL THEN NULL
            WHEN t = 'TWN' THEN 'TW' WHEN t = 'USA' THEN 'US'
            WHEN t = 'JPN' THEN 'JP' WHEN t = 'KOR' THEN 'KR'
            WHEN t = 'HKG' THEN 'HK' WHEN t = 'SGP' THEN 'SG'
            WHEN t = 'GBR' THEN 'GB' WHEN t = 'CHN' THEN 'CN'
            WHEN t = 'IRL' THEN 'IE' WHEN t = 'DEU' THEN 'DE'
            WHEN t = 'FRA' THEN 'FR' WHEN t = 'AUS' THEN 'AU'
            WHEN t = 'VNM' THEN 'VN' WHEN t = 'THA' THEN 'TH'
            WHEN t = 'MYS' THEN 'MY' WHEN t = 'IDN' THEN 'ID'
            ELSE t END AS "Merchant_Location",
       CASE WHEN rc IS NOT NULL AND len(p) >= 2 THEN trim(p[2]) END
           AS "Currency_Type"
FROM tok
"""


@query("etl_cube_split", _CUBE_ORACLE)
def etl_cube_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H9 (etl.py:245-254): Cathay ``消費地/幣別`` split into normalized
    country + currency; blank part → TW; missing raw → untouched."""
    from ..operators.bank_parse import parse_cube_details

    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    rc = (
        F.when(k % 5 == 0, "TW / TWD")
        .when(k % 5 == 1, "JPN CHIYODA-KU / JPY")
        .when(k % 5 == 2, "usa / USD")
        .when(k % 5 == 3, "")
        .otherwise(F.lit(None).cast("string"))
    )
    null_s = F.lit(None).cast("string")
    raw = orders.select(
        k.alias("id"),
        rc.alias(S.RAW_COUNTRY_CURRENCY),
        null_s.alias(S.MERCHANT_LOCATION),
        null_s.alias(S.CURRENCY_TYPE),
    )
    out = parse_cube_details(raw)
    return out.select("id", S.MERCHANT_LOCATION, S.CURRENCY_TYPE)


# ====================================================================
# E2 ordered forward-fill extraction
# ====================================================================

_FFILL_ORACLE = """
WITH f AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS path,
         event_id AS pos,
         CASE WHEN event_id % 7 = 0
              THEN '卡號：XXXX-XXXX-XXXX-'
                   || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
                   || '（KIND' || CAST(event_id % 5 AS VARCHAR) || '－正卡）'
              WHEN event_id % 11 = 0 THEN 'AUTO繳款 THANK YOU'
              ELSE 'SHOP-' || CAST(event_id % 50 AS VARCHAR)
         END AS merchant
  FROM events
),
filled AS (
  SELECT *,
    last_value(CASE WHEN regexp_matches(merchant, '卡號：') THEN merchant END
               IGNORE NULLS)
      OVER (PARTITION BY path ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS info
  FROM f
)
SELECT path, pos, merchant AS "Merchant",
  CASE WHEN regexp_matches(merchant, '繳款|轉帳') THEN NULL
       WHEN info IS NULL THEN NULL
       WHEN regexp_matches(info, '(\\d{4})（')
           THEN regexp_extract(info, '(\\d{4})（', 1) END AS "Card_No",
  CASE WHEN regexp_matches(merchant, '繳款|轉帳') THEN NULL
       WHEN info IS NULL THEN NULL
       WHEN regexp_matches(info, '（(.*?)－?(?:正卡|附卡)）')
           THEN regexp_extract(info, '（(.*?)－?(?:正卡|附卡)）', 1) END
      AS "Card_Type"
FROM filled
WHERE NOT regexp_matches(merchant, '卡號：')
"""


@query("etl_card_ffill", _FFILL_ORACLE)
def etl_card_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+H8+B11: master rows forward-filled in explicit (file, line)
    order, card number/type regex-extracted, payment rows force-cleared,
    master rows dropped — the real ``extract_card_info`` operator over
    ``events`` re-shaped as statement lines."""
    events = load(spark, sf_dir, "events")
    e = F.col("event_id")
    merchant = (
        F.when(
            e % 7 == 0,
            F.concat(
                F.lit("卡號：XXXX-XXXX-XXXX-"),
                F.lpad((e % 10000).cast("string"), 4, "0"),
                F.lit("（KIND"),
                (e % 5).cast("string"),
                F.lit("－正卡）"),
            ),
        )
        .when(e % 11 == 0, "AUTO繳款 THANK YOU")
        .otherwise(F.concat(F.lit("SHOP-"), (e % 50).cast("string")))
    )
    null_s = F.lit(None).cast("string")
    lines = events.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("path"),
        e.alias("pos"),
        F.lit("esun_bank").alias(S.BANK_NAME),
        merchant.alias(S.MERCHANT),
        null_s.alias(S.CARD_NO),
        null_s.alias(S.CARD_TYPE),
    )
    out = extract_card_info(lines)
    return out.select("path", "pos", S.MERCHANT, S.CARD_NO, S.CARD_TYPE)


# ====================================================================
# A1-A5 + B1 + B2 + A2 + G1: the real file-ingest path over a committed
# fixture directory (FIXTURES.md §1; reference etl.py:129-152 smart CSV,
# :259-335 per-file pipeline, :453-482 routing + union)
# ====================================================================

_FIXTURE_DIR = Path(__file__).resolve().parents[2] / "fixtures" / "statements"

#: Hand-derived expected parse of fixtures/statements/* (DuckDB cannot
#: decode cp950/Big5/HTML, so the cross-check is a pinned literal table
#: transcribed from the raw files by hand — byte-level provenance is in
#: the fixture files themselves, which are committed).
_INGEST_ORACLE = """
SELECT bank, CAST(pos AS BIGINT) AS pos,
       CAST(txn_date AS VARCHAR) AS txn_date,
       CAST(post_date AS VARCHAR) AS post_date,
       CAST(card_no AS VARCHAR) AS card_no,
       CAST(merchant AS VARCHAR) AS merchant,
       CAST(currency_amount AS VARCHAR) AS currency_amount,
       CAST(amount AS VARCHAR) AS amount,
       CAST(currency_type AS VARCHAR) AS currency_type,
       CAST(raw_country_currency AS VARCHAR) AS raw_country_currency,
       CAST(base_year AS INTEGER) AS base_year,
       CAST(bill_month AS INTEGER) AS bill_month
FROM (VALUES
('esun_bank', 3, '01/15', '01/16', NULL,
 '卡號：XXXX-XXXX-XXXX-1234（Unicard－正卡）', NULL, NULL, NULL, NULL, 2024, 1),
('esun_bank', 4, '01/10', '01/11', NULL, '全聯福利中心', NULL, '1,234',
 NULL, NULL, 2024, 1),
('esun_bank', 5, '12/30', '12/31', NULL, '星巴克咖啡', NULL, '200',
 NULL, NULL, 2024, 1),
('esun_bank', 6, '01/12', '01/13', NULL, 'AMAZON.CO.JP  JPN CHIYODA-KU 01/15',
 '1,500.50', '450', NULL, NULL, 2024, 1),
('esun_bank', 7, '01/20', '01/21', NULL, '信用卡繳款感謝您 轉帳', NULL,
 '-5000', NULL, NULL, 2024, 1),
('cube_bank', 2, '02/01', '02/02', '5678/9012', 'ＬＩＮＥ　ＰＡＹ全家便利商店',
 NULL, '150', NULL, 'TW / TWD', 2024, 2),
('cube_bank', 3, '02/05', '02/06', '5678/9012', 'AMAZON JAPAN',
 NULL, '3000', NULL, 'JPN TOKYO / JPY', 2024, 2),
('cube_bank', 4, '2024/02/10', '02/11', '1111', '誠品書店',
 NULL, '500', NULL, NULL, 2024, 2),
('ctbc_bank', 2, '03/05', '03/06', '2222', '麥當勞', NULL, '180',
 NULL, NULL, 2024, 3),
('ctbc_bank', 3, '03/08', '03/09', '2222', 'UBER EATS', NULL, '250',
 NULL, NULL, 2024, 3),
('hncb_bank', 1, '04/01', '04/02', '', '旅鉅卡************3333', NULL, '',
 NULL, NULL, 2024, 4),
('hncb_bank', 2, '04/03', '04/04', '', '家樂福', NULL, '890',
 NULL, NULL, 2024, 4)
) AS t(bank, pos, txn_date, post_date, card_no, merchant, currency_amount,
       amount, currency_type, raw_country_currency, base_year, bill_month)
"""


@query("ingest_statement_files", _INGEST_ORACLE)
def ingest_statement_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+A3+A4+A5+B1+B2 (etl.py:129-152,259-335,453-482): the
    distributed bytes→lines→header-detect→mapping-projection ingest over
    the committed fixture directory — one binaryFile scan, per-bank
    routing by filename keyword, utf-8/cp950/big5 decode, HTML table
    flattening, per-file keyword header detection and raw→canonical
    projection, all banks in one frame.  The fixture dir is constant
    (sf-independent) so the expected parse is a pinned literal table."""
    raw = statement_lines(spark, str(_FIXTURE_DIR))
    return raw.select(
        F.col(S.BANK_NAME).alias("bank"),
        F.col("pos").cast("long").alias("pos"),
        F.col(S.TRANSACTION_DATE).alias("txn_date"),
        F.col(S.POSTING_DATE).alias("post_date"),
        F.col(S.CARD_NO).alias("card_no"),
        F.col(S.MERCHANT).alias("merchant"),
        F.col(S.CURRENCY_AMOUNT).alias("currency_amount"),
        F.col(S.AMOUNT).alias("amount"),
        F.col(S.CURRENCY_TYPE).alias("currency_type"),
        F.col(S.RAW_COUNTRY_CURRENCY).alias("raw_country_currency"),
        F.col("base_year").cast("int").alias("base_year"),
        F.col("bill_month").cast("int").alias("bill_month"),
    )


# ====================================================================
# A6 Excel ingest (vendored stdlib .xlsx reader; etl.py:312-316)
# ====================================================================

def _data_row_index() -> F.Column:
    """``pos`` counted from 0 at the first data row: the workbook
    fixtures carry their header on line 0."""
    return (F.col("pos") - 1).alias("pos")


_EXCEL_SPEC = BankSpec(
    bank_id="fubon_bank",
    keywords=["富邦"],
    header_keyword=None,
    columns_mapping={
        "交易日期": S.TRANSACTION_DATE,
        "入帳日期": S.POSTING_DATE,
        "卡號末四碼": S.CARD_NO,
        "交易說明": S.MERCHANT,
        "臺幣金額": S.AMOUNT,
    },
)

_EXCEL_ORACLE = """
SELECT bank, CAST(pos AS BIGINT) AS pos,
       CAST(txn_date AS VARCHAR) AS txn_date,
       CAST(card_no AS VARCHAR) AS card_no,
       CAST(merchant AS VARCHAR) AS merchant,
       CAST(amount AS VARCHAR) AS amount,
       CAST(base_year AS INTEGER) AS base_year,
       CAST(bill_month AS INTEGER) AS bill_month
FROM (VALUES
('fubon_bank', 0, '05/02', '7777', '咖啡店', '120', 2024, 5),
('fubon_bank', 1, '05/06', '7777', '誠品 書店', '1,350', 2024, 5),
('fubon_bank', 2, '05/09', '', '富邦momo購物', '899', 2024, 5)
) AS t(bank, pos, txn_date, card_no, merchant, amount, base_year, bill_month)
"""


@query("ingest_excel_statement", _EXCEL_ORACLE)
def ingest_excel_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (etl.py:312-316): Excel statement ingest through the one
    statement parser, which reads the workbook with the vendored stdlib
    .xlsx reader (sources/xlsx.py), checked against the hand-transcribed
    content of the committed fixture workbook."""
    df = statement_lines(
        spark, str(_FIXTURE_DIR / "富邦_202405.xlsx"), [_EXCEL_SPEC]
    )
    return df.select(
        F.col(S.BANK_NAME).alias("bank"),
        _data_row_index(),
        F.col(S.TRANSACTION_DATE).alias("txn_date"),
        F.col(S.CARD_NO).alias("card_no"),
        F.col(S.MERCHANT).alias("merchant"),
        F.col(S.AMOUNT).alias("amount"),
        F.col("base_year").cast("int").alias("base_year"),
        F.col("bill_month").cast("int").alias("bill_month"),
    )


# ====================================================================
# A6 legacy OLE2 .xls ingest (vendored stdlib BIFF8 reader; etl.py:312-316)
# ====================================================================

_XLS_SPEC = BankSpec(
    bank_id="taishin_bank",
    keywords=["台新"],
    header_keyword=None,
    columns_mapping={
        "消費日": S.TRANSACTION_DATE,
        "卡號末四碼": S.CARD_NO,
        "消費明細": S.MERCHANT,
        "新臺幣金額": S.AMOUNT,
    },
)

_XLS_ORACLE = """
SELECT bank, CAST(pos AS BIGINT) AS pos,
       CAST(txn_date AS VARCHAR) AS txn_date,
       CAST(card_no AS VARCHAR) AS card_no,
       CAST(merchant AS VARCHAR) AS merchant,
       CAST(amount AS VARCHAR) AS amount,
       CAST(base_year AS INTEGER) AS base_year,
       CAST(bill_month AS INTEGER) AS bill_month
FROM (VALUES
('taishin_bank', 0, '06/01', '4321', '超商 寄杯', '55', 2024, 6),
('taishin_bank', 1, '06/03', '4321', '高鐵 台北-左營', '1490', 2024, 6),
('taishin_bank', 2, '06/07', '', '台新Richart轉帳回饋', '-120', 2024, 6),
('taishin_bank', 3, '06/15', '8765', '書店  文具', '2,480', 2024, 6)
) AS t(bank, pos, txn_date, card_no, merchant, amount, base_year, bill_month)
"""


@query("ingest_xls_statement", _XLS_ORACLE)
def ingest_xls_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (etl.py:312-316): legacy binary .xls statement ingest.  The
    OLE2 container is sniffed by magic bytes and parsed by the vendored
    stdlib BIFF8 reader (sources/xls.py — [MS-CFB]/[MS-XLS], SST/
    LABELSST/NUMBER/RK records), checked against the hand-transcribed
    content of the committed fixture workbook (tools/make_xls_fixture.py
    regenerates it)."""
    df = statement_lines(
        spark, str(_FIXTURE_DIR.parent / "台新_202406.xls"), [_XLS_SPEC]
    )
    return df.select(
        F.col(S.BANK_NAME).alias("bank"),
        _data_row_index(),
        F.col(S.TRANSACTION_DATE).alias("txn_date"),
        F.col(S.CARD_NO).alias("card_no"),
        F.col(S.MERCHANT).alias("merchant"),
        F.col(S.AMOUNT).alias("amount"),
        F.col("base_year").cast("int").alias("base_year"),
        F.col("bill_month").cast("int").alias("bill_month"),
    )

"""RFM query family — operators D1-D4, D7, C5, C6, E1, I2-I4, B7-B10, F1.

Three registered queries re-expressing the reference's three analytics
jobs over the driver corpus:

* ``rfm_customer_dual_window`` — db_to_RFManalysis.py:236-268 shape
  (dual window, rank, fill, segment) grouped by customer.
* ``rfm_payment_method``      — db_to_Payment_RFM.py:107-179 (C5 prefix
  lookup → B7 exclusion → dual-window RFM → I3 label).
* ``rfm_card_portfolio``      — db_to_card_RFM.py:76-158 (B7+B9 filters
  → B10 trailing-365d window → single-window RFM with f/m ranks only →
  D7 avg_ticket → I4 label).

The payment/card jobs need transaction-shaped inputs (merchant names
with payment prefixes, bank/card labels); those columns are synthesized
*deterministically* from integer key arithmetic over ``orders`` with the
identical expressions on the Spark and DuckDB sides, so the oracle
compares real operator output, not synthesis noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import payments as pay_ops
from ..operators import rfm as rfm_ops
from . import load, pct_rank_sql, query, scoped_pct_rank_sql

# ====================================================================
# Synthetic transaction fact (shared by payment/card RFM)
# ====================================================================

#: In-code payment_gateway.csv-like rule table for C5.  The last two
#: rules are deliberately excluded by the Priority >= 20 gate (10 < 20;
#: blank priority = pandas NaN which compares False —
#: db_to_Payment_RFM.py:52) so the oracle exercises the gate itself.
PAYMENT_RULES: list[dict[str, str]] = [
    {"Pattern": "LinePay－", "Prefix_Label": "LinePay－", "Category": "Line Pay", "Priority": "30"},
    {"Pattern": "Line－", "Prefix_Label": "Line－", "Category": "Line Pay", "Priority": "25"},
    {"Pattern": "街口支付－", "Prefix_Label": "街口支付－", "Category": "街口支付", "Priority": "20"},
    {"Pattern": "ApplePay－", "Prefix_Label": "ApplePay－", "Category": "Apple Pay", "Priority": "10"},
    {"Pattern": "PiWallet－", "Prefix_Label": "PiWallet－", "Category": "Pi 拍錢包", "Priority": ""},
]

_EXCLUDE_SQL = (
    "NOT regexp_matches(transaction_type,"
    " '繳款|折抵|各項費用|手續費|年費|利息')"
)

#: DuckDB twin of :func:`synth_transactions` — keep in lockstep.
SYNTH_FACT_SQL = """
    SELECT o_orderkey AS transaction_id,
           CAST(o_orderdate AS DATE) AS d,
           CAST(round(o_totalprice * 100) AS BIGINT) AS amt,
           CASE WHEN o_orderkey % 37 = 0 THEN '繳款'
                WHEN o_orderkey % 37 = 1 THEN '手續費'
                ELSE '一般消費' END AS transaction_type,
           CASE WHEN o_orderkey % 10 = 0
                    THEN 'LinePay－STORE-' || CAST(o_custkey % 20 AS VARCHAR)
                WHEN o_orderkey % 10 = 1
                    THEN 'Line－SHOP-' || CAST(o_custkey % 20 AS VARCHAR)
                WHEN o_orderkey % 10 = 2
                    THEN '街口支付－FOOD-' || CAST(o_custkey % 20 AS VARCHAR)
                WHEN o_orderkey % 10 = 3
                    THEN 'ApplePay－APP-' || CAST(o_custkey % 20 AS VARCHAR)
                WHEN o_orderkey % 10 = 4
                    THEN 'PiWallet－PI-' || CAST(o_custkey % 20 AS VARCHAR)
                ELSE 'MERCHANT-' || CAST(o_custkey % 100 AS VARCHAR)
           END AS merchant_name,
           'BANK-' || CAST(o_custkey % 4 AS VARCHAR) AS bank_name,
           CASE WHEN o_custkey % 5 = 0 THEN NULL
                WHEN o_custkey % 5 = 1 THEN ''
                ELSE 'CARD-' || CAST(o_custkey % 11 AS VARCHAR)
           END AS card_name
    FROM orders
"""


def synth_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transaction fact derived from ``orders`` (twin of
    ``SYNTH_FACT_SQL``)."""
    orders = load(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")

    def tag(prefix: str, stem: str, mod: int = 20) -> F.Column:
        return F.concat(F.lit(prefix + stem), (c % mod).cast("string"))

    merchant = (
        F.when(k % 10 == 0, tag("LinePay－", "STORE-"))
        .when(k % 10 == 1, tag("Line－", "SHOP-"))
        .when(k % 10 == 2, tag("街口支付－", "FOOD-"))
        .when(k % 10 == 3, tag("ApplePay－", "APP-"))
        .when(k % 10 == 4, tag("PiWallet－", "PI-"))
        .otherwise(F.concat(F.lit("MERCHANT-"), (c % 100).cast("string")))
    )
    ttype = (
        F.when(k % 37 == 0, "繳款")
        .when(k % 37 == 1, "手續費")
        .otherwise("一般消費")
    )
    card = (
        F.when(c % 5 == 0, F.lit(None).cast("string"))
        .when(c % 5 == 1, F.lit(""))
        .otherwise(F.concat(F.lit("CARD-"), (c % 11).cast("string")))
    )
    return orders.select(
        k.alias("transaction_id"),
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("amt"),
        ttype.alias("transaction_type"),
        merchant.alias("merchant_name"),
        F.concat(F.lit("BANK-"), (c % 4).cast("string")).alias("bank_name"),
        card.alias("card_name"),
    )


# ====================================================================
# Customer RFM (flagship — dual window, operators D1+D3+D4+C6+E1+I2)
# ====================================================================

_RFM_CUSTOMER_ORACLE = f"""
WITH fact AS (
    SELECT o_custkey AS custkey,
           o_orderkey AS id,
           CAST(o_orderdate AS DATE) AS d,
           CAST(round(o_totalprice * 100) AS BIGINT) AS amt
    FROM orders
),
mx AS (SELECT max(d) + 1 AS analysis_date FROM fact),
agg AS (
    SELECT custkey,
           CAST(date_diff('day', max(d), (SELECT analysis_date FROM mx))
               AS BIGINT) AS life_recency_days,
           count(DISTINCT id) AS life_frequency,
           sum(amt) AS life_mon_cents,
           CAST(date_diff('day',
                max(CASE WHEN d >= (SELECT analysis_date FROM mx) - 365
                         THEN d END),
                (SELECT analysis_date FROM mx)) AS BIGINT)
               AS short_recency_raw,
           count(DISTINCT CASE WHEN d >= (SELECT analysis_date FROM mx) - 365
                               THEN id END) AS short_freq_raw,
           sum(CASE WHEN d >= (SELECT analysis_date FROM mx) - 365 THEN amt END)
               AS short_mon_cents
    FROM fact
    GROUP BY custkey
),
norm AS (
    SELECT custkey, life_recency_days, life_frequency, life_mon_cents,
           short_recency_raw,
           CASE WHEN short_recency_raw IS NOT NULL THEN short_freq_raw END
               AS short_freq_n,
           short_mon_cents
    FROM agg
),
ranked AS (
    SELECT *,
           {pct_rank_sql('life_recency_days', False)} AS life_r_rank,
           {pct_rank_sql('life_frequency', True)} AS life_f_rank,
           {pct_rank_sql('life_mon_cents', True)} AS life_m_rank,
           {scoped_pct_rank_sql('short_recency_raw', False)} AS short_r_rank_n,
           {scoped_pct_rank_sql('short_freq_n', True)} AS short_f_rank_n,
           {scoped_pct_rank_sql('short_mon_cents', True)} AS short_m_rank_n
    FROM norm
),
filled AS (
    SELECT custkey, life_recency_days, life_frequency,
           life_mon_cents / 100.0 AS life_monetary,
           COALESCE(short_recency_raw, 9999) AS short_recency_days,
           COALESCE(short_freq_n, 0) AS short_frequency,
           COALESCE(short_mon_cents, 0) / 100.0 AS short_monetary,
           life_r_rank, life_f_rank, life_m_rank,
           COALESCE(short_r_rank_n, 0) AS short_r_rank,
           COALESCE(short_f_rank_n, 0) AS short_f_rank,
           COALESCE(short_m_rank_n, 0) AS short_m_rank
    FROM ranked
)
SELECT *,
       CASE
         WHEN life_m_rank >= 0.8 AND short_frequency > 0 THEN '核心商家 (Core)'
         WHEN life_m_rank >= 0.8 THEN '流失高價值 (Churned VIP)'
         WHEN short_frequency > 0 AND short_m_rank >= 0.8
             THEN '潛力新星 (Rising Star)'
         WHEN short_frequency > 0 THEN '一般活躍 (Active)'
         ELSE '沉睡商家 (Dormant)'
       END AS segment
FROM filled
"""


@query("rfm_customer_dual_window", _RFM_CUSTOMER_ORACLE)
def rfm_customer_dual_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer RFM with lifetime + trailing-365d windows in one pass.

    Re-expresses the reference's merchant-RFM lifecycle
    (db_to_RFManalysis.py:236-268: dual aggregate, left join, rank,
    fill, segment) over the `orders` fact, grouped by customer.
    Single shuffle (conditional aggregation), rank join is broadcast.
    """
    orders = load(spark, sf_dir, "orders")
    fact = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("id"),
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("amt"),
    )
    res = rfm_ops.rfm_dual_window(
        fact, ["custkey"], date_col="d", id_col="id", amount_col="amt"
    )
    return res.select(
        F.col("custkey"),
        F.col("life_recency_days").cast("long").alias("life_recency_days"),
        F.col("life_frequency").cast("long").alias("life_frequency"),
        (F.col("life_monetary") / 100.0).alias("life_monetary"),
        F.col("short_recency_days").cast("long").alias("short_recency_days"),
        F.col("short_frequency").cast("long").alias("short_frequency"),
        (F.col("short_monetary") / 100.0).alias("short_monetary"),
        F.col("life_r_rank").cast("double"),
        F.col("life_f_rank").cast("double"),
        F.col("life_m_rank").cast("double"),
        F.col("short_r_rank").cast("double"),
        F.col("short_f_rank").cast("double"),
        F.col("short_m_rank").cast("double"),
        rfm_ops.label_merchant_segment().alias("segment"),
    )


# ====================================================================
# Payment-method RFM (C5 + B7 + D1/D3 + E1 + I3)
# ====================================================================

_PAYMENT_METHOD_SQL = """
    CASE WHEN starts_with(trim(merchant_name), 'LinePay－') THEN 'Line Pay'
         WHEN starts_with(trim(merchant_name), 'Line－') THEN 'Line Pay'
         WHEN starts_with(trim(merchant_name), '街口支付－') THEN '街口支付'
         ELSE '實體卡/其他' END
"""

_RFM_PAYMENT_ORACLE = f"""
WITH fact AS ({SYNTH_FACT_SQL}),
tagged AS (
    SELECT *, {_PAYMENT_METHOD_SQL} AS payment_method
    FROM fact
),
clean AS (SELECT * FROM tagged WHERE {_EXCLUDE_SQL}),
mx AS (SELECT max(d) + 1 AS analysis_date FROM clean),
agg AS (
    SELECT payment_method,
           CAST(date_diff('day', max(d), (SELECT analysis_date FROM mx))
               AS BIGINT) AS life_recency_days,
           count(DISTINCT transaction_id) AS life_frequency,
           sum(amt) AS life_mon_cents,
           CAST(date_diff('day',
                max(CASE WHEN d >= (SELECT analysis_date FROM mx) - 365
                         THEN d END),
                (SELECT analysis_date FROM mx)) AS BIGINT)
               AS short_recency_raw,
           count(DISTINCT CASE WHEN d >= (SELECT analysis_date FROM mx) - 365
                               THEN transaction_id END) AS short_freq_raw,
           sum(CASE WHEN d >= (SELECT analysis_date FROM mx) - 365 THEN amt END)
               AS short_mon_cents
    FROM clean
    GROUP BY payment_method
),
norm AS (
    SELECT payment_method, life_recency_days, life_frequency, life_mon_cents,
           short_recency_raw,
           CASE WHEN short_recency_raw IS NOT NULL THEN short_freq_raw END
               AS short_freq_n,
           short_mon_cents
    FROM agg
),
ranked AS (
    SELECT *,
           {pct_rank_sql('life_recency_days', False)} AS life_r_rank,
           {pct_rank_sql('life_frequency', True)} AS life_f_rank,
           {pct_rank_sql('life_mon_cents', True)} AS life_m_rank,
           {scoped_pct_rank_sql('short_recency_raw', False)} AS short_r_rank_n,
           {scoped_pct_rank_sql('short_freq_n', True)} AS short_f_rank_n,
           {scoped_pct_rank_sql('short_mon_cents', True)} AS short_m_rank_n
    FROM norm
),
filled AS (
    SELECT payment_method, life_recency_days, life_frequency,
           life_mon_cents / 100.0 AS life_monetary,
           COALESCE(short_recency_raw, 9999) AS short_recency_days,
           COALESCE(short_freq_n, 0) AS short_frequency,
           COALESCE(short_mon_cents, 0) / 100.0 AS short_monetary,
           life_r_rank, life_f_rank, life_m_rank,
           COALESCE(short_r_rank_n, 0) AS short_r_rank,
           COALESCE(short_f_rank_n, 0) AS short_f_rank,
           COALESCE(short_m_rank_n, 0) AS short_m_rank
    FROM ranked
)
SELECT *,
       CASE
         WHEN life_f_rank >= 0.7 AND short_frequency > 0
             THEN '主力支付 (Main Wallet)'
         WHEN life_f_rank >= 0.7 THEN '已棄用支付 (Abandoned)'
         WHEN short_frequency > 0 THEN '輔助支付 (Backup)'
         ELSE '冷門支付 (Rare)'
       END AS segment
FROM filled
"""


@query("rfm_payment_method", _RFM_PAYMENT_ORACLE)
def rfm_payment_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-method RFM (db_to_Payment_RFM.py:107-179).

    C5 longest-prefix lookup (incl. the Priority>=20 gate with the
    pandas-NaN exclusion), B7 exclusion, one-shuffle dual-window RFM,
    pandas ranks, I3 segmentation.
    """
    fact = synth_transactions(spark, sf_dir)
    df = pay_ops.identify_payment_method(
        fact, PAYMENT_RULES, merchant_col="merchant_name", out="payment_method"
    )
    df = rfm_ops.exclude_bank_noise(df)
    res = rfm_ops.rfm_dual_window(
        df,
        ["payment_method"],
        date_col="d",
        id_col="transaction_id",
        amount_col="amt",
    )
    return res.select(
        F.col("payment_method"),
        F.col("life_recency_days").cast("long"),
        F.col("life_frequency").cast("long"),
        (F.col("life_monetary") / 100.0).alias("life_monetary"),
        F.col("short_recency_days").cast("long"),
        F.col("short_frequency").cast("long"),
        (F.col("short_monetary") / 100.0).alias("short_monetary"),
        F.col("life_r_rank").cast("double"),
        F.col("life_f_rank").cast("double"),
        F.col("life_m_rank").cast("double"),
        F.col("short_r_rank").cast("double"),
        F.col("short_f_rank").cast("double"),
        F.col("short_m_rank").cast("double"),
        rfm_ops.label_payment_segment().alias("segment"),
    )


# ====================================================================
# Card-portfolio RFM (B7 + B9 + B10 + D2 + D4 + D7 + E1 + I4 + F1)
# ====================================================================

_RFM_CARD_ORACLE = f"""
WITH fact AS ({SYNTH_FACT_SQL}),
clean AS (
    SELECT * FROM fact
    WHERE {_EXCLUDE_SQL}
      AND card_name IS NOT NULL AND card_name <> ''
),
mx AS (SELECT max(d) AS latest FROM clean),
win AS (
    SELECT * FROM clean WHERE d >= (SELECT latest FROM mx) - 365
),
agg AS (
    SELECT bank_name, card_name,
           CAST(date_diff('day', max(d), (SELECT latest FROM mx) + 1)
               AS BIGINT) AS recency_days,
           count(DISTINCT transaction_id) AS frequency,
           sum(amt) AS mon_cents
    FROM win
    GROUP BY bank_name, card_name
),
ranked AS (
    SELECT *,
           {pct_rank_sql('frequency', True)} AS f_rank,
           {pct_rank_sql('mon_cents', True)} AS m_rank
    FROM agg
)
SELECT bank_name, card_name, recency_days, frequency,
       mon_cents / 100.0 AS monetary,
       f_rank, m_rank,
       CAST(trunc((mon_cents / 100.0) / frequency) AS BIGINT) AS avg_ticket,
       CASE WHEN recency_days > 180 THEN '❄️ 冷凍/沉睡卡 (Dormant)'
            WHEN f_rank >= 0.5 AND m_rank >= 0.5 THEN '👑 主力攻擊手 (Main Driver)'
            WHEN f_rank < 0.5 AND m_rank >= 0.5 THEN '🎯 狙擊手 (Sniper)'
            WHEN f_rank >= 0.5 AND m_rank < 0.5 THEN '🔄 後勤補給 (Utility)'
            ELSE '📉 低效冗餘 (Inefficient)' END AS segment
FROM ranked
"""


@query("rfm_card_portfolio", _RFM_CARD_ORACLE)
def rfm_card_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Card RFM (db_to_card_RFM.py:76-158).

    B7 noise + B9 unknown-card filters, B10 trailing-365d window
    anchored at the post-filter max date (D4), grouped by
    (bank, card) with f/m pandas ranks only, D7 truncating avg_ticket,
    I4 role matrix, F1 monetary-desc output sort.
    """
    fact = synth_transactions(spark, sf_dir)
    clean = rfm_ops.exclude_bank_noise(fact).where(
        F.col("card_name").isNotNull() & (F.col("card_name") != "")
    )
    # max(d) over the window equals max(d) over ``clean``, so the
    # aggregate's own analysis date is the window's anchor + 1 day
    agg = rfm_ops.rfm_aggregate(
        rfm_ops.trailing_window(clean, "d"),
        ["bank_name", "card_name"],
        date_col="d",
        id_col="transaction_id",
        amount_col="amt",
        rank_metrics=("f", "m"),
    )
    agg = agg.withColumn("monetary", F.col("monetary") / 100.0)
    agg = rfm_ops.with_avg_ticket(agg)
    return agg.select(
        "bank_name",
        "card_name",
        F.col("recency_days").cast("long"),
        F.col("frequency").cast("long"),
        "monetary",
        F.col("f_rank").cast("double"),
        F.col("m_rank").cast("double"),
        "avg_ticket",
        rfm_ops.label_card_segment().alias("segment"),
    ).orderBy(F.desc("monetary"))

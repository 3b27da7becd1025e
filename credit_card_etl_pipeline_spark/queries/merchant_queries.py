"""Merchant-resolution query family — operators C4, B7, B8, D5, D6, F2.

``merchant_resolve_hybrid`` drives the RFM job's three-stage resolver
(db_to_RFManalysis.py:105-134: longest-prefix strip → exact lookup →
priority-ordered regex scan → Unknown fallback) plus the B7/B8
exclusion filters and a per-merchant aggregate.  The companion
diagnostics mirror the reference's inline checks: the top-unknown table
(db_to_RFManalysis.py:211-228, D6), the unknown-category rate, and the
payment-method frequency preview (db_to_Payment_RFM.py:127, D5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import payments as pay_ops
from ..operators import rfm as rfm_ops
from ..operators.merchants import resolve_merchant_hybrid
from . import query
from .rfm_queries import PAYMENT_RULES, SYNTH_FACT_SQL, synth_transactions

#: merchants.csv-schema rules for C4 (db_to_RFManalysis.py:59-99).
#: Rule 3 carries RFM_Exclusion=True so B8 is exercised.
HYBRID_MERCHANT_RULES: list[dict[str, str]] = [
    {"Pattern": "^STORE-\\d+$", "Replacement": "STORE-3", "Priority": "50",
     "Category": "Cafe", "Sub_Category": "Chain", "RFM_Exclusion": "False"},
    {"Pattern": "^FOOD-1?\\d$", "Replacement": "FoodCourt", "Priority": "40",
     "Category": "Food", "Sub_Category": "", "RFM_Exclusion": "False"},
    {"Pattern": "^MERCHANT-9\\d$", "Replacement": "BigMart", "Priority": "30",
     "Category": "Retail", "Sub_Category": "Mart", "RFM_Exclusion": "True"},
]

#: Stage-1 strip list = every configured prefix label (the reference
#: loads ALL Prefix_Labels for stripping — db_to_RFManalysis.py:43-46).
STRIP_PREFIXES = [r["Prefix_Label"] for r in PAYMENT_RULES]

_EXCLUDE_SQL = (
    "NOT regexp_matches(transaction_type,"
    " '繳款|折抵|各項費用|手續費|年費|利息')"
)

# Prefix strip in length-descending order; substr offsets = len+1
# (character counts: ApplePay－/PiWallet－=9, LinePay－=8, 街口支付－/Line－=5).
_STRIP_SQL = """
    trim(CASE
      WHEN starts_with(mn, 'ApplePay－') THEN substr(mn, 10)
      WHEN starts_with(mn, 'PiWallet－') THEN substr(mn, 10)
      WHEN starts_with(mn, 'LinePay－') THEN substr(mn, 9)
      WHEN starts_with(mn, '街口支付－') THEN substr(mn, 6)
      WHEN starts_with(mn, 'Line－') THEN substr(mn, 6)
      ELSE mn END)
"""

#: Resolver CTE shared by the hybrid + diagnostics oracles.  Exact
#: lookup (stage 2) first, regex scan (stage 3) for misses, Unknown
#: fallback (stage 4) — independent SQL derivation of the reference
#: semantics.
_RESOLVED_SQL = f"""
fact AS ({SYNTH_FACT_SQL}),
stripped AS (
    SELECT *, {_STRIP_SQL} AS sname
    FROM (SELECT *, trim(coalesce(merchant_name, '')) AS mn FROM fact)
),
resolved AS (
    SELECT *,
      CASE WHEN sname IN ('STORE-3', 'FoodCourt', 'BigMart') THEN sname
           WHEN regexp_matches(sname, '(?i)^STORE-\\d+$') THEN 'STORE-3'
           WHEN regexp_matches(sname, '(?i)^FOOD-1?\\d$') THEN 'FoodCourt'
           WHEN regexp_matches(sname, '(?i)^MERCHANT-9\\d$') THEN 'BigMart'
           WHEN merchant_name IS NULL THEN 'Unknown'
           WHEN sname <> '' THEN sname
           ELSE coalesce(merchant_name, '') END AS clean_merchant_name,
      CASE WHEN sname = 'STORE-3' THEN 'Cafe'
           WHEN sname = 'FoodCourt' THEN 'Food'
           WHEN sname = 'BigMart' THEN 'Retail'
           WHEN regexp_matches(sname, '(?i)^STORE-\\d+$') THEN 'Cafe'
           WHEN regexp_matches(sname, '(?i)^FOOD-1?\\d$') THEN 'Food'
           WHEN regexp_matches(sname, '(?i)^MERCHANT-9\\d$') THEN 'Retail'
           ELSE 'Unknown' END AS category,
      CASE WHEN sname = 'STORE-3' THEN 'Chain'
           WHEN sname = 'FoodCourt' THEN ''
           WHEN sname = 'BigMart' THEN 'Mart'
           WHEN regexp_matches(sname, '(?i)^STORE-\\d+$') THEN 'Chain'
           WHEN regexp_matches(sname, '(?i)^FOOD-1?\\d$') THEN ''
           WHEN regexp_matches(sname, '(?i)^MERCHANT-9\\d$') THEN 'Mart'
           ELSE '' END AS sub_category,
      CASE WHEN sname = 'BigMart' THEN TRUE
           WHEN sname IN ('STORE-3', 'FoodCourt') THEN FALSE
           WHEN regexp_matches(sname, '(?i)^MERCHANT-9\\d$') THEN TRUE
           ELSE FALSE END AS rfm_exclusion
    FROM stripped
)
"""

_HYBRID_ORACLE = f"""
WITH {_RESOLVED_SQL}
SELECT clean_merchant_name,
       category AS "Category",
       sub_category AS "Sub_Category",
       count(DISTINCT transaction_id) AS n_txn,
       sum(amt) / 100.0 AS monetary
FROM resolved
WHERE {_EXCLUDE_SQL} AND NOT rfm_exclusion
GROUP BY 1, 2, 3
"""


@query("merchant_resolve_hybrid", _HYBRID_ORACLE)
def merchant_resolve_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 three-stage resolver + B7/B8 filters + per-merchant aggregate.

    Every stage is an expression over a literal rule table, with no
    join — one shuffle total (the final groupBy).
    """
    fact = synth_transactions(spark, sf_dir)
    df = resolve_merchant_hybrid(
        fact, HYBRID_MERCHANT_RULES, STRIP_PREFIXES, merchant_col="merchant_name"
    )
    df = rfm_ops.exclude_bank_noise(df).where(~F.col("RFM_Exclusion"))
    return df.groupBy("clean_merchant_name", "Category", "Sub_Category").agg(
        F.countDistinct("transaction_id").cast("long").alias("n_txn"),
        (F.sum("amt") / 100.0).alias("monetary"),
    )


_UNKNOWN_ORACLE = f"""
WITH {_RESOLVED_SQL}
SELECT clean_merchant_name,
       count(transaction_id) AS n_txn,
       sum(amt) / 100.0 AS monetary
FROM resolved
WHERE {_EXCLUDE_SQL} AND NOT rfm_exclusion AND category = 'Unknown'
GROUP BY 1
ORDER BY n_txn DESC, clean_merchant_name
LIMIT 10
"""


@query("merchant_unknown_top10", _UNKNOWN_ORACLE)
def merchant_unknown_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 + F2: top-10 unresolved merchants by row count (ties broken by
    name so the limit boundary is deterministic across engines)."""
    fact = synth_transactions(spark, sf_dir)
    df = resolve_merchant_hybrid(
        fact, HYBRID_MERCHANT_RULES, STRIP_PREFIXES, merchant_col="merchant_name"
    )
    df = rfm_ops.exclude_bank_noise(df).where(
        ~F.col("RFM_Exclusion") & (F.col("Category") == "Unknown")
    )
    return (
        df.groupBy("clean_merchant_name")
        .agg(
            F.count("transaction_id").cast("long").alias("n_txn"),
            (F.sum("amt") / 100.0).alias("monetary"),
        )
        .orderBy(F.desc("n_txn"), F.asc("clean_merchant_name"))
        .limit(10)
    )


_UNKNOWN_RATE_ORACLE = f"""
WITH {_RESOLVED_SQL},
clean AS (
    SELECT * FROM resolved WHERE {_EXCLUDE_SQL} AND NOT rfm_exclusion
)
SELECT CAST(count(CASE WHEN category = 'Unknown' THEN 1 END) AS BIGINT)
           AS unknown_count,
       CAST(count(*) AS BIGINT) AS total_count,
       count(CASE WHEN category = 'Unknown' THEN 1 END) * 100.0 / count(*)
           AS unknown_rate_pct
FROM clean
"""


@query("merchant_unknown_rate", _UNKNOWN_RATE_ORACLE)
def merchant_unknown_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 (db_to_RFManalysis.py:211-219): scalar unknown-category rate
    after the exclusion filters — the resolver's quality diagnostic."""
    fact = synth_transactions(spark, sf_dir)
    df = resolve_merchant_hybrid(
        fact, HYBRID_MERCHANT_RULES, STRIP_PREFIXES, merchant_col="merchant_name"
    )
    df = rfm_ops.exclude_bank_noise(df).where(~F.col("RFM_Exclusion"))
    unknown = F.count(F.when(F.col("Category") == "Unknown", 1))
    total = F.count(F.lit(1))
    return df.agg(
        unknown.cast("long").alias("unknown_count"),
        total.cast("long").alias("total_count"),
        (unknown * 100.0 / total).alias("unknown_rate_pct"),
    )


from . import pct_rank_sql, scoped_pct_rank_sql  # noqa: E402

_MERCHANT_RFM_ORACLE = f"""
WITH {_RESOLVED_SQL},
clean AS (
    SELECT * FROM resolved WHERE {_EXCLUDE_SQL} AND NOT rfm_exclusion
),
mx AS (SELECT max(d) + 1 AS analysis_date FROM clean),
agg AS (
    SELECT clean_merchant_name,
           min(category) AS "Category", min(sub_category) AS "Sub_Category",
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
    GROUP BY clean_merchant_name
),
norm AS (
    SELECT *, CASE WHEN short_recency_raw IS NOT NULL THEN short_freq_raw END
               AS short_freq_n
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
    SELECT clean_merchant_name, "Category", "Sub_Category",
           life_recency_days, life_frequency,
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


@query("rfm_merchant_full", _MERCHANT_RFM_ORACLE)
def rfm_merchant_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship job 1:1 (db_to_RFManalysis.py:162-281):
    hybrid resolver → B7/B8 exclusions → dual-window RFM keyed by the
    CLEANED merchant name with Category carried through → pandas ranks
    → I2 segmentation.  The resolver is expressions over literal rule
    tables, with no join; the dual window is one shuffle.

    Category/Sub_Category ride the aggregate as GROUPING keys, not
    ``first()`` carriers (r12): they are functions of the resolved name
    (stage 2 hits take the lookup row's category, stage 3/fallback the
    matched rule's — the synth corpus admits no name that resolves via
    two paths), so grouping by all three yields the identical one row
    per clean name — exactly how the sibling ``merchant_resolve_hybrid``
    already groups, and equivalent to the oracle's ``min(category)``
    under that dependency.  The point is the plan: a ``first(string)``
    aggregate puts a var-length field in the aggregation buffer, which
    HashAggregate cannot hold, so the whole dual-window aggregate
    (Expand included) fell back to a 3-level SortAggregate — measured
    27.6 CPU-seconds in one stage at sf0.1.  Var-length GROUPING keys
    are fine; the buffer is now all fixed-width."""
    fact = synth_transactions(spark, sf_dir)
    df = resolve_merchant_hybrid(
        fact, HYBRID_MERCHANT_RULES, STRIP_PREFIXES, merchant_col="merchant_name"
    )
    df = rfm_ops.exclude_bank_noise(df).where(~F.col("RFM_Exclusion"))
    res = rfm_ops.rfm_dual_window(
        df,
        ["clean_merchant_name", "Category", "Sub_Category"],
        date_col="d",
        id_col="transaction_id",
        amount_col="amt",
    )
    return res.select(
        "clean_merchant_name",
        "Category",
        "Sub_Category",
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
        rfm_ops.label_merchant_segment().alias("segment"),
    )


_DISTRIBUTION_ORACLE = f"""
WITH fact AS ({SYNTH_FACT_SQL}),
tagged AS (
    SELECT *,
      CASE WHEN starts_with(trim(merchant_name), 'LinePay－') THEN 'Line Pay'
           WHEN starts_with(trim(merchant_name), 'Line－') THEN 'Line Pay'
           WHEN starts_with(trim(merchant_name), '街口支付－') THEN '街口支付'
           ELSE '實體卡/其他' END AS payment_method
    FROM fact
)
SELECT payment_method, count(*) AS n
FROM tagged
GROUP BY 1
ORDER BY n DESC, payment_method
LIMIT 10
"""


@query("payment_method_distribution", _DISTRIBUTION_ORACLE)
def payment_method_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: payment-method frequency preview (value_counts().head(10),
    db_to_Payment_RFM.py:126-127), computed pre-exclusion like the
    reference."""
    fact = synth_transactions(spark, sf_dir)
    df = pay_ops.identify_payment_method(
        fact, PAYMENT_RULES, merchant_col="merchant_name", out="payment_method"
    )
    return (
        df.groupBy("payment_method")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("payment_method"))
        .limit(10)
    )

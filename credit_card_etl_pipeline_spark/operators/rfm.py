"""RFM (Recency / Frequency / Monetary) analytics operators.

Re-expression of the reference's three analytics jobs
(db_to_RFManalysis.py:136-268, db_to_Payment_RFM.py:90-170,
db_to_card_RFM.py:26-74) as a single generic Spark operator family.

Every report is one lazy plan: nothing is cached, and no scalar goes
through the driver.

* **analysis_date in the plan.**  ``max(date) + 1 day`` over the
  filtered fact (db_to_RFManalysis.py:236, operator D4) is a one-row
  aggregate that rides a broadcast cross join into the plan.  Its
  ``raise_error`` keeps the contract that an input without a non-null
  date fails; a zero-row union branch makes it fire on empty input too.
* **Dual time windows in one pass.**  The reference aggregates the fact
  twice (lifetime + last-365-days) and left-joins the results
  (db_to_RFManalysis.py:236-255, operator C6+D3).  Here both windows are
  one ``groupBy`` with conditional aggregation
  (``sum(when(d >= cutoff, x))``) — one shuffle instead of two plus a
  join.
* **Stage-scoped ranks preserved.**  The reference computes short-window
  ranks *inside* the short-window aggregate, i.e. only among groups with
  short-window activity, then backfills 0 after the join (SURVEY §4 trap
  5).  Conditional aggregation naturally yields null short metrics for
  inactive groups; ranks skip nulls (pandas NaN semantics); the final
  fill maps null short metrics/ranks → 0 and null short recency → 9999
  (db_to_RFManalysis.py:252-255).
* **Ranks** (``functions.ranks``) are global over the |groups|-sized
  aggregate.  It is coalesced into one partition (no exchange) and each
  window is keyed by the analysis-date column, constant over the
  aggregate: the ranks add no exchange, and neither does a sort after
  them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ranks import with_pct_rank

#: Bank-noise transaction types excluded from every RFM job
#: (db_to_RFManalysis.py:23, db_to_Payment_RFM.py:28, db_to_card_RFM.py:20).
EXCLUDE_TYPE_KEYWORDS = r"繳款|折抵|各項費用|手續費|年費|利息"

#: The reference's short window, in days (SURVEY B10, ``ANALYSIS_DAYS``).
ANALYSIS_DAYS = 365


def exclude_bank_noise(
    df: DataFrame, type_col: str = "transaction_type"
) -> DataFrame:
    """Operator B7: drop payment/credit/fee rows by regex on the type.

    The reference's ``str.contains(..., na=False)`` treats null types as
    *not matching* (kept); replicate with a null-safe coalesce.
    """
    return df.where(
        ~F.coalesce(F.col(type_col).rlike(EXCLUDE_TYPE_KEYWORDS), F.lit(False))
    )


def _day_after(mx: F.Column, date_col: str) -> F.Column:
    """Operator D4: ``__ad = mx + 1 day`` for the aggregate ``mx`` of
    ``date_col``.  Evaluating it raises ``no non-null values in
    <date_col>`` where ``mx`` is null (all-null or empty input)."""
    return (
        F.when(
            mx.isNull(),
            F.raise_error(F.lit(f"no non-null values in {date_col}")),
        )
        .otherwise(F.date_add(mx, 1))
        .alias("__ad")
    )


def _analysis_date(df: DataFrame, date_col: str) -> DataFrame:
    """The one-row frame ``__ad = max(date) + 1 day`` (see _day_after)."""
    return df.agg(_day_after(F.max(F.to_date(F.col(date_col))), date_col))


def _checked(out: DataFrame, ad: DataFrame) -> DataFrame:
    """``out`` plus a zero-row branch that evaluates ``ad``.

    A broadcast cross join with ``ad`` raises on all-null dates but not
    on empty input: the optimizer and AQE drop the join once its other
    side is known to be empty, and ``ad`` never runs.  The union branch
    selects from ``ad`` itself, so no rule can prune it; it keeps no
    row, because ``__ad`` is null only where it raises."""
    guard = ad.where(F.col("__ad").isNull()).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in out.schema.fields]
    )
    return out.unionByName(guard)


def trailing_window(df: DataFrame, date_col: str) -> DataFrame:
    """Operator B10: keep the last ``ANALYSIS_DAYS`` days up to the
    latest date, ``d >= max(d) - 365`` (db_to_card_RFM.py:119-122)."""
    ad = _analysis_date(df, date_col)
    cutoff = F.date_sub(F.col("__ad"), ANALYSIS_DAYS + 1)
    return (
        df.crossJoin(F.broadcast(ad))
        .where(F.to_date(F.col(date_col)) >= cutoff)
        .drop("__ad")
    )


def rfm_aggregate(
    df: DataFrame,
    keys: list[str],
    *,
    date_col: str = "transaction_date",
    id_col: str = "transaction_id",
    amount_col: str = "payment_amount",
    rank_metrics: tuple[str, ...] = ("r", "f", "m"),
) -> DataFrame:
    """Operator D1/D2: single-window RFM aggregate.

    recency = days from last activity to the analysis date;
    frequency = exact distinct ids (reference uses ``nunique``,
    db_to_RFManalysis.py:142 — ``approx_count_distinct`` is deliberately
    NOT used to preserve semantics); monetary = sum of amounts.  Ranks
    are appended with pandas percentile semantics: recency descending,
    frequency/monetary ascending (db_to_card_RFM.py:47-48).
    ``rank_metrics`` picks which — the card job ranks only
    frequency/monetary (db_to_card_RFM.py:47-48).
    """
    d = F.to_date(F.col(date_col))
    agg = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.max(d).alias("__gmax"),
        F.countDistinct(F.col(id_col)).alias("frequency"),
        F.sum(F.col(amount_col)).alias("monetary"),
    )
    # max(d) is the max of the group maxima, so the analysis date comes
    # from the |groups|-sized aggregate, not from a second pass over the
    # fact.  The struct keeps every aggregate column in this branch, so
    # column pruning leaves its subplan equal to the report's and the
    # shuffle is reused; ordered by its first field, its max carries the
    # latest date.  Recency uses the date only in a post-aggregation
    # datediff.
    latest = F.max(F.struct("__gmax", "frequency", "monetary"))["__gmax"]
    ad = agg.agg(_day_after(latest, date_col))
    out = (
        agg.crossJoin(F.broadcast(ad))
        .select(
            *[F.col(k) for k in keys],
            F.datediff(F.col("__ad"), F.col("__gmax")).alias("recency_days"),
            "frequency",
            "monetary",
            "__ad",
        )
        .coalesce(1)
    )
    rank_specs = {
        "r": ("recency_days", False, "r_rank"),
        "f": ("frequency", True, "f_rank"),
        "m": ("monetary", True, "m_rank"),
    }
    for metric in rank_metrics:
        col, asc, out_name = rank_specs[metric]
        out = with_pct_rank(
            out, col, ascending=asc, out=out_name, partition_by=("__ad",)
        )
    return _checked(out.drop("__ad"), ad)


def rfm_dual_window(
    df: DataFrame,
    keys: list[str],
    *,
    date_col: str = "transaction_date",
    id_col: str = "transaction_id",
    amount_col: str = "payment_amount",
) -> DataFrame:
    """Operators D1+D3+C6+E1: lifetime & last-``ANALYSIS_DAYS`` RFM in
    ONE shuffle via conditional aggregation, with stage-scoped ranks and
    the reference's null-fill contract (short metrics/ranks→0, short
    recency→9999; db_to_RFManalysis.py:252-255).
    """
    d = F.to_date(F.col(date_col))
    ad = _analysis_date(df, date_col)
    ad_col = F.col("__ad")
    in_short = d >= F.date_sub(ad_col, ANALYSIS_DAYS)
    agg = (
        df.crossJoin(F.broadcast(ad))
        .groupBy(*[F.col(k) for k in keys])
        .agg(
            F.max(d).alias("__gmax"),
            F.countDistinct(F.col(id_col)).alias("life_frequency"),
            F.sum(F.col(amount_col)).alias("life_monetary"),
            F.max(F.when(in_short, d)).alias("__smax"),
            F.countDistinct(F.when(in_short, F.col(id_col))).alias("__sfreq"),
            F.sum(F.when(in_short, F.col(amount_col))).alias("short_monetary"),
            # constant within every group (it is a global scalar);
            # max() carries it through the aggregate as a fixed-width
            # DATE so the recency datediffs stay post-aggregation
            F.max(ad_col).alias("__ad"),
        )
    )
    short_recency = F.datediff(ad_col, F.col("__smax"))
    agg = agg.select(
        *[F.col(k) for k in keys],
        F.datediff(ad_col, F.col("__gmax")).alias("life_recency_days"),
        "life_frequency",
        "life_monetary",
        short_recency.alias("short_recency_days"),
        "short_monetary",
        # countDistinct of an all-null set is 0, not null; the
        # reference's left join yields NaN→fillna(0).  Null it for
        # groups with no short activity so rank scoping (only
        # short-active groups are ranked) matches the reference; the
        # fill below maps it back to 0.
        F.when(short_recency.isNotNull(), F.col("__sfreq")).alias(
            "short_frequency"
        ),
        "__ad",
    ).coalesce(1)
    for col, asc, out in [
        ("life_recency_days", False, "life_r_rank"),
        ("life_frequency", True, "life_f_rank"),
        ("life_monetary", True, "life_m_rank"),
        ("short_recency_days", False, "short_r_rank"),
        ("short_frequency", True, "short_f_rank"),
        ("short_monetary", True, "short_m_rank"),
    ]:
        agg = with_pct_rank(
            agg, col, ascending=asc, out=out, partition_by=("__ad",)
        )

    fill_zero = [
        "short_frequency",
        "short_monetary",
        "short_r_rank",
        "short_f_rank",
        "short_m_rank",
    ]
    agg = agg.drop("__ad").na.fill({c: 0 for c in fill_zero})
    agg = agg.na.fill({"short_recency_days": 9999})
    return _checked(agg, ad)


# --- Segment labelers (operators I2 / I3 / I4) -------------------------

def label_merchant_segment() -> F.Column:
    """I2 (db_to_RFManalysis.py:258-268)."""
    high_value = F.col("life_m_rank") >= 0.8
    active = F.col("short_frequency") > 0
    return (
        F.when(high_value & active, "核心商家 (Core)")
        .when(high_value & ~active, "流失高價值 (Churned VIP)")
        .when(active & (F.col("short_m_rank") >= 0.8), "潛力新星 (Rising Star)")
        .when(active, "一般活躍 (Active)")
        .otherwise("沉睡商家 (Dormant)")
    )


def label_payment_segment() -> F.Column:
    """I3 (db_to_Payment_RFM.py:160-170)."""
    mainstay = F.col("life_f_rank") >= 0.7
    active = F.col("short_frequency") > 0
    return (
        F.when(mainstay & active, "主力支付 (Main Wallet)")
        .when(mainstay & ~active, "已棄用支付 (Abandoned)")
        .when(active, "輔助支付 (Backup)")
        .otherwise("冷門支付 (Rare)")
    )


def label_card_segment() -> F.Column:
    """I4 (db_to_card_RFM.py:55-74)."""
    high_f = F.col("f_rank") >= 0.5
    high_m = F.col("m_rank") >= 0.5
    return (
        F.when(F.col("recency_days") > 180, "❄️ 冷凍/沉睡卡 (Dormant)")
        .when(high_f & high_m, "👑 主力攻擊手 (Main Driver)")
        .when(~high_f & high_m, "🎯 狙擊手 (Sniper)")
        .when(high_f & ~high_m, "🔄 後勤補給 (Utility)")
        .otherwise("📉 低效冗餘 (Inefficient)")
    )


def with_avg_ticket(df: DataFrame) -> DataFrame:
    """D7: integer-truncated average ticket (db_to_card_RFM.py:146 —
    pandas ``astype(int)`` truncates toward zero; Spark ``cast('long')``
    of a double matches)."""
    return df.withColumn(
        "avg_ticket", (F.col("monetary") / F.col("frequency")).cast("long")
    )

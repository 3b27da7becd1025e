"""RFM (Recency / Frequency / Monetary) analytics operators.

Re-expression of the reference's three analytics jobs
(db_to_RFManalysis.py:136-268, db_to_Payment_RFM.py:90-170,
db_to_card_RFM.py:26-74) as a single generic Spark operator family.

Scale design decisions (vs. the reference's pandas shape):

* **Dual time windows without a second full pass.**  The reference
  aggregates the fact twice over its FULL extent (lifetime +
  last-N-days) and left-joins the results (db_to_RFManalysis.py:236-255,
  operator C6+D3).  Here, with a caller-supplied analysis date, both
  windows are computed in a single ``groupBy`` with conditional
  aggregation (``sum(when(d >= cutoff, x))``) — one shuffle instead of
  two plus a join.  When the analysis date must be DERIVED (max(date)+1
  over the filtered fact), the single-pass form costs an extra full max
  pass first; for callers whose input plan is expensive to evaluate
  (``split_windows=True``, e.g. the merchant job's hybrid resolver) the
  lifetime window is instead aggregated alone (per-group ``max(d)``
  raw), the analysis date falls out of the |groups|-sized aggregate for
  free, and the short window aggregates only the date-filtered slice —
  one full pass plus one short-slice pass, measured 20% faster there;
  for plain projections the single-pass form measures faster and stays
  the default (r11 A/B in both directions).
* **Stage-scoped ranks preserved.**  The reference computes short-window
  ranks *inside* the short-window aggregate, i.e. only among groups with
  short-window activity, then backfills 0 after the join (SURVEY §4 trap
  5).  Conditional aggregation naturally yields null short metrics for
  inactive groups; ranks skip nulls (pandas NaN semantics); the final
  fill maps null short metrics/ranks → 0 and null short recency → 9999
  (db_to_RFManalysis.py:252-255).
* **Ranks without a global sort** — see ``functions.ranks``.
* **analysis_date** is ``max(date)+1 day`` over the filtered fact
  (db_to_RFManalysis.py:236, operator D4) — computed as a scalar
  aggregate; at scale this is one cheap ``max`` over a column with
  parquet min/max statistics.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import caching
from ..functions.ranks import SMALL_INPUT_THRESHOLD, with_pct_rank

#: Bank-noise transaction types excluded from every RFM job
#: (db_to_RFManalysis.py:23, db_to_Payment_RFM.py:28, db_to_card_RFM.py:20).
EXCLUDE_TYPE_KEYWORDS = r"繳款|折抵|各項費用|手續費|年費|利息"


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


def analysis_date_of(df: DataFrame, date_col: str) -> _dt.date:
    """Operator D4: ``max(date) + 1 day`` as a driver-side scalar."""
    row = df.agg(F.max(F.to_date(F.col(date_col))).alias("mx")).first()
    if row is None or row["mx"] is None:
        raise ValueError(f"no non-null values in {date_col}")
    return row["mx"] + _dt.timedelta(days=1)


def rfm_aggregate(
    df: DataFrame,
    keys: list[str],
    *,
    date_col: str = "transaction_date",
    id_col: str = "transaction_id",
    amount_col: str = "payment_amount",
    analysis_date: _dt.date | None = None,
    prefix: str = "",
    extra_first: list[str] | None = None,
    rank_metrics: tuple[str, ...] = ("r", "f", "m"),
) -> DataFrame:
    """Operator D1/D2: single-window RFM aggregate.

    recency = days from last activity to ``analysis_date``;
    frequency = exact distinct ids (reference uses ``nunique``,
    db_to_RFManalysis.py:142 — ``approx_count_distinct`` is deliberately
    NOT used to preserve semantics; swap in at scale only if profiling
    demands); monetary = sum of amounts.  Ranks are appended with pandas
    percentile semantics: recency descending, frequency/monetary
    ascending (db_to_card_RFM.py:47-48).  ``rank_metrics`` picks which —
    the card job ranks only frequency/monetary (db_to_card_RFM.py:47-48),
    and each rank costs a join, so don't compute unrequested ones.
    """
    d = F.to_date(F.col(date_col))
    # recency depends on analysis_date only through a POST-aggregation
    # datediff, so the per-group max(d) is aggregated raw and the
    # analysis date (when not supplied) is derived as max-of-max from
    # the |groups|-sized aggregate — r11: this removes the separate
    # full-fact max pass `analysis_date_of` ran per invocation (one
    # fact pass total instead of two, and no driver stall before the
    # plan exists).
    aggs = [
        F.max(d).alias("__gmax"),
        F.countDistinct(F.col(id_col)).alias(f"{prefix}frequency"),
        F.sum(F.col(amount_col)).alias(f"{prefix}monetary"),
    ]
    for c in extra_first or []:
        aggs.append(F.first(F.col(c), ignorenulls=True).alias(c))
    out = df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    distributed = False
    if rank_metrics or analysis_date is None:
        # The aggregate feeds the analysis-date scalar and one rank
        # join per metric; persist it and use its (now known)
        # cardinality to pick the rank strategy.  Tracked for release
        # at the next query boundary (caching.py) — the returned frame
        # reads this cache, so it can't be unpersisted here.  One job
        # returns the scalar AND the cardinality.
        out = caching.track(out.persist())
        row = out.agg(
            F.max("__gmax").alias("mx"), F.count(F.lit(1)).alias("n")
        ).first()
        if analysis_date is None:
            if row is None or row["mx"] is None:
                raise ValueError(f"no non-null values in {date_col}")
            analysis_date = row["mx"] + _dt.timedelta(days=1)
        distributed = (row["n"] if row is not None else 0) >= SMALL_INPUT_THRESHOLD
    out = out.select(
        *[F.col(k) for k in keys],
        F.datediff(F.lit(analysis_date), F.col("__gmax")).alias(
            f"{prefix}recency_days"
        ),
        f"{prefix}frequency",
        f"{prefix}monetary",
        *(extra_first or []),
    )
    rank_specs = {
        "r": (f"{prefix}recency_days", False, f"{prefix}r_rank"),
        "f": (f"{prefix}frequency", True, f"{prefix}f_rank"),
        "m": (f"{prefix}monetary", True, f"{prefix}m_rank"),
    }
    for metric in rank_metrics:
        col, asc, out_name = rank_specs[metric]
        out = with_pct_rank(
            out, col, ascending=asc, out=out_name, distributed=distributed
        )
    return out


def rfm_dual_window(
    df: DataFrame,
    keys: list[str],
    *,
    date_col: str = "transaction_date",
    id_col: str = "transaction_id",
    amount_col: str = "payment_amount",
    short_days: int = 365,
    analysis_date: _dt.date | None = None,
    extra_first: list[str] | None = None,
    split_windows: bool = False,
) -> DataFrame:
    """Operators D1+D3+C6+E1: lifetime & last-``short_days`` RFM in ONE
    shuffle via conditional aggregation, with stage-scoped ranks and the
    reference's null-fill contract (short metrics/ranks→0, short
    recency→9999; db_to_RFManalysis.py:252-255).
    """
    d = F.to_date(F.col(date_col))
    if analysis_date is not None or not split_windows:
        # Known analysis date (or a cheap-to-evaluate input plan, the
        # ``split_windows=False`` default): both windows in ONE pass
        # via conditional aggregation (one shuffle instead of two plus
        # a join).  A derived analysis date costs one extra max pass
        # first — measured CHEAPER than the split form when the input
        # plan is a plain projection (r11 A/B: rfm_customer_dual_window
        # 3.5s single-pass vs 4.9s split), because the scan is cheap
        # and the split form's second aggregate + group join add
        # exchanges.
        derived = analysis_date is None
        if derived:
            # r12: the derived analysis date used to be a DRIVER scalar
            # (`analysis_date_of`: its own action → 2-3 AQE jobs plus a
            # py4j round-trip BEFORE the main aggregate's plan could be
            # built — ~1s of serialized driver wall at sf0.1).  Instead
            # the 1-row max rides a broadcast cross join INTO the same
            # query execution: identical values (analysis_date =
            # max(d)+1 exactly as before, now as a column), one driver
            # action fewer, and the scalar never touches the driver.
            mx = df.agg(F.max(d).alias("__mxd"))
            base = df.crossJoin(F.broadcast(mx))
            ad_col = F.date_add(F.col("__mxd"), 1)
        else:
            base = df
            ad_col = F.lit(analysis_date)
        in_short = d >= F.date_sub(ad_col, short_days)
        aggs = [
            F.max(d).alias("__gmax"),
            F.countDistinct(F.col(id_col)).alias("life_frequency"),
            F.sum(F.col(amount_col)).alias("life_monetary"),
            F.max(F.when(in_short, d)).alias("__smax"),
            F.countDistinct(
                F.when(in_short, F.col(id_col))
            ).alias("__short_freq_raw"),
            F.sum(F.when(in_short, F.col(amount_col))).alias("short_monetary"),
            # constant within every group (it is a global scalar);
            # max() carries it through the aggregate as a fixed-width
            # DATE so the recency datediffs stay post-aggregation
            F.max(ad_col).alias("__ad"),
        ]
        for c in extra_first or []:
            aggs.append(F.first(F.col(c), ignorenulls=True).alias(c))
        agg = base.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
        agg = agg.select(
            *[F.col(k) for k in keys],
            F.datediff(F.col("__ad"), F.col("__gmax")).alias(
                "life_recency_days"
            ),
            "life_frequency",
            "life_monetary",
            F.datediff(F.col("__ad"), F.col("__smax")).alias(
                "short_recency_days"
            ),
            "__short_freq_raw",
            "short_monetary",
            "__ad",
            *(extra_first or []),
        )
        # countDistinct of an all-null set is 0, not null; the
        # reference's left join yields NaN→fillna(0).  Normalize
        # 0-with-no-activity to null first so rank scoping (only
        # short-active groups are ranked) matches the reference, then
        # fill back to 0 at the end.
        agg = agg.withColumn(
            "short_frequency",
            F.when(
                F.col("short_recency_days").isNotNull(),
                F.col("__short_freq_raw"),
            ),
        ).drop("__short_freq_raw")
        # Each percentile rank fans out into its own distinct-value
        # branch; without persistence Spark recomputes the fact
        # aggregation once per branch (7 scans + 7 shuffles observed in
        # the physical plan).  The aggregate is |groups| rows — orders
        # of magnitude smaller than the fact — so caching it is the
        # right trade at any scale.  Its count (already materialized by
        # the persist) picks the rank strategy: small group tables use
        # the single-window path, huge ones the two-pass
        # range-partitioned rank (functions.ranks).  Tracked for
        # release at the next query boundary (caching.py).  The same
        # job also returns the derived analysis date so the
        # no-non-null-dates contract still raises.
        agg = caching.track(agg.persist())
        row = agg.agg(
            F.count(F.lit(1)).alias("n"), F.max("__ad").alias("mx")
        ).first()
        if derived and (row is None or row["n"] == 0 or row["mx"] is None):
            raise ValueError(f"no non-null values in {date_col}")
        n_groups = row["n"] if row is not None else 0
        agg = agg.drop("__ad")
    else:
        # Derived analysis date with an EXPENSIVE input plan
        # (``split_windows=True`` — callers whose upstream is a heavy
        # resolver/cleanse chain, e.g. rfm_merchant_full's hybrid
        # regex resolver; r11 A/B: 7.2s → 5.8s): the
        # conditional-aggregation form needed the cutoff literal INSIDE
        # the aggregate, which forced a separate full-fact max pass
        # (`analysis_date_of`) first — re-evaluating the whole upstream
        # plan.
        # Instead aggregate the LIFETIME window alone (per-group max(d)
        # raw), derive analysis_date as max-of-max from the
        # |groups|-sized cached aggregate, and aggregate the short
        # window over the date-filtered slice — one full pass plus one
        # short-slice pass (a fraction of the fact under a 365-day
        # window at scale, and date predicates prune at the scan)
        # instead of two full passes.  The group-keyed left join
        # reproduces the conditional form's null contract exactly:
        # absent groups ⇒ null short metrics.
        life_aggs = [
            F.max(d).alias("__gmax"),
            F.countDistinct(F.col(id_col)).alias("life_frequency"),
            F.sum(F.col(amount_col)).alias("life_monetary"),
        ]
        for c in extra_first or []:
            life_aggs.append(F.first(F.col(c), ignorenulls=True).alias(c))
        agg0 = df.groupBy(*[F.col(k) for k in keys]).agg(*life_aggs)
        agg0 = caching.track(agg0.persist())
        row = agg0.agg(
            F.max("__gmax").alias("mx"), F.count(F.lit(1)).alias("n")
        ).first()
        if row is None or row["mx"] is None:
            raise ValueError(f"no non-null values in {date_col}")
        analysis_date = row["mx"] + _dt.timedelta(days=1)
        n_groups = row["n"]
        cutoff = analysis_date - _dt.timedelta(days=short_days)
        short = (
            df.where(d >= F.lit(cutoff))
            .groupBy(*[F.col(k) for k in keys])
            .agg(
                F.datediff(
                    F.lit(analysis_date), F.max(d)
                ).alias("short_recency_days"),
                F.countDistinct(F.col(id_col)).alias("short_frequency"),
                F.sum(F.col(amount_col)).alias("short_monetary"),
            )
        )
        agg = (
            agg0.join(short, keys, "left")
            .select(
                *[F.col(k) for k in keys],
                F.datediff(F.lit(analysis_date), F.col("__gmax")).alias(
                    "life_recency_days"
                ),
                "life_frequency",
                "life_monetary",
                "short_recency_days",
                "short_monetary",
                *(extra_first or []),
                "short_frequency",
            )
        )
        # the rank branches fan out over the joined frame; persist it so
        # the short aggregate is not recomputed per branch (|groups|
        # rows — cheap at any scale)
        agg = caching.track(agg.persist())
    distributed = n_groups >= SMALL_INPUT_THRESHOLD

    for col, asc, out in [
        ("life_recency_days", False, "life_r_rank"),
        ("life_frequency", True, "life_f_rank"),
        ("life_monetary", True, "life_m_rank"),
        ("short_recency_days", False, "short_r_rank"),
        ("short_frequency", True, "short_f_rank"),
        ("short_monetary", True, "short_m_rank"),
    ]:
        agg = with_pct_rank(
            agg, col, ascending=asc, out=out, distributed=distributed
        )

    fill_zero = [
        "short_frequency",
        "short_monetary",
        "short_r_rank",
        "short_f_rank",
        "short_m_rank",
    ]
    agg = agg.na.fill({c: 0 for c in fill_zero})
    agg = agg.na.fill({"short_recency_days": 9999})
    return agg


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

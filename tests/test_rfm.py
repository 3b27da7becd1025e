"""RFM operator semantics: dual-window fills, segment labels, avg_ticket."""

import datetime as dt

import pandas as pd
import pytest

from credit_card_etl_pipeline_spark.operators import rfm as rfm_ops


def _fact(spark):
    rows = [
        # cust 1: active recently, 3 orders
        (1, 101, dt.date(2024, 6, 1), 100_00),
        (1, 102, dt.date(2024, 5, 1), 200_00),
        (1, 103, dt.date(2020, 1, 1), 300_00),
        # cust 2: lifetime only (nothing in short window)
        (2, 201, dt.date(2019, 3, 1), 50_00),
        (2, 202, dt.date(2019, 4, 1), 60_00),
        # cust 3: single recent order, duplicate id rows (nunique dedup)
        (3, 301, dt.date(2024, 6, 10), 10_00),
        (3, 301, dt.date(2024, 6, 10), 10_00),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "id", "d", "amt"])
    )


def test_dual_window_fills_and_scoped_ranks(spark):
    df = _fact(spark)
    out = rfm_ops.rfm_dual_window(
        df, ["k"], date_col="d", id_col="id", amount_col="amt"
    )
    r = {row["k"]: row.asDict() for row in out.collect()}

    # analysis date = 2024-06-11; cust2 has no short-window activity.
    assert r[2]["short_recency_days"] == 9999
    assert r[2]["short_frequency"] == 0
    assert r[2]["short_monetary"] == 0
    assert r[2]["short_r_rank"] == 0 and r[2]["short_m_rank"] == 0

    # cust1 lifetime: 3 distinct orders, 600.00 total
    assert r[1]["life_frequency"] == 3
    assert r[1]["life_monetary"] == 600_00

    # cust3: duplicate rows of one id count once, amounts sum twice
    # (reference keeps duplicate rows; frequency dedups by id only —
    # db_to_RFManalysis.py:142 / FIXTURES.md §4)
    assert r[3]["life_frequency"] == 1
    assert r[3]["life_monetary"] == 20_00

    # short ranks scoped to the 2 short-active groups (cust 1 & 3):
    # short_monetary 300_00 (c1) vs 20_00 (c3) → asc pct ranks 1.0, 0.5
    assert r[1]["short_m_rank"] == 1.0
    assert r[3]["short_m_rank"] == 0.5


def test_exclude_bank_noise_null_safe(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "transaction_type": ["繳款", "一般消費", None, "手續費"],
                "x": [1, 2, 3, 4],
            }
        )
    )
    kept = sorted(
        row["x"] for row in rfm_ops.exclude_bank_noise(df).collect()
    )
    assert kept == [2, 3]  # null type is kept (na=False semantics)


def test_avg_ticket_truncates(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"monetary": [100.0, 7.0], "frequency": [3, 2]})
    )
    out = {
        (row["monetary"]): row["avg_ticket"]
        for row in rfm_ops.with_avg_ticket(df).collect()
    }
    assert out[100.0] == 33  # 33.33 truncated
    assert out[7.0] == 3  # 3.5 truncated


def test_derived_analysis_date_requires_a_non_null_date(spark):
    """A derived analysis date is max(date) + 1: all-null dates and an
    empty input have none.  The plan raises at its first action."""
    all_null = spark.createDataFrame(
        [(1, 101, None, 100), (2, 201, None, 50)],
        "k long, id long, d date, amt long",
    )
    empty = all_null.limit(0)
    for df in (all_null, empty):
        for report in (rfm_ops.rfm_dual_window, rfm_ops.rfm_aggregate):
            with pytest.raises(
                Exception,
                match=r"USER_RAISED_EXCEPTION\] no non-null values in d",
            ):
                report(
                    df, ["k"], date_col="d", id_col="id", amount_col="amt"
                ).collect()


def test_hybrid_rule_replacement_determines_category():
    """rfm_merchant_full groups by (clean name, Category, Sub_Category);
    that equals the oracle's group-by-name only while each Replacement
    maps to ONE (Category, Sub_Category) across the rule table."""
    from credit_card_etl_pipeline_spark.queries.merchant_queries import (
        HYBRID_MERCHANT_RULES,
    )

    seen: dict[str, tuple[str, str]] = {}
    for rule in HYBRID_MERCHANT_RULES:
        cats = (rule["Category"], rule["Sub_Category"])
        assert seen.setdefault(rule["Replacement"], cats) == cats, rule

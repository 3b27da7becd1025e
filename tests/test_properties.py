"""Property-based tests (SURVEY §5): classifier totality, rank bounds
and monotonicity, surrogate-key stability under projection reordering.

Each hypothesis example drives a real (local) Spark job, so example
counts are kept small; the properties, not the volume, carry the value.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from credit_card_etl_pipeline_spark import schema as S
from credit_card_etl_pipeline_spark.functions.ranks import with_pct_rank
from credit_card_etl_pipeline_spark.operators.classify import (
    classify_transaction_type,
)
from credit_card_etl_pipeline_spark.sources.configs import TransactionTypeKeywords
from credit_card_etl_pipeline_spark.warehouse import transaction_id

KW = TransactionTypeKeywords(
    payment_keywords=["繳款"], credit_keywords=["回饋"], fee_keywords=["年費"]
)

_merchants = st.sampled_from(
    ["繳款", "回饋金", "年費", "SHOP", "代收繳款", "手續費繳款", None, ""]
)
_amounts = st.sampled_from([-50.0, 0.0, 100.0, None])
_locations = st.sampled_from(["TW", "JP", None])

_row = st.fixed_dictionaries(
    {
        S.MERCHANT: _merchants,
        S.PAYMENT_AMOUNT: _amounts,
        S.MERCHANT_LOCATION: _locations,
    }
)

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@_slow
@given(st.lists(_row, min_size=1, max_size=12))
def test_classifier_assigns_at_most_one_type_and_is_total(spark, rows):
    base = {
        S.TRANSACTION_TYPE: None,
        S.CURRENCY_TYPE: None,
        S.PAYMENT_CURRENCY: "TWD",
        S.CURRENCY_AMOUNT: None,
        S.CARD_TYPE: None,
        S.MOBILE_PAYMENT: None,
        S.CONSUMPTION_PLACE: None,
    }
    pdf = pd.DataFrame([{**base, **r} for r in rows])
    out = classify_transaction_type(spark.createDataFrame(pdf), KW).collect()
    valid = {
        "繳款", "折抵", "退刷", "各項費用", "驗證/零元", "交易",
        "一般國外交易", "台幣跨境交易", "一般雙幣交易",
    }
    for r_in, r_out in zip(rows, out):
        t = r_out[S.TRANSACTION_TYPE]
        # totality: every row with a usable amount OR a keyword gets a
        # type; rows with null amounts and no keyword stay untyped
        assert t is None or t in valid
        if r_in[S.PAYMENT_AMOUNT] is not None:
            assert t is not None


@_slow
@given(
    st.lists(
        st.integers(min_value=-100, max_value=100) | st.none(),
        min_size=1,
        max_size=20,
    ),
    st.booleans(),
)
def test_rank_bounds_and_monotonicity(spark, values, ascending):
    pdf = pd.DataFrame({"v": pd.array(values, dtype="Int64")})
    df = spark.createDataFrame(pdf)
    out = with_pct_rank(df, "v", ascending=ascending, out="p").collect()
    got = {r["v"]: r["p"] for r in out}
    non_null = sorted({v for v in values if v is not None})
    if not ascending:
        non_null = list(reversed(non_null))
    prev = 0.0
    for v in non_null:
        p = got[v]
        assert 0.0 < p <= 1.0
        assert p > prev  # strictly increasing over distinct values
        prev = p
    for v, p in got.items():
        if v is None:
            assert p is None


@_slow
@given(
    st.lists(
        st.tuples(
            st.dates(), st.text(min_size=0, max_size=6), st.floats(
                min_value=-1000, max_value=1000, allow_nan=False
            )
        ),
        min_size=1,
        max_size=10,
    )
)
def test_surrogate_key_invariant_to_column_order(spark, rows):
    pdf = pd.DataFrame(
        [
            {
                S.TRANSACTION_DATE: d,
                S.MERCHANT: m,
                S.CARD_NO: "1234",
                S.PAYMENT_AMOUNT: round(a, 2),
                S.TRANSACTION_TYPE: "交易",
            }
            for d, m, a in rows
        ]
    )
    df = spark.createDataFrame(pdf)
    k1 = [r["k"] for r in df.select(transaction_id().alias("k")).collect()]
    # permute the physical column order — the key must not change
    shuffled = df.select(
        S.TRANSACTION_TYPE, S.PAYMENT_AMOUNT, S.CARD_NO, S.MERCHANT,
        S.TRANSACTION_DATE,
    )
    k2 = [r["k"] for r in shuffled.select(transaction_id().alias("k")).collect()]
    assert k1 == k2

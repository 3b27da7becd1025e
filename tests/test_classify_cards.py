"""Unit tests for the two most intricate rule operators:

* I1 transaction-type classifier (operators/classify.py) — precedence,
  the 代收/手續費/運費 payment exception, column-clearing side effects,
  foreign sub-classification incl. the Currency_Amount sync.
* C1 card mapping (operators/cards.py) — snapshot keys, dual-number /
  compound-key / plain match modes, last-match-wins, non-empty-value
  writes only.
* C2 third-party tagging and C5 payment-method lookup
  (operators/payments.py) — first match by priority behind the
  blank-mobile guard; longest prefix first behind the ``Priority >= 20``
  gate, with the ``實體卡/其他`` fallback.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from credit_card_etl_pipeline_spark import schema as S
from credit_card_etl_pipeline_spark.operators.cards import (
    PAYMENT_PREFIX,
    apply_card_mapping,
)
from credit_card_etl_pipeline_spark.operators.classify import (
    classify_transaction_type,
)
from credit_card_etl_pipeline_spark.operators.payments import (
    FALLBACK_METHOD,
    identify_payment_method,
    identify_third_party_payment,
)
from credit_card_etl_pipeline_spark.sources.configs import TransactionTypeKeywords

KW = TransactionTypeKeywords(
    payment_keywords=["繳款", "Payment Thank You"],
    credit_keywords=["刷卡金", "回饋"],
    fee_keywords=["手續費", "年費"],
)


def _classify(spark, rows: list[dict]) -> list[dict]:
    base = {
        S.TRANSACTION_TYPE: None,
        S.MERCHANT: None,
        S.PAYMENT_AMOUNT: 100.0,
        S.MERCHANT_LOCATION: "TW",
        S.CURRENCY_TYPE: None,
        S.PAYMENT_CURRENCY: "TWD",
        S.CURRENCY_AMOUNT: None,
        S.CARD_TYPE: "SomeCard",
        S.MOBILE_PAYMENT: "Line Pay",
        S.CONSUMPTION_PLACE: "X",
        PAYMENT_PREFIX: "LinePay－",
    }
    pdf = pd.DataFrame([{**base, **r} for r in rows])
    df = spark.createDataFrame(pdf)
    out = classify_transaction_type(df, KW)
    return [r.asDict() for r in out.collect()]


def test_payment_stage_and_clearing(spark):
    rows = _classify(spark, [{S.MERCHANT: "網路銀行繳款-感謝您"}])
    r = rows[0]
    assert r[S.TRANSACTION_TYPE] == "繳款"
    # payment clears card/mobile/place/prefix (refine.py:281-282)
    assert r[S.CARD_TYPE] is None
    assert r[S.MOBILE_PAYMENT] is None
    assert r[S.CONSUMPTION_PLACE] is None
    assert r[PAYMENT_PREFIX] is None


def test_payment_exception_keeps_card(spark):
    # hits a payment keyword AND the 代收|手續費|運費 exception →
    # NOT a payment … but 手續費 is also a fee keyword → 各項費用
    r = _classify(spark, [{S.MERCHANT: "代收繳款手續費"}])[0]
    assert r[S.TRANSACTION_TYPE] == "各項費用"
    assert r[S.CARD_TYPE] == "SomeCard"  # payment clearing did NOT fire
    assert r[S.MOBILE_PAYMENT] is None  # fee clears mobile/prefix
    assert r[PAYMENT_PREFIX] is None
    assert r[S.CONSUMPTION_PLACE] == "X"  # fee does not clear place


def test_credit_refund_zero_precedence(spark):
    rows = _classify(
        spark,
        [
            {S.MERCHANT: "刷卡金回饋", S.PAYMENT_AMOUNT: -50.0},  # credit wins over refund
            {S.MERCHANT: "SHOP", S.PAYMENT_AMOUNT: -50.0},
            {S.MERCHANT: "SHOP", S.PAYMENT_AMOUNT: 0.0},
            {S.MERCHANT: "SHOP", S.PAYMENT_AMOUNT: 100.0},
        ],
    )
    assert [r[S.TRANSACTION_TYPE] for r in rows] == [
        "折抵", "退刷", "驗證/零元", "交易",
    ]
    # credit clears mobile+prefix but keeps card type (refine.py:291-292)
    assert rows[0][S.MOBILE_PAYMENT] is None
    assert rows[0][S.CARD_TYPE] == "SomeCard"


def test_foreign_subclassification(spark):
    rows = _classify(
        spark,
        [
            {S.MERCHANT: "JP SHOP", S.MERCHANT_LOCATION: "JP",
             S.CURRENCY_TYPE: "JPY", S.CURRENCY_AMOUNT: 5000.0},
            {S.MERCHANT: "US SaaS", S.MERCHANT_LOCATION: "US",
             S.CURRENCY_TYPE: "TWD"},
            {S.MERCHANT: "EU dual", S.MERCHANT_LOCATION: "DE",
             S.CURRENCY_TYPE: "EUR", S.PAYMENT_CURRENCY: "EUR",
             S.CURRENCY_AMOUNT: 9.0},
        ],
    )
    assert rows[0][S.TRANSACTION_TYPE] == "一般國外交易"  # JPY vs TWD differ
    assert rows[1][S.TRANSACTION_TYPE] == "台幣跨境交易"
    # 台幣跨境 syncs Currency_Amount := Payment_Amount (refine.py:353-357)
    assert rows[1][S.CURRENCY_AMOUNT] == 100.0
    assert rows[2][S.TRANSACTION_TYPE] == "一般雙幣交易"
    assert rows[2][S.CURRENCY_AMOUNT] == 9.0  # untouched


def test_pretyped_rows_untouched(spark):
    # stages fire only where the type is still blank (refine.py:272):
    # a pre-typed row keeps its type AND its columns uncleared even if
    # the merchant matches a payment keyword
    r = _classify(
        spark,
        [{S.MERCHANT: "網路銀行繳款", S.TRANSACTION_TYPE: "人工標記"}],
    )[0]
    assert r[S.TRANSACTION_TYPE] == "人工標記"
    assert r[S.CARD_TYPE] == "SomeCard"
    assert r[S.MOBILE_PAYMENT] == "Line Pay"


def test_blank_location_counts_as_foreign(spark):
    r = _classify(
        spark, [{S.MERCHANT: "SHOP", S.MERCHANT_LOCATION: None}]
    )[0]
    # '' != 'TW' in the reference's string-convention compare
    assert r[S.TRANSACTION_TYPE] == "一般國外交易"  # '' vs 'TWD' differ


CARD_RULES = [
    {"對應卡片": "GogoV1", "卡號": "1234"},
    {"對應卡片": "Cube", "卡號": "5678/9012", "卡號代換": "5678"},
    {"對應卡片": "UApple", "卡號": "1111", "行動支付標籤": "Apple Pay",
     "加在消費明細摘要前方": "ApplePay－"},
    {"對應卡片": "GogoV2", "卡號": "1234"},  # overlaps rule 1 → wins
]


def _cards(spark, rows: list[dict]) -> list[dict]:
    base = {S.CARD_NO: None, S.CARD_TYPE: None, S.MOBILE_PAYMENT: None}
    pdf = pd.DataFrame([{**base, **r} for r in rows])
    out = apply_card_mapping(spark.createDataFrame(pdf), CARD_RULES)
    return [r.asDict() for r in out.collect()]


def test_card_last_match_wins_and_modes(spark):
    rows = _cards(
        spark,
        [
            {S.CARD_NO: "12 34"},                      # spaces stripped in key
            {S.CARD_NO: "5678/9012"},                  # dual-number exact
            {S.CARD_NO: "1111", S.MOBILE_PAYMENT: "Apple Pay"},
            {S.CARD_NO: "1111"},                        # compound key misses
            {S.CARD_NO: "9999"},                        # no rule
        ],
    )
    assert rows[0][S.CARD_TYPE] == "GogoV2"  # last matching rule wins
    assert rows[0][S.CARD_NO] == "12 34"     # no replacement → untouched
    assert rows[1][S.CARD_TYPE] == "Cube"
    assert rows[1][S.CARD_NO] == "5678"      # 卡號代換 applied
    assert rows[2][S.CARD_TYPE] == "UApple"
    assert rows[2][PAYMENT_PREFIX] == "ApplePay－"
    assert rows[3][S.CARD_TYPE] is None      # mobile tag required, absent
    assert rows[4][S.CARD_TYPE] is None


def test_card_snapshot_keys_no_cascade(spark):
    # A rule replacing a card number must not let LATER rules match the
    # replacement (snapshot semantics, refine.py:139-140).
    rules = [
        {"對應卡片": "A", "卡號": "1000", "卡號代換": "2000"},
        {"對應卡片": "B", "卡號": "2000"},
    ]
    pdf = pd.DataFrame([{S.CARD_NO: "1000", S.CARD_TYPE: None,
                         S.MOBILE_PAYMENT: None}])
    out = apply_card_mapping(spark.createDataFrame(pdf), rules)
    r = out.collect()[0].asDict()
    assert r[S.CARD_NO] == "2000"
    assert r[S.CARD_TYPE] == "A"  # rule B saw the ORIGINAL key, not 2000


#: C2 rules as the loader hands them over: priority-descending.
PAYMENT_RULES = [
    {"Pattern": "LINE PAY", "Prefix_Label": "LinePay－", "Category": "LINE Pay",
     "Priority": 50.0},
    {"Pattern": "PAY", "Prefix_Label": "Pay－", "Category": "OtherPay",
     "Priority": 10.0},
]


def test_third_party_first_match_by_priority(spark):
    pdf = pd.DataFrame({
        S.MERCHANT: ["LINE PAY 全家", "APPLE PAY 星巴克", "誠品書店", None],
        S.MOBILE_PAYMENT: [None, " ", None, None],
    })
    out = identify_third_party_payment(spark.createDataFrame(pdf), PAYMENT_RULES)
    got = [(r[S.MOBILE_PAYMENT], r[PAYMENT_PREFIX]) for r in out.collect()]
    assert got == [
        ("LINE Pay", "LinePay－"),   # both rules match: the higher wins
        ("OtherPay", "Pay－"),       # whitespace-only mobile is blank
        (None, None),
        (None, None),
    ]


def test_card_rule_mobile_blocks_third_party_tag(spark):
    # a dual-number card rule writes Mobile_Payment on a row that came in
    # blank; C2 must then leave it alone although its merchant matches
    rules = [{"對應卡片": "Cube", "卡號": "5678/9012", "行動支付標籤": "Apple Pay",
              "加在消費明細摘要前方": "ApplePay－"}]
    pdf = pd.DataFrame({
        S.CARD_NO: ["5678/9012", "2222"],
        S.CARD_TYPE: [None, None],
        S.MOBILE_PAYMENT: [None, None],
        S.MERCHANT: ["LINE PAY 全家", "LINE PAY 全家"],
    })
    df = apply_card_mapping(spark.createDataFrame(pdf), rules)
    out = identify_third_party_payment(df, PAYMENT_RULES).collect()
    assert (out[0][S.MOBILE_PAYMENT], out[0][PAYMENT_PREFIX]) == (
        "Apple Pay", "ApplePay－")
    assert (out[1][S.MOBILE_PAYMENT], out[1][PAYMENT_PREFIX]) == (
        "LINE Pay", "LinePay－")


def test_payment_method_longest_prefix_gate_and_fallback(spark):
    rules = [
        {"Prefix_Label": "Line－", "Category": "LINE", "Priority": "30"},
        {"Prefix_Label": "LinePay－", "Category": "LINE Pay", "Priority": "25"},
        {"Prefix_Label": "街口－", "Category": "街口支付", "Priority": ""},
        {"Prefix_Label": "全支付－", "Category": "全支付", "Priority": "19"},
    ]
    names = ["LinePay－全家", " Line－星巴克", "街口－麥當勞", "全支付－7-11", None]
    pdf = pd.DataFrame({"merchant_name": names})
    out = identify_payment_method(spark.createDataFrame(pdf), rules).collect()
    assert [r["Payment_Method"] for r in out] == [
        "LINE Pay",        # LinePay－ beats the shorter Line－
        "LINE",            # the name is trimmed before the match
        FALLBACK_METHOD,   # a blank Priority excludes the rule
        FALLBACK_METHOD,   # Priority 19 is under the gate
        FALLBACK_METHOD,   # null merchant
    ]

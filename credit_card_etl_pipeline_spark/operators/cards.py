"""Card consolidation (operators C1, H10).

Re-expression of the reference's ``apply_card_mapping``
(refine.py:114-174) and ``cleanup_cathay_remaining`` (refine.py:176-182).

Reference semantics preserved exactly:

* Matching keys are **snapshotted before any rule applies**
  (refine.py:139-140): card number with spaces removed, mobile-payment
  tag trimmed — later rules never see an earlier rule's writes (a true
  join, not a cascade — SURVEY §4 trap 4).
* Three match modes per rule (refine.py:154-166): dual-number exact
  (``'NNNN/NNNN'``), compound card+mobile, plain card.
* Rules iterate in **file order** and every matching rule writes, so for
  each output field the LAST matching rule with a non-empty value wins.
* A rule writes a field only when its value is non-empty.

Compilation: the rules are one literal array; each row matches its
snapshot keys against it once with ``filter``, and each output field
takes the last matching rule whose value is non-empty, or else keeps its
value — zero shuffles, zero joins, and the same plan at any rule count.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schema as S
from ..functions.predicates import rule_table, s

#: cards.csv column names (refine.py:121-125).
CARD_NAME_COL = "對應卡片"
CARD_NO_COL = "卡號"
MOBILE_TAG_COL = "行動支付標籤"
PREFIX_COL = "加在消費明細摘要前方"
REPLACE_NO_COL = "卡號代換"

PAYMENT_PREFIX = "payment_prefix"


def apply_card_mapping(df: DataFrame, rules: list[dict[str, Any]]) -> DataFrame:
    """C1: assign Card_Type / Mobile_Payment / payment_prefix / Card_No
    from the card rule table; adds the ``payment_prefix`` working column.
    """
    out_fields = {
        CARD_NAME_COL: S.CARD_TYPE,
        MOBILE_TAG_COL: S.MOBILE_PAYMENT,
        PREFIX_COL: PAYMENT_PREFIX,
        REPLACE_NO_COL: S.CARD_NO,
    }
    rows = []
    for r in rules:
        card = (r.get(CARD_NO_COL) or "").replace(" ", "")
        if not card:
            continue
        # Match modes (refine.py:154-166): a dual number 'NNNN/NNNN'
        # matches the card alone, else a mobile tag makes the key
        # compound; '' matches any mobile tag.
        mobile = "" if "/" in card else (r.get(MOBILE_TAG_COL) or "").strip()
        values = [(r.get(c) or "").strip() for c in out_fields]
        rows.append((card, mobile, *values))
    table = rule_table(rows, "card", "mobile", *out_fields.values())

    # Snapshot keys (refine.py:139-140): evaluated against the INPUT
    # columns only, so no rule sees another rule's writes.
    card_key = F.regexp_replace(s(S.CARD_NO), " ", "")
    mobile_key = F.trim(s(S.MOBILE_PAYMENT))
    if PAYMENT_PREFIX not in df.columns:
        df = df.withColumn(PAYMENT_PREFIX, F.lit(None).cast("string"))
    df = df.withColumn(
        "__c1",
        F.filter(
            table,
            lambda r: (r.card == card_key)
            & ((r.mobile == "") | (r.mobile == mobile_key)),
        ),
    )
    # Rules apply in file order and each writes its non-empty values,
    # so the last matching rule with a value wins (refine.py:154-172).
    return df.withColumns(
        {
            target: F.coalesce(
                F.try_element_at(
                    F.filter("__c1", lambda r: r[target] != ""), F.lit(-1)
                )[target],
                F.col(target),
            )
            for target in out_fields.values()
        }
    ).drop("__c1")


def cleanup_cathay_remaining(df: DataFrame) -> DataFrame:
    """H10: unresolved Cathay dual card numbers keep the first segment
    (refine.py:176-182)."""
    mask = (s(S.BANK_NAME) == "cube_bank") & F.coalesce(
        F.col(S.CARD_NO).contains("/"), F.lit(False)
    )
    return df.withColumn(
        S.CARD_NO,
        F.when(mask, F.trim(F.split(F.col(S.CARD_NO), "/", 2).getItem(0))).otherwise(
            F.col(S.CARD_NO)
        ),
    )

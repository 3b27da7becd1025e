"""Third-party payment identification (operators C2, C5).

C2 — ``identify_third_party_payment`` (refine.py:184-202): rules sorted
priority-descending (stable); for each rule, rows whose Merchant matches
``Pattern`` AND whose Mobile_Payment is still blank get
``payment_prefix = Prefix_Label`` and ``Mobile_Payment = Category``.
Because a match fills Mobile_Payment, later rules can't re-match — i.e.
first-match-wins over the sorted rule list.  Compiled here as the first
match of one literal rule array in priority order, guarded by the row's
ORIGINAL blank test (equivalent: a row matched by any rule takes the
first such rule).

C5 — ``identify_payment_method`` (db_to_Payment_RFM.py:34-84): maps a
merchant-name *prefix* back to the payment-method category for the
payment-RFM job.  Only rules with ``Priority >= 20`` participate
(db_to_Payment_RFM.py:21,52); prefixes are tried longest-first
(db_to_Payment_RFM.py:66) so ``LinePay－`` beats ``Line－``; no match →
``實體卡/其他``.  Compiled as the first ``startswith`` match of one literal
prefix array.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schema as S
from ..functions.predicates import blank, rule_table, s
from .cards import PAYMENT_PREFIX

FALLBACK_METHOD = "實體卡/其他"


def identify_third_party_payment(
    df: DataFrame, rules: list[dict[str, Any]]
) -> DataFrame:
    """C2: tag mobile-payment category + merchant prefix, FMW by priority."""
    if PAYMENT_PREFIX not in df.columns:
        df = df.withColumn(PAYMENT_PREFIX, F.lit(None).cast("string"))

    table = rule_table(
        (
            (r["Pattern"], r.get("Prefix_Label"), r.get("Category"))
            for r in rules
            if r.get("Pattern")
        ),
        "p",
        "prefix",
        "category",
    )
    merchant = s(S.MERCHANT)
    first = F.try_element_at(
        F.filter(table, lambda r: F.regexp_like(merchant, r.p)), F.lit(1)
    )
    # The matched rule gets its own projection: it is read four times.
    df = df.withColumn("__c2", F.when(blank(S.MOBILE_PAYMENT), first))
    hit = F.col("__c2").isNotNull()
    return df.withColumns(
        {
            PAYMENT_PREFIX: F.when(hit, F.col("__c2.prefix")).otherwise(
                F.col(PAYMENT_PREFIX)
            ),
            S.MOBILE_PAYMENT: F.when(hit, F.col("__c2.category")).otherwise(
                F.col(S.MOBILE_PAYMENT)
            ),
        }
    ).drop("__c2")


def _c5_priority(r: dict[str, Any]) -> float | None:
    """The reference gates C5 with pandas ``Priority >= 20`` where NaN
    compares False (db_to_Payment_RFM.py:52) — so a missing/unparseable
    priority EXCLUDES the rule, unlike load_rule_csv's 999 default.
    Prefer the raw pre-coercion value when the loader preserved it."""
    raw = r.get("Priority_raw", r.get("Priority"))
    try:
        v = float(raw)
        return None if v != v else v  # NaN → excluded
    except (TypeError, ValueError):
        return None


def payment_method_prefixes(rules: list[dict[str, Any]]) -> list[tuple[str, str]]:
    """C5 rule prep: ``(prefix, category)`` for Priority ≥ 20, sorted by
    prefix length descending (stable)."""
    prefix_map: dict[str, str] = {}
    for r in rules:
        prefix = (r.get("Prefix_Label") or "").strip()
        priority = _c5_priority(r)
        if priority is not None and priority >= 20 and prefix and prefix.lower() != "nan":
            # dict assignment: duplicate prefixes keep the LAST category,
            # matching the reference's prefix_map construction.
            prefix_map[prefix] = (r.get("Category") or "").strip()
    return sorted(prefix_map.items(), key=lambda pc: -len(pc[0]))


def identify_payment_method(
    df: DataFrame,
    rules: list[dict[str, Any]],
    *,
    merchant_col: str = "merchant_name",
    out: str = "Payment_Method",
) -> DataFrame:
    """C5: longest-prefix → category lookup with fallback bucket."""
    name = F.trim(F.col(merchant_col))
    table = rule_table(payment_method_prefixes(rules), "p", "category")
    first = F.try_element_at(
        F.filter(table, lambda r: name.startswith(r.p)), F.lit(1)
    )
    return df.withColumn(out, F.coalesce(first.category, F.lit(FALLBACK_METHOD)))

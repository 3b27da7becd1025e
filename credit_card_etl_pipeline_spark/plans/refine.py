"""The transform pipeline (reference: refine.py:370-433).

Composition of pure DataFrame stages — order is semantics
(SURVEY §3.2): card mapping must precede third-party tagging (whose
blank-mobile guard must see card-rule writes); merchant regex cleaning
precedes classification (keyword matching sees canonical names); prefix
stitching runs last so the RFM jobs can strip prefixes back off.

The whole pipeline is one lazy expression chain per column — zero
shuffles, one codegen'd stage; Catalyst collapses the stacked
projections.  The rule tables are applied by higher-order functions,
which that stage evaluates interpreted.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from .. import schema as S
from ..functions.extract import apply_final_prefixes, process_esun_epoint
from ..operators.cards import apply_card_mapping, cleanup_cathay_remaining
from ..operators.classify import classify_transaction_type
from ..operators.merchants import clean_merchant_by_regex
from ..operators.payments import identify_third_party_payment
from ..sources.configs import TransactionTypeKeywords


@dataclass
class RefineConfig:
    """Driver-side rule bundle (the reference's config directory)."""

    card_rules: list[dict[str, Any]] = field(default_factory=list)
    payment_rules: list[dict[str, Any]] = field(default_factory=list)
    merchant_rules: list[dict[str, Any]] = field(default_factory=list)
    keywords: TransactionTypeKeywords = field(
        default_factory=TransactionTypeKeywords
    )

    @classmethod
    def from_config_dir(cls, config_dir: str) -> "RefineConfig":
        import os

        from ..sources.configs import load_rule_csv

        def opt(name: str, **kw) -> list[dict[str, Any]]:
            p = os.path.join(config_dir, name)
            return load_rule_csv(p, **kw) if os.path.exists(p) else []

        return cls(
            card_rules=opt("cards.csv", require_pattern=False, validate_patterns=False),
            payment_rules=opt("payment_gateway.csv"),
            merchant_rules=opt("merchants.csv"),
            keywords=TransactionTypeKeywords.from_yaml(
                os.path.join(config_dir, "transaction_types.yaml")
            ),
        )


def refine(df: DataFrame, config: RefineConfig) -> DataFrame:
    """result_all_banks → refined_all_banks (refine.py main flow)."""
    df = S.conform(df)
    df = apply_card_mapping(df, config.card_rules)          # Step 1 (C1)
    df = cleanup_cathay_remaining(df)                       #        (H10)
    df = identify_third_party_payment(df, config.payment_rules)  # Step 2 (C2)
    df = process_esun_epoint(df)                            # Step 3 (H11)
    df = clean_merchant_by_regex(df, config.merchant_rules)  #       (C3)
    df = classify_transaction_type(df, config.keywords)     # Step 4 (I1)
    df = apply_final_prefixes(df)                           # Step 5 (H12)
    # Reference cols_order exactly (refine.py:422-431) — 15 columns,
    # Amount and Raw_Country_Currency excluded.
    return df.select(*S.REFINED_COLUMNS)

"""C4 resolution cases that the resolver's single path must meet: the
results the stage-3 when-chain gave, first-match-wins between two
matching regex rules, and stable results for duplicates spread over
partitions. The resolver holds no join, so partitioning cannot matter."""

from __future__ import annotations

import pandas as pd

from credit_card_etl_pipeline_spark.operators.merchants import (
    resolve_merchant_hybrid,
)

RULES = [
    {"Pattern": "^STORE-\\d+$", "Replacement": "STORE-3", "Priority": "50",
     "Category": "Cafe", "Sub_Category": "Chain", "RFM_Exclusion": "False"},
    {"Pattern": "^FOOD", "Replacement": "FoodCourt", "Priority": "40",
     "Category": "Food", "Sub_Category": "", "RFM_Exclusion": "False"},
    {"Pattern": "FOOD-9", "Replacement": "Nine", "Priority": "30",
     "Category": "Nine", "Sub_Category": "", "RFM_Exclusion": "True"},
]

PREFIXES = ["LinePay－"]

# name → (clean_merchant_name, Category, RFM_Exclusion), as the when-chain
# resolved them
CASES = {
    "LinePay－STORE-7": ("STORE-3", "Cafe", False),   # strip → regex rule 1
    "STORE-3": ("STORE-3", "Cafe", False),            # exact lookup (stage 2)
    "FOOD-9 deluxe": ("FoodCourt", "Food", False),    # rules 2, 3 match: FMW
    "unmatched shop": ("unmatched shop", "Unknown", False),  # stage 4 fallback
    None: ("Unknown", "Unknown", False),              # null → Unknown
}


def _resolved(df) -> tuple[int, dict]:
    """Rows out, and merchant string → the set of results its rows got."""
    rows = resolve_merchant_hybrid(
        df, RULES, PREFIXES, merchant_col="merchant_name"
    ).collect()
    res: dict = {}
    for r in rows:
        res.setdefault(r["merchant_name"], set()).add(
            (r["clean_merchant_name"], r["Category"], r["RFM_Exclusion"])
        )
    return len(rows), res


def test_join_path_duplicates_and_repartition(spark):
    """200 rows arriving pre-shuffled: the row count holds and every
    duplicate of a merchant string resolves the same way."""
    names = ["FOOD-9 deluxe", "LinePay－STORE-7", "unmatched shop", None] * 50
    pdf = pd.DataFrame({"merchant_name": names, "v": range(len(names))})
    df = spark.createDataFrame(pdf).repartition(7, "v")
    assert _resolved(df) == (
        len(names), {name: {CASES[name]} for name in set(names)}
    )


def test_join_path_equals_when_chain(spark):
    pdf = pd.DataFrame({"merchant_name": list(CASES)})
    assert _resolved(spark.createDataFrame(pdf)) == (
        len(CASES), {name: {want} for name, want in CASES.items()}
    )

"""Rule tables of 1,000 rows through ``refine`` and the C4 resolver:
the values hold and the optimized plans have the same nodes as at 4
rules. The resolver's per-stage cases are in test_merchant_join_path."""

from __future__ import annotations

import dataclasses

from credit_card_etl_pipeline_spark import schema as S
from credit_card_etl_pipeline_spark.operators.merchants import (
    resolve_merchant_hybrid,
)
from credit_card_etl_pipeline_spark.plans.refine import refine
from credit_card_etl_pipeline_spark.queries.refine_queries import REFINE_CONFIG

PREFIXES = ["LinePay－"]


def _expr_nodes(df) -> int:
    """Expression nodes of the optimized logical plan, walked node by node."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def expr(e) -> int:
        return 1 + sum(expr(c) for c in seq(e.children()))

    def plan(p) -> int:
        return sum(expr(e) for e in seq(p.expressions())) + sum(
            plan(c) for c in seq(p.children())
        )

    return plan(df._jdf.queryExecution().optimizedPlan())


def _rdd_frame(spark, rows, schema):
    # an RDD, not a local relation: the optimizer would otherwise fold
    # the whole projection into the data
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)


def test_thousand_rule_tables_keep_plan_shape(spark):
    # C3 through refine: a 998-step re-matching chain plus the
    # UBER EATS → UberEats → 優食外送 cascade (SURVEY §4 trap 3)
    def merchant_rules(n_chain):
        chain = [{"Pattern": f"^STEP{i}$", "Replacement": f"STEP{i + 1}"}
                 for i in range(n_chain)]
        return chain + [
            {"Pattern": "(?i)uber\\s*eats", "Replacement": "UberEats"},
            {"Pattern": "^UberEats$", "Replacement": "優食外送"},
        ]

    names = ["STEP0", "STEP500", "UBER EATS", "SHOP", None]
    cols = S.CANONICAL_COLUMNS
    canon = _rdd_frame(
        spark,
        [tuple(n if c == S.MERCHANT else None for c in cols) for n in names],
        ", ".join(f"`{c}` string" for c in cols),
    )

    def refined(n_chain):
        config = dataclasses.replace(
            REFINE_CONFIG, merchant_rules=merchant_rules(n_chain)
        )
        return refine(canon, config)

    big = refined(998)
    assert sorted(
        (r[S.MERCHANT] for r in big.collect()), key=lambda m: m or ""
    ) == [None, "SHOP", "STEP998", "STEP998", "優食外送"]
    assert _expr_nodes(big) == _expr_nodes(refined(2))

    # C4 with 1,000 regex rules: two of them match, the first wins
    def regex_rules(n):
        rules = [
            {"Pattern": f"^NEVER{i}$", "Replacement": f"N{i}", "Category": "Never"}
            for i in range(n)
        ]
        rules[n // 2] = {"Pattern": "^SHOP", "Replacement": "Shop",
                         "Category": "Retail", "Sub_Category": "Mall",
                         "RFM_Exclusion": "True"}
        rules[-1] = {"Pattern": "SHOP", "Replacement": "Late",
                     "Category": "Late"}
        return rules

    merchants = _rdd_frame(
        spark, [("LinePay－SHOP 12",), ("N7",), ("cafe",), (None,)],
        "merchant_name string",
    )

    def resolved(n):
        return resolve_merchant_hybrid(merchants, regex_rules(n), PREFIXES)

    got = {
        r["merchant_name"]: (r["clean_merchant_name"], r["Category"],
                             r["Sub_Category"], r["RFM_Exclusion"])
        for r in resolved(1000).collect()
    }
    assert got == {
        "LinePay－SHOP 12": ("Shop", "Retail", "Mall", True),
        "N7": ("N7", "Never", "", False),          # exact lookup
        "cafe": ("cafe", "Unknown", "", False),
        None: ("Unknown", "Unknown", "", False),
    }
    assert _expr_nodes(resolved(1000)) == _expr_nodes(resolved(4))

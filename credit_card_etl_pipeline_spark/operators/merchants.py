"""Merchant canonicalization (operators C3, C4).

C3 — ``clean_merchant_by_regex`` (refine.py:228-245): rules iterate in
priority-descending order; rows whose CURRENT merchant value matches
``Pattern`` get the whole value replaced by ``Replacement``;
empty-Replacement rules are skipped.  The reference's loop is
**sequential**: a later rule can re-match a value written by an earlier
rule (SURVEY §4 trap 3).  We replicate exactly with a left fold over the
rules — one projection, no UDF, no shuffle.

C4 — ``process_merchant_hybrid`` (db_to_RFManalysis.py:105-134): the
RFM job's three-stage resolver:

1. strip the longest matching payment prefix (prefixes sorted
   length-descending; db_to_RFManalysis.py:43-46,115-118);
2. exact lookup of the stripped name against the rule table's
   ``Replacement`` key (db_to_RFManalysis.py:122-125);
3. regex scan in priority order (db_to_RFManalysis.py:128-130);
4. fallback: keep the name, category ``Unknown`` (…:133-134).

Every rule table is one literal array of structs (``rule_table``)
applied by one higher-order function, so the plan has the same shape at
4 rules and at 1,000; only the literal grows.  A pattern read from the
array is compiled per evaluation instead of once per plan, the price of
that constant shape.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schema as S
from ..functions.predicates import rule_table, s


def clean_merchant_by_regex(
    df: DataFrame, rules: list[dict[str, Any]], merchant_col: str = S.MERCHANT
) -> DataFrame:
    """C3: sequential whole-value regex canonicalization.

    Each rule re-matches the PREVIOUS rule's output (the reference's
    cascade, SURVEY §4 trap 3), so the rules are a left fold over the
    priority-ordered table: ``aggregate(rules, m, (acc, r) -> CASE WHEN
    acc RLIKE r.p THEN r.v ELSE acc END)``.  Zero shuffles, zero UDFs.
    """
    table = rule_table(
        ((r.get("Pattern"), r["Replacement"]) for r in rules if r.get("Replacement")),
        "p",
        "v",
    )
    folded = F.aggregate(
        table,
        s(merchant_col),  # astype(str) view: null → ''
        lambda acc, r: F.when(F.regexp_like(acc, r.p), r.v).otherwise(acc),
        # Restore the engine's internal null convention ('' ≡ null).
        lambda acc: F.nullif(acc, F.lit("")),
    )
    return df.withColumn(merchant_col, folded)


def _strip_prefix_expr(col: Column, prefixes: list[str]) -> Column:
    """Stage 1: remove the FIRST matching prefix in length-descending
    order (the reference breaks after one strip)."""
    longest_first = sorted(
        {p.strip() for p in prefixes if p and p.strip()}, key=len, reverse=True
    )
    table = rule_table(((p,) for p in longest_first), "p")
    hit = F.try_element_at(F.filter(table, lambda r: col.startswith(r.p)), F.lit(1))
    return F.coalesce(col.substr(F.length(hit.p) + 1, F.lit(2**31 - 1)), col)


def resolve_merchant_hybrid(
    df: DataFrame,
    rules: list[dict[str, Any]],
    payment_prefixes: list[str],
    *,
    merchant_col: str = "merchant_name",
) -> DataFrame:
    """C4: append ``clean_merchant_name``, ``Category``, ``Sub_Category``,
    ``RFM_Exclusion`` columns.

    ``rules`` rows carry Pattern / Replacement / Priority / Category /
    Sub_Category / RFM_Exclusion (merchants.csv schema,
    db_to_RFManalysis.py:59-99).
    """
    # Reference trims, strips the first (longest) matching prefix, then
    # trims again (db_to_RFManalysis.py:115-120).  Null merchants resolve
    # to "Unknown"/"Unknown" (the isinstance guard, …:110-111).
    trimmed = F.trim(s(merchant_col))
    df = df.withColumn(
        "__stripped", F.trim(_strip_prefix_expr(trimmed, payment_prefixes))
    )
    stripped = F.col("__stripped")

    fields = ("p", "n", "c", "s", "e")

    def row(r: dict[str, Any], pattern: str | None) -> tuple[str | None, ...]:
        return (
            pattern,
            (r.get("Replacement") or "").strip(),
            r.get("Category") or "",
            r.get("Sub_Category") or "",
            # merchants.csv carries RFM_Exclusion as 'True'/'False'
            # strings (db_to_RFManalysis.py:82)
            str(r.get("RFM_Exclusion")).strip().lower(),
        )

    # Stage 2: exact lookup of the stripped name in a literal map from
    # each Replacement (first occurrence wins) to its rule.
    exact: dict[str, tuple[str | None, ...]] = {}
    for r in rules:
        key = (r.get("Replacement") or "").strip()
        if key and key not in exact:
            exact[key] = row(r, None)
    by_name = rule_table(exact.values(), *fields)
    lookup = F.try_element_at(F.map_from_arrays(by_name.n, by_name), stripped)

    # Stage 3: case-insensitive regex scan in priority order for stage-2
    # misses (FMW; the reference compiles every pattern with
    # re.IGNORECASE — db_to_RFManalysis.py:76).
    by_pattern = rule_table(
        (row(r, "(?i)" + r["Pattern"]) for r in rules if r.get("Pattern")), *fields
    )
    scan = F.try_element_at(
        F.filter(by_pattern, lambda r: F.regexp_like(stripped, r.p)), F.lit(1)
    )
    # The matched rule lives in its own projection: it is non-cheap and
    # read by all four outputs, so CollapseProject keeps it evaluated once.
    df = df.withColumn(
        "__rule", F.when(F.col(merchant_col).isNotNull(), F.coalesce(lookup, scan))
    )
    rule = F.col("__rule")

    # Stage 4 fallback: keep the stripped name, or the raw name if
    # stripping emptied it; null merchant → "Unknown" (…:130-134).
    fallback_name = (
        F.when(F.col(merchant_col).isNull(), F.lit("Unknown"))
        .when(stripped != "", stripped)
        .otherwise(s(merchant_col))
    )
    return df.withColumns(
        {
            "clean_merchant_name": F.coalesce(rule.n, fallback_name),
            "Category": F.coalesce(rule.c, F.lit("Unknown")),
            "Sub_Category": F.coalesce(rule.s, F.lit("")),
            "RFM_Exclusion": F.coalesce(rule.e == "true", F.lit(False)),
        }
    ).drop("__stripped", "__rule")


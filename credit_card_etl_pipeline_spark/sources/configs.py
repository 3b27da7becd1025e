"""Rule-table and taxonomy loaders (operator A8).

Config tables are KB-sized dimension data: loaded driver-side (plain
pandas/yaml), validated, priority-sorted, and compiled by the operators
that consume them into one literal array each, applied by a
higher-order function.

Semantics preserved from the reference:

* ``Priority`` coerced to numeric, invalid/missing → 999, sorted
  descending with a **stable** sort so equal priorities keep file order
  (refine.py:62-66, refine.py:95-98);
* blank patterns dropped (refine.py:104);
* missing ``Replacement`` column materialized as ``''`` (refine.py:99-102);
* invalid regexes are skipped with a warning at compile time
  (db_to_RFManalysis.py:95-96) — validated here with Python ``re``.
  NOTE: the engine executes patterns with Java regex; a Python-only
  construct (e.g. ``(?P<x>...)`` named groups) passes this validation
  and fails at runtime inside ``rlike``.  The reference's config corpus
  uses the common subset compatible with both.
"""

from __future__ import annotations

import re
import warnings
from dataclasses import dataclass, field
from typing import Any

try:
    import yaml
except ImportError:  # pragma: no cover
    yaml = None


def load_yaml_config(path: str) -> dict[str, Any]:
    """YAML safe-load; missing file → {} (refine.py:56-60)."""
    import os

    if yaml is None or not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as f:
        return yaml.safe_load(f) or {}


def _coerce_priority(v: Any) -> float:
    try:
        f = float(v)
        return 999.0 if f != f else f  # NaN → 999
    except (TypeError, ValueError):
        return 999.0


def sort_rules_by_priority(rules: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Stable priority-descending sort (operator F3).

    The raw (pre-coercion) priority is preserved under ``Priority_raw``
    for consumers whose reference semantics treat NaN differently from
    the 999 default (e.g. C5's ``Priority >= 20`` gate where pandas NaN
    compares False — db_to_Payment_RFM.py:52).
    """
    for r in rules:
        r.setdefault("Priority_raw", r.get("Priority"))
        r["Priority"] = _coerce_priority(r.get("Priority"))
    return sorted(rules, key=lambda r: -r["Priority"])


def valid_regex(pattern: str) -> bool:
    try:
        re.compile(pattern)
        return True
    except re.error:
        return False


def load_rule_csv(
    path: str,
    *,
    require_pattern: bool = True,
    validate_patterns: bool = True,
) -> list[dict[str, Any]]:
    """Read a CSV rule table (dtype=str), priority-sorted descending.

    Returns a list of dict records — the universal driver-side rule
    shape consumed by the operator compilers.
    """
    import pandas as pd

    df = pd.read_csv(path, dtype=str, keep_default_na=False)
    df.columns = [c.strip().lstrip("﻿") for c in df.columns]
    records = df.to_dict("records")
    records = [{k: (v.strip() if isinstance(v, str) else v) for k, v in r.items()} for r in records]
    if require_pattern:
        records = [r for r in records if (r.get("Pattern") or "").strip()]
    if validate_patterns:
        kept = []
        for r in records:
            p = r.get("Pattern", "")
            if valid_regex(p):
                kept.append(r)
            else:
                warnings.warn(f"skipping invalid regex rule: {p!r}", stacklevel=2)
        records = kept
    return sort_rules_by_priority(records)


@dataclass
class TransactionTypeKeywords:
    """The three keyword taxonomies feeding the classifier (I1)
    (configs/transaction_types.yaml:3-38)."""

    payment_keywords: list[str] = field(default_factory=list)
    credit_keywords: list[str] = field(default_factory=list)
    fee_keywords: list[str] = field(default_factory=list)

    @classmethod
    def from_yaml(cls, path: str) -> "TransactionTypeKeywords":
        cfg = load_yaml_config(path)
        return cls(
            payment_keywords=cfg.get("payment_keywords") or [],
            credit_keywords=cfg.get("credit_keywords") or [],
            fee_keywords=cfg.get("fee_keywords") or [],
        )

    @staticmethod
    def pattern_of(keywords: list[str]) -> str:
        """Alternation pattern; empty list → never-match ``(?!)``
        (refine.py:268-270)."""
        return "|".join(keywords) if keywords else "(?!)"

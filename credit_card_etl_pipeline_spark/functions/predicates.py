"""Null-safe predicate helpers.

The reference carries missing strings as ``''`` (pandas fillna) while the
engine holds real SQL nulls internally (SURVEY §4 trap 7).  These helpers
express the reference's ``''``-convention guards over nullable columns.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import schema as S


def blank(col: Column | str) -> Column:
    """True where the reference would see ``''`` (null or empty/whitespace)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.trim(c) == "", F.lit(True))


def not_blank(col: Column | str) -> Column:
    return ~blank(col)


def s(col: Column | str) -> Column:
    """The reference's ``astype(str)``-view of a column: null → ''."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(""))


def contains_ci(col: Column | str, pattern: str) -> Column:
    """pandas ``str.contains(pattern, case=False, na=False)``: partial
    regex match, case-insensitive, null → False."""
    return F.coalesce(s(col).rlike(f"(?i){pattern}"), F.lit(False))


def rule_table(rows: Iterable[Sequence[str | None]], *fields: str) -> Column:
    """A rule table as one literal ``array<struct<fields: string>>`` (row
    order kept, ``None`` → null).  It is built from one JSON string that
    Catalyst folds into a single literal, so a plan that applies the
    table with a higher-order function has the same nodes at any row
    count, an empty table included."""
    text = json.dumps([dict(zip(fields, row)) for row in rows])
    schema = ",".join(f"{f}: string" for f in fields)
    return F.from_json(F.lit(text), f"array<struct<{schema}>>")


def by_bank(exprs: dict[str, Column], otherwise: Column) -> Column:
    """``CASE Bank_Name WHEN <bank_id> THEN exprs[bank_id] ... ELSE
    otherwise END`` — one bank-specific step over a frame of all banks."""
    bank = F.col(S.BANK_NAME)
    out = None
    for bank_id, expr in exprs.items():
        cond = bank == bank_id
        out = F.when(cond, expr) if out is None else out.when(cond, expr)
    return otherwise if out is None else out.otherwise(otherwise)

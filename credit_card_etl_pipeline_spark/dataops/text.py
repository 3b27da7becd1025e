"""Text normalization operators (engine extension).

Pure column expressions — normalized text, its whitespace tokens and a
content fingerprint — designed so a DuckDB SQL twin computes
bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """Lowercase, trim, collapse internal whitespace."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def words(col: Column) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(normalize_text(col), " ")


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (exact-dedup
    key; cross-engine stable)."""
    return F.md5(normalize_text(col))

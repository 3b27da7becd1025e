"""Warehouse sink tests: partitioned overwrite idempotency (A10) and the
count-back validation (A12)."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from credit_card_etl_pipeline_spark.warehouse import (
    to_warehouse,
    transaction_id,
    write_warehouse,
)


@pytest.fixture()
def refined_df(spark):
    pdf = pd.DataFrame(
        {
            "Transaction_Date": pd.to_datetime(
                ["2024-01-05", "2024-01-05", "2024-02-10", None]
            ).date,
            "Merchant": ["全聯", "全聯", "STARBUCKS", "ATM"],
            "Card_No": ["1234", "1234", None, "9"],
            "Payment_Amount": [100.0, 100.0, 45.5, 20.0],
            "Transaction_Type": ["交易", "交易", "交易", "繳款"],
            "Bank_Name": ["esun_bank"] * 4,
        }
    )
    return spark.createDataFrame(pdf)


def test_surrogate_key_stability_and_duplicates(spark, refined_df):
    wh = to_warehouse(refined_df.withColumn("tid", transaction_id()))
    rows = refined_df.select(transaction_id().alias("t")).collect()
    # identical inputs → identical key (rows 0,1); others differ
    assert rows[0]["t"] == rows[1]["t"]
    assert len({r["t"] for r in rows}) == 3
    # duplicates are kept, not deduped (reference contract)
    assert wh.count() == 4


def test_surrogate_key_renders_amounts_like_pandas(spark):
    """The key hashes the amount as pandas ``str(float)`` does
    (load_to_db.py:26-43), also at and above 1e7, where Spark's string
    cast would write ``1.0E7``."""
    amounts = [45.5, 9999999.0, 10000000.0, 12345678.5, -10000000.0]
    pdf = pd.DataFrame(
        {
            "Transaction_Date": pd.to_datetime(["2024-01-05"] * 5).date,
            "Merchant": ["全聯"] * 5,
            "Card_No": ["1234"] * 5,
            "Payment_Amount": amounts,
            "Transaction_Type": ["交易"] * 5,
        }
    )
    got = [
        r["t"]
        for r in spark.createDataFrame(pdf)
        .select(transaction_id().alias("t"))
        .collect()
    ]
    want = [
        hashlib.md5(f"2024-01-05全聯1234{a}交易".encode()).hexdigest()
        for a in amounts
    ]
    assert got == want


def test_write_overwrite_and_count_check(spark, refined_df, tmp_path):
    path = str(tmp_path / "all_transactions")
    wh = to_warehouse(refined_df)
    n = write_warehouse(wh, path, expected_rows=4)
    assert n == 4
    # partition layout: one dir per billing month + null bucket
    parts = {p for p in os.listdir(path) if p.startswith("year_month=")}
    assert parts == {
        "year_month=2024-01", "year_month=2024-02", "year_month=unknown",
    }
    # full-refresh overwrite is idempotent
    n2 = write_warehouse(wh, path, expected_rows=4)
    assert n2 == 4
    back = spark.read.parquet(path)
    assert back.where(F.col("transaction_id").isNull()).count() == 0


def test_incremental_partition_overwrite(spark, refined_df, tmp_path):
    path = str(tmp_path / "incr")
    write_warehouse(to_warehouse(refined_df), path)  # full history: 4 rows

    # a revised January statement: one row instead of two
    jan = refined_df.where(F.col("Transaction_Date") == "2024-01-05").limit(1)
    n = write_warehouse(to_warehouse(jan), path, incremental=True)
    # January replaced (2 → 1); February + unknown untouched → 3 total
    assert n == 3
    back = spark.read.parquet(path)
    assert back.where(F.col("year_month") == "2024-01").count() == 1
    assert back.where(F.col("year_month") == "2024-02").count() == 1
    assert back.where(F.col("year_month") == "unknown").count() == 1


def test_count_check_raises(spark, refined_df, tmp_path):
    path = str(tmp_path / "bad")
    with pytest.raises(ValueError, match="post-load validation"):
        write_warehouse(to_warehouse(refined_df), path, expected_rows=99)

"""Full-lifecycle integration: raw statement files → run_etl → refine →
warehouse load → card RFM — the reference's four entry points chained
as one lazy-plan pipeline."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from credit_card_etl_pipeline_spark import schema as S
from credit_card_etl_pipeline_spark.operators import rfm as rfm_ops
from credit_card_etl_pipeline_spark.plans.etl import run_etl
from credit_card_etl_pipeline_spark.plans.refine import RefineConfig, refine
from credit_card_etl_pipeline_spark.sources.configs import TransactionTypeKeywords
from credit_card_etl_pipeline_spark.warehouse import to_warehouse, write_warehouse
from tests.test_etl import CTBC_CSV, CUBE_CSV, ESUN_CSV, HNCB_HTML

CONFIG = RefineConfig(
    card_rules=[{"對應卡片": "Unicard+", "卡號": "1234"}],
    payment_rules=[
        {"Pattern": "ＬＩＮＥ　ＰＡＹ", "Category": "Line Pay",
         "Prefix_Label": "LinePay－", "Priority": "30"},
    ],
    merchant_rules=[
        {"Pattern": "UBER EATS", "Replacement": "UberEats", "Priority": "40"},
    ],
    keywords=TransactionTypeKeywords(
        payment_keywords=["繳款"], credit_keywords=["折抵"],
        fee_keywords=["年費"],
    ),
)


def test_full_lifecycle(spark, tmp_path):
    data_dir = tmp_path / "statements"
    data_dir.mkdir()
    (data_dir / "玉山銀行113年1月.csv").write_text(ESUN_CSV, encoding="utf-8")
    (data_dir / "國泰世華_202402.csv").write_text(CUBE_CSV, encoding="utf-8")
    (data_dir / "中信_202403.csv").write_bytes(CTBC_CSV.encode("cp950"))
    (data_dir / "華南_202404.html").write_bytes(HNCB_HTML.encode("big5"))

    # Extract → Transform → Load
    raw = run_etl(spark, str(data_dir))
    refined = refine(raw, CONFIG)
    wh = to_warehouse(refined)
    path = str(tmp_path / "all_transactions")
    n = write_warehouse(wh, path, expected_rows=wh.count())
    assert n == 10

    table = spark.read.parquet(path)
    rows = {r["merchant_name"]: r for r in table.collect()}

    # Card rule applied through the chain (esun ffill card 1234 → rule)
    assert rows["全聯福利中心"]["card_name"] == "Unicard+"
    # C2 tag + H12 prefix stitched on the Cube LINE PAY row
    assert "LinePay－ＬＩＮＥ　ＰＡＹ全家便利商店" in rows
    # classification: payment row typed 繳款, purchases typed 交易
    assert rows["信用卡繳款感謝您 轉帳"]["transaction_type"] == "繳款"
    assert rows["全聯福利中心"]["transaction_type"] == "交易"
    # C3 canonicalization before classification
    assert rows["UberEats"]["transaction_type"] == "交易"
    # surrogate keys are unique here (no duplicate input rows)
    assert table.select("transaction_id").distinct().count() == 10

    # Analyze: card RFM over the warehouse surface
    clean = rfm_ops.exclude_bank_noise(table).where(
        F.col("card_name").isNotNull() & (F.col("card_name") != "")
    )
    agg = rfm_ops.rfm_aggregate(
        clean,
        ["bank_name", "card_name"],
        date_col="transaction_date",
        id_col="transaction_id",
        amount_col="payment_amount",
        rank_metrics=("f", "m"),
    )
    out = {(r["bank_name"], r["card_name"]): r for r in agg.collect()}
    assert ("esun_bank", "Unicard+") in out
    assert out[("esun_bank", "Unicard+")]["frequency"] >= 2

"""Triangulate E1 rank semantics against REAL pandas running inside
Spark: an applyInPandas grouped-map computes ``rank(pct=True)`` with
pandas itself, and the engine's expression-based rank must agree on a
corpus with heavy ties — three independent implementations (pandas,
Spark expressions, DuckDB oracle) pinned to one semantic."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from credit_card_etl_pipeline_spark.functions.ranks import with_pct_rank


@pytest.mark.parametrize("ascending", [True, False])
def test_rank_matches_pandas_inside_spark(spark, ascending):
    src = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 97).alias("v"),  # heavy ties
    )
    src = src.withColumn(
        "v", F.when(F.col("id") % 13 == 0, None).otherwise(F.col("v"))
    )

    def pd_rank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["p"] = pdf["v"].rank(pct=True, ascending=ascending)
        return pdf[["id", "p"]]

    # single group = whole relation (pandas semantics are global)
    expected = (
        src.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(pd_rank, "id long, p double")
        .collect()
    )
    got = {
        r["id"]: r["p"]
        for r in with_pct_rank(src, "v", ascending=ascending, out="p").collect()
    }
    for r in expected:
        if r["p"] is None or pd.isna(r["p"]):
            assert got[r["id"]] is None
        else:
            assert got[r["id"]] == pytest.approx(r["p"], abs=1e-12)

"""Physical-plan regression tests: the scale-critical plan properties
(broadcast-only dimension joins, filter pushdown, no sort-merge joins
on rule lookups) must survive refactors."""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_hybrid_resolver_plan_has_no_join(spark):
    # every resolver stage is an expression over literal rule tables
    from credit_card_etl_pipeline_spark.queries.merchant_queries import (
        merchant_resolve_hybrid,
    )

    assert "Join" not in _plan(merchant_resolve_hybrid(spark, SF))


def test_rfm_dual_window_single_fact_aggregate(spark):
    from credit_card_etl_pipeline_spark.queries.rfm_queries import (
        rfm_customer_dual_window,
    )

    df = rfm_customer_dual_window(spark, SF)
    plan = _plan(df)
    # dual window must NOT appear as two fact aggregates + join: the
    # conditional-aggregation design has no SortMergeJoin anywhere
    assert "SortMergeJoin" not in plan
    # one lazy plan: the aggregate feeds the ranks without a persist
    assert "InMemoryTableScan" not in plan

    # the card report derives its analysis date from its own aggregate:
    # the executed plan scans orders twice (the rows and the B10 window's
    # anchor) and joins the one-row dates twice
    from credit_card_etl_pipeline_spark.queries.rfm_queries import (
        rfm_card_portfolio,
    )

    card = rfm_card_portfolio(spark, SF)
    card.collect()
    final = _plan(card).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 2
    assert final.count("BroadcastNestedLoopJoin") == 2


def test_refine_pipeline_is_shuffle_free(spark):
    # The whole transform (conform → C1 → H10 → C2 → H11 → C3 → I1 →
    # H12 → projection) must stay one narrow expression chain: zero
    # Exchange over an in-memory input.
    import pandas as pd

    from credit_card_etl_pipeline_spark import schema as S
    from credit_card_etl_pipeline_spark.plans.refine import refine
    from credit_card_etl_pipeline_spark.queries.refine_queries import (
        REFINE_CONFIG,
    )

    pdf = pd.DataFrame(
        [{c: None for c in S.CANONICAL_COLUMNS} | {S.MERCHANT: "SHOP"}]
    )
    df = spark.createDataFrame(pdf).withColumns(
        {c: F.col(c).cast("string") for c in S.CANONICAL_COLUMNS}
    )
    plan = _plan(refine(df, REFINE_CONFIG))
    assert "Exchange" not in plan


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .where(F.col("o_orderkey") == 42)
        .select("o_orderkey", "o_totalprice")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_orderkey)" in plan or "EqualTo(o_orderkey,42)" in plan
    # column pruning: ReadSchema carries only the projected columns
    assert "o_orderpriority" not in plan.split("ReadSchema")[1][:200]


def test_partitioned_warehouse_prunes_partitions(spark, tmp_path):
    # the month-partitioned warehouse must answer single-month queries
    # by reading ONE partition directory (PartitionFilters in the scan)
    import pyspark.sql.functions as F

    from credit_card_etl_pipeline_spark.warehouse import write_warehouse

    df = spark.range(1000).select(
        F.col("id").alias("ok"),
        F.expr("date_add(DATE'2024-01-01', CAST(id % 90 AS INT))").alias(
            "transaction_date"
        ),
        (F.col("id") * 100).alias("amt_cents"),
    )
    path = str(tmp_path / "wh")
    write_warehouse(df, path)
    scan = spark.read.parquet(path).where(F.col("year_month") == "2024-02")
    plan = _plan(scan)
    assert "PartitionFilters" in plan
    assert "2024-02" in plan
    # pruned read touches only the selected month's rows
    assert scan.count() == df.where(
        F.date_format("transaction_date", "yyyy-MM") == "2024-02"
    ).count()


def test_hypertable_rollup_readback_prunes_buckets(spark, tmp_path):
    # the hour-partitioned continuous aggregate must serve single-bucket
    # probes (the hypertable read path) from ONE partition directory
    import pyspark.sql.functions as F

    df = spark.range(500).select(
        (F.col("id") % 7).alias("hour_bucket"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
            "event_type"
        ),
        (F.col("id") * 10).alias("value_cents"),
    )
    path = str(tmp_path / "rollup")
    df.repartition(F.col("hour_bucket")).write.mode("overwrite").partitionBy(
        "hour_bucket"
    ).parquet(path)
    probe = spark.read.parquet(path).where(F.col("hour_bucket") == 3)
    plan = _plan(probe)
    assert "PartitionFilters" in plan
    assert "hour_bucket" in plan.split("PartitionFilters", 1)[1][:200]
    assert probe.count() == 500 // 7 + (1 if 3 < 500 % 7 else 0)


def test_r7_operator_plans_broadcast_only(spark):
    # Round-7 operators: the model/centroid joins must broadcast and
    # nothing may fall back to SortMergeJoin or a cartesian product.
    from credit_card_etl_pipeline_spark import queries as q

    for name in (
        "ann_binary_hamming",
        "embeddings_outlier_prune",
    ):
        plan = _plan(q.QUERIES[name](spark, SF))
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name


def test_binary_hamming_coarse_stage_is_codegen(spark):
    # The Hamming stage must be pure JVM expression work on the packed
    # words — no Python evaluation anywhere in the plan.
    from credit_card_etl_pipeline_spark import queries as q

    plan = _plan(q.QUERIES["ann_binary_hamming"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # the packing + XOR + bit_count all fold into plain projections
    assert "bit_count" in plan


def _join_counts(df) -> tuple[int, int]:
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.count("SortMergeJoin"), s.count("BroadcastHashJoin")


def test_top_smj_queries_join_strategy_pinned(spark):
    """The registry's heaviest SortMergeJoin users, pinned node by
    node so a broadcast-threshold / stats drift can't silently flip
    them either way:

    * flipping an intended SMJ (corpus self-join, both sides
      fact-sized) to a broadcast would OOM executors at real scale;
    * flipping an intended broadcast (per-file / per-dim side) to an
      SMJ silently adds a full fact-side shuffle+sort.

    Counts measured at sf0.001 (AQE on); an INTENTIONAL plan change
    updates the numbers here with a rationale.
    """
    from credit_card_etl_pipeline_spark import queries as q

    expected = {
        # INTENTIONAL change (4 -> 0): each file's header is found and
        # applied inside the decode (sources/ingest.py statement_lines),
        # so the per-file header-position joins are gone and the ingest
        # is one scan with no join at all.  A join reappearing here means
        # header handling left the decode.
        "ingest_statement_files": (0, 0),
        # anchor-shingle candidate self-join; dims broadcast
        "dedup_ngram_jaccard": (1, 4),
    }
    got = {
        name: _join_counts(q.QUERIES[name](spark, SF))
        for name in expected
    }
    assert got == expected

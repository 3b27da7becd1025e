"""Physical-plan regression tests: the scale-critical plan properties
(broadcast-only dimension joins, filter pushdown, no sort-merge joins
on rule lookups) must survive refactors."""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_hybrid_resolver_broadcasts_lookup(spark):
    from credit_card_etl_pipeline_spark.queries.merchant_queries import (
        merchant_resolve_hybrid,
    )

    plan = _plan(merchant_resolve_hybrid(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rfm_dual_window_single_fact_aggregate(spark):
    from credit_card_etl_pipeline_spark.queries.rfm_queries import (
        rfm_customer_dual_window,
    )

    df = rfm_customer_dual_window(spark, SF)
    plan = _plan(df)
    # dual window must NOT appear as two fact aggregates + join: the
    # conditional-aggregation design has no SortMergeJoin anywhere
    assert "SortMergeJoin" not in plan
    # fact reuse through the persisted aggregate
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


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


def test_decontamination_broadcasts_benchmark(spark):
    # the benchmark shingle set must be the broadcast side — the corpus
    # is never sort-merge-joined against the (tiny) eval set
    from credit_card_etl_pipeline_spark.queries.curate_queries import (
        decontaminate_vs_benchmark,
    )

    plan = _plan(decontaminate_vs_benchmark(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _strip_spread_guard(body: str) -> str:
    # queries.load() adds ONE parallelism-guard exchange for the
    # single-row-group local corpus; since r12 it hash-partitions on
    # the table's natural key (deterministic, no sort-before-
    # repartition) instead of round-robin.  The guard is identifiable
    # by its REPARTITION_BY_NUM origin tag — strip exactly those so
    # the pins below catch any OTHER (planner-introduced) shuffle.
    import re as _re

    return _re.sub(
        r"hashpartitioning(\([^)]*\), REPARTITION_BY_NUM)",
        r"SPREADGUARD\1",
        body,
    )


def test_chunking_is_shuffle_free(spark):
    # chunking is map-only: the only Exchange allowed is the
    # parallelism guard queries.load() adds for the single-row-group
    # local corpus — no key shuffle introduced by the chunking itself
    from credit_card_etl_pipeline_spark.queries.curate_queries import (
        chunk_context_windows,
    )

    plan = _plan(chunk_context_windows(spark, SF))
    body = _strip_spread_guard(plan.split("== Physical Plan ==")[-1])
    assert "hashpartitioning" not in body.lower()
    assert "rangepartitioning" not in body.lower()


def test_pii_scrub_is_map_only(spark):
    from credit_card_etl_pipeline_spark.queries.curate_queries import (
        pii_scrub_documents,
    )

    plan = _plan(pii_scrub_documents(spark, SF))
    body = _strip_spread_guard(plan.split("== Physical Plan ==")[-1])
    # no key shuffle (the load() spread guard is allowed)
    assert "hashpartitioning" not in body.lower()
    assert "rangepartitioning" not in body.lower()


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


def test_tpch_q5_broadcasts_dim_chain(spark):
    # region/nation/supplier are dims: the six-table join must broadcast
    # them, leaving shuffles only on the fact keys
    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        tpch_q5_local_supplier_volume,
    )

    plan = _plan(
        tpch_q5_local_supplier_volume(spark, "/root/testdata/sf0.001")
    )
    assert plan.count("BroadcastHashJoin") >= 3
    assert "PushedFilters" in plan  # r_name / orderdate reach the scans


def test_tpch_q4_exists_compiles_to_semi_join(spark):
    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        tpch_q4_order_priority,
    )

    plan = _plan(tpch_q4_order_priority(spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan
    # lineitem is probed once, not exploded into the aggregate
    assert "Join LeftSemi" in plan or "LeftSemi BuildRight" in plan


def test_tpch_q14_q18_broadcast_no_sort_merge(spark):
    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        tpch_q14_promo_revenue,
        tpch_q18_large_volume,
    )

    p14 = _plan(tpch_q14_promo_revenue(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in p14 and "SortMergeJoin" not in p14
    assert "PushedFilters" in p14  # shipdate window reaches the scan

    p18 = _plan(tpch_q18_large_volume(spark, "/root/testdata/sf0.001"))
    assert "SortMergeJoin" not in p18


def test_correlated_subqueries_decorrelate(spark):
    # two correlated scalar subqueries must compile to aggregate+join,
    # never a per-row nested loop over the fact
    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        orders_above_customer_avg,
    )

    plan = _plan(orders_above_customer_avg(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_anti_join_for_not_exists(spark):
    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        customers_above_avg_no_urgent,
    )

    plan = _plan(
        customers_above_avg_no_urgent(spark, "/root/testdata/sf0.001")
    )
    assert "LeftAnti" in plan




def test_tpch_q22_anti_join_broadcasts(spark):
    # Q22 shape: the NOT-EXISTS anti join and the scalar-average
    # threshold must both broadcast — a sort-merge anti join over the
    # customer table would shuffle the whole relation at scale
    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        customers_above_avg_no_urgent,
    )

    plan = _plan(customers_above_avg_no_urgent(spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_single_fact_shuffle(spark):
    # one-pass funnel: the events fact is shuffled on user_id exactly
    # once; the three stage frontiers stack as window aggregates over
    # that one Exchange (a regression to per-stage joins shows up as
    # extra user_id exchanges and/or SortMergeJoin)
    import re

    from credit_card_etl_pipeline_spark.queries.events_queries import (
        events_funnel_conversion,
    )

    plan = _plan(events_funnel_conversion(spark, SF))
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) <= 1
    # funnel-type filter reaches the scan
    assert "PushedFilters" in plan


def test_first_touch_single_fact_shuffle(spark):
    # one-pass first-touch attribution: both whole-partition windows
    # share a single user_id Exchange; no join back of a purchase
    # frontier (that shape scans and shuffles the fact twice)
    import re

    from credit_card_etl_pipeline_spark.queries.events_queries import (
        events_attribution_first_touch,
    )

    plan = _plan(events_attribution_first_touch(spark, SF))
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) <= 1


def test_tpch_q7_q8_broadcast_dims(spark):
    # the nation/region/part dims must broadcast; fact joins may
    # shuffle but never sort-merge against a dim at this scale
    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        tpch_q7_nation_volume,
        tpch_q8_market_share,
    )

    p7 = _plan(tpch_q7_nation_volume(spark, SF))
    assert "BroadcastHashJoin" in p7
    assert "CartesianProduct" not in p7
    p8 = _plan(tpch_q8_market_share(spark, SF))
    assert "BroadcastHashJoin" in p8
    assert "CartesianProduct" not in p8


def test_tpch_q2_q11_q20_dims_broadcast(spark):
    # the derived-partsupp trio must keep every dimension join
    # broadcast: the only shuffle allowed is the lineitem groupBy
    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        tpch_q2_min_cost_supplier,
        tpch_q11_important_stock,
        tpch_q20_part_promotion,
    )

    p2 = _plan(tpch_q2_min_cost_supplier(spark, SF))
    assert "BroadcastHashJoin" in p2
    assert "SortMergeJoin" not in p2

    p11 = _plan(tpch_q11_important_stock(spark, SF))
    assert "SortMergeJoin" not in p11
    # the scalar (total, n) row must not trigger a nested loop over
    # anything bigger than itself
    assert "CartesianProduct" not in p11

    p20 = _plan(tpch_q20_part_promotion(spark, SF))
    assert "BroadcastHashJoin" in p20
    assert "SortMergeJoin" not in p20
    assert "PushedFilters" in p20  # p_name LIKE 'red%' reaches the scan


def test_tpch_q2_prefilter_gate_paths_equal(spark):
    # r12: the size-gated lineitem semi-join pre-filter (guide §3.2)
    # must (a) stay OFF below the threshold (local bench path), (b)
    # show the semi-join in the plan when forced on, and (c) return
    # byte-identical rows on both paths — the pre-filter drops whole
    # (partkey, suppkey) groups that the final part join would drop
    # anyway.
    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        tpch_q2_min_cost_supplier,
    )

    key = "spark.graft.q2.prefilterMinBytes"
    spark.conf.set(key, str(1 << 60))
    try:
        df_off = tpch_q2_min_cost_supplier(spark, SF)
        assert "lineitem_q2_parts" not in _plan(df_off)
        rows_off = sorted(map(str, df_off.collect()))
        spark.conf.set(key, "0")
        df_on = tpch_q2_min_cost_supplier(spark, SF)
        assert "LeftSemi" in _plan(df_on)
        rows_on = sorted(map(str, df_on.collect()))
    finally:
        spark.conf.unset(key)
    assert rows_off == rows_on and len(rows_off) > 0


def test_sessionization_single_user_shuffle(spark):
    # lag → running-sum → per-session agg must all ride ONE user_id
    # Exchange; a regression to per-stage repartitions shows as extra
    # user_id hashpartitioning or a SortMergeJoin
    import re

    from credit_card_etl_pipeline_spark.queries.events_queries import (
        events_sessionization,
    )

    plan = _plan(events_sessionization(spark, SF))
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) <= 1


def test_windowed_funnel_single_fact_shuffle(spark):
    import re

    from credit_card_etl_pipeline_spark.queries.events_queries import (
        events_windowed_funnel,
    )

    plan = _plan(events_windowed_funnel(spark, SF))
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) <= 1
    assert "PushedFilters" in plan


def test_prorate_single_order_key_shuffle(spark):
    # all three windows (share floor, remainder rank, shortfall) over
    # one order-key partitioning; the orders side joins broadcast
    import re

    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        lineitem_prorate_cents,
    )

    plan = _plan(lineitem_prorate_cents(spark, SF))
    assert len(re.findall(r"hashpartitioning\(k", plan)) <= 1
    assert "SortMergeJoin" not in plan




def test_adaptive_aggregate_flips_on_hot_key(spark):
    """The measured-skew operator must pick DIFFERENT physical plans
    for a uniform corpus (plain one-shuffle groupBy) and a hot-key
    corpus (two-stage salted: a __salt grouping appears) when the
    payload is combine-free (pandas UDAF — no map-side partial agg),
    with the decision audit agreeing in both cases; and a JVM
    algebraic payload must stay plain even on the hot corpus (partial
    aggregation is measured skew-immune — soak_adaptive.py)."""
    from pyspark.sql.functions import pandas_udf

    from credit_card_etl_pipeline_spark.operators.skew import (
        SaltedAgg,
        adaptive_aggregate,
        salted_count,
    )

    @pandas_udf("long")
    def pcount(v: pd.Series) -> int:
        return int(len(v))

    aggs = [SaltedAgg("n", pcount(F.col("id")).alias("n"), "sum")]

    # uniform: 64 keys x 50 rows — hottest key ~ even load
    uniform = spark.range(3200).select(
        (F.col("id") % 64).alias("k"), F.col("id").alias("id")
    )
    # hot: one key holds half the corpus
    hot = spark.range(3200).select(
        F.when(F.col("id") < 1600, F.lit(0))
        .otherwise(F.col("id") % 64)
        .alias("k"),
        F.col("id").alias("id"),
    )

    # x_even = hot_share x shuffle_partitions; pin partitions so the
    # hot corpus (share ~0.5) clears the 6x default crossover and the
    # uniform one (share ~1/64) stays far under it
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        dec_u, dec_h = {}, {}
        df_u = adaptive_aggregate(
            uniform, ["k"], aggs, combine_free=True, salt_source="id",
            decision_out=dec_u,
        )
        df_h = adaptive_aggregate(
            hot, ["k"], aggs, combine_free=True, salt_source="id",
            decision_out=dec_h,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    assert dec_u["salted"] is False
    assert dec_h["salted"] is True
    plan_u, plan_h = _plan(df_u), _plan(df_h)
    assert "__salt" not in plan_u
    assert "__salt" in plan_h

    # identical results regardless of branch: hot corpus counts
    got = {r["k"]: r["n"] for r in df_h.collect()}
    want = {
        r["k"]: r["n"]
        for r in hot.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want

    # JVM algebraic payload: plain even on the hot corpus, and the
    # probe is skipped (no action spent on an immune path)
    dec_j = {}
    df_j = adaptive_aggregate(
        hot, ["k"], [salted_count("n")], salt_source="id",
        decision_out=dec_j,
    )
    assert dec_j["salted"] is False and dec_j["combine_free"] is False
    assert "__salt" not in _plan(df_j)


def test_adaptive_join_branches(spark):
    """adaptive_join must pick broadcast for an under-threshold dim;
    plain whenever AQE's skew-split is active (measured: plain + AQE
    beats salting at every hot share); and salted only for a hot fact
    key when AQE skew-split is OFF — identical results on every
    branch."""
    from credit_card_etl_pipeline_spark.operators.skew import adaptive_join

    dim = spark.range(64).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("dv")
    )
    uniform = spark.range(3200).select(
        (F.col("id") % 64).alias("k"), F.col("id").alias("id")
    )
    hot = spark.range(3200).select(
        F.when(F.col("id") < 1600, F.lit(0))
        .otherwise(F.col("id") % 64)
        .alias("k"),
        F.col("id").alias("id"),
    )

    # branch 1: tiny dim under the default threshold -> broadcast
    dec_b = {}
    df_b = adaptive_join(hot, dim, "k", salt_source="id", decision_out=dec_b)
    assert dec_b["strategy"] == "broadcast"
    assert "BroadcastHashJoin" in _plan(df_b)

    # branch 2: non-broadcastable dim + AQE skew-split on -> plain
    # even for the hot fact (AQE splits at runtime; salting measured
    # slower at every hot share)
    prev_t = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_p = spark.conf.get("spark.sql.shuffle.partitions")
    prev_sk = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        dec_aqe = {}
        df_aqe = adaptive_join(
            hot, dim, "k", salt_source="id", decision_out=dec_aqe
        )
        assert dec_aqe["strategy"] == "plain"
        assert dec_aqe["aqe_skew"] is True
        assert "__salt" not in _plan(df_aqe)

        # branches 3/4: AQE skew-split off -> the probe decides
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        dec_p, dec_s = {}, {}
        df_p = adaptive_join(
            uniform, dim, "k", salt_source="id", decision_out=dec_p
        )
        df_s = adaptive_join(
            hot, dim, "k", salt_source="id", decision_out=dec_s
        )
        assert dec_p["strategy"] == "plain"
        assert dec_s["strategy"] == "salted"
        assert "__salt" not in _plan(df_p)
        assert "__salt" in _plan(df_s)
        got = sorted((r["k"], r["id"], r["dv"]) for r in df_s.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_t)
        spark.conf.set("spark.sql.shuffle.partitions", prev_p)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev_sk)
    want = sorted(
        (r["k"], r["id"], r["dv"]) for r in hot.join(dim, "k").collect()
    )
    assert got == want


def test_semantic_dedup_plans_no_cartesian(spark):
    """Both semantic-dedup variants must stay join-shaped: the pair
    hunt is an equi-join on (cell[, subcell]) — never a cartesian —
    and the sub-codebook side of the hierarchical assignment is
    broadcast."""
    from credit_card_etl_pipeline_spark.queries.dataops_queries import (
        dedup_semantic_clusters,
        dedup_semantic_hierarchical,
    )

    p1 = _plan(dedup_semantic_clusters(spark, SF))
    assert "CartesianProduct" not in p1

    p2 = _plan(dedup_semantic_hierarchical(spark, SF))
    assert "CartesianProduct" not in p2
    assert "BroadcastHashJoin" in p2  # codebook join


def test_r7_operator_plans_broadcast_only(spark):
    # Round-7 operators: the model/centroid joins must broadcast and
    # nothing may fall back to SortMergeJoin or a cartesian product.
    from credit_card_etl_pipeline_spark import queries as q

    for name in (
        "dsir_importance_weights",
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


def test_r7_late_additions_no_smj_or_cartesian(spark):
    # drift / budget / novelty / ABTT: bounded-side joins must ride
    # broadcasts (BNLJ for the 1-row totals is fine); never a
    # SortMergeJoin or an unbroadcast CartesianProduct.
    from credit_card_etl_pipeline_spark import queries as q

    for name in (
        "corpus_drift_tv",
        "events_daily_drift",
        "corpus_token_budget_fill",
        "corpus_novelty_curve",
        "ann_abtt_corrected_topk",
    ):
        plan = _plan(q.QUERIES[name](spark, SF))
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


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
        # LSH-bucket / containment self-joins: both sides are the doc
        # corpus — SMJ is the only shape that survives 100 TB.
        # r11 INTENTIONAL change (substring_containment checkpoint +
        # last-shingle gate): the normalized view and the shingle table
        # are localCheckpointed once, so (a) duplicated join subtrees
        # collapsed (11 join nodes → 9) and (b) the checkpointed scans
        # carry no size stats, so the corpus-derived sides that
        # previously LOOKED broadcastable at sf0.001 plan statically as
        # SMJ — the scale-safe default, since every one of them (canon
        # set, containment verdicts, shingle freq, text attach) grows
        # with the corpus; AQE re-broadcasts genuinely small sides at
        # runtime.  The 1 remaining static BHJ is the boilerplate
        # min-docs threshold.
        "curation_pipeline_v2": (8, 1),
        # verdicts ride one applyInPandas per leaf (r8); sub-level
        # assignment moved from a broadcast codebook join + per-vector
        # window to a per-cell numpy batch (r9, _assign_subcells_
        # batched), removing both the SMJ and one broadcast — the
        # remaining BHJ is the leaves-to-verdict join
        "dedup_semantic_hierarchical": (0, 1),
        # anchor-shingle candidate self-join; dims broadcast
        "dedup_ngram_jaccard": (1, 4),
    }
    got = {
        name: _join_counts(q.QUERIES[name](spark, SF))
        for name in expected
    }
    assert got == expected


def test_hot_keys_returns_exactly_the_heavy_tuples(spark):
    """hot_keys must return precisely the key tuples above the cut —
    the bounded broadcast set the hot-only salted plan fans out
    (r9: full salting multiplied pandas per-group overhead by n_salts
    on every cold key and LOST 5.5x on a 15k-key zipf corpus)."""
    from pyspark.sql import functions as F

    from credit_card_etl_pipeline_spark.operators.skew import hot_keys

    df = spark.range(1000).select(
        F.when(F.col("id") < 700, F.lit(0))
        .when(F.col("id") < 900, F.lit(1))
        .otherwise(F.col("id"))
        .alias("k")
    )
    got = sorted(r["k"] for r in hot_keys(df, ["k"], min_count=150).collect())
    assert got == [0, 1]
    assert hot_keys(df, ["k"], min_count=1500).count() == 0


def test_table_profile_full_pass_is_hash_aggregate(spark):
    """r12: min/max over a STRING column forces a var-length aggregate
    buffer, which silently flips the whole wide profile aggregate
    (count-distinct Expand included) to SortAggregate — a sort of
    |rows|x5 expanded rows.  The profile splits string-column min/max
    onto the tiny distinct-pair checkpoint; pin that the raw-scan pass
    plans as HashAggregate and SortAggregate appears only above the
    checkpointed (ExistingRDD) pair table."""
    from credit_card_etl_pipeline_spark.queries.sql_queries import (
        orders_table_profile,
    )

    import re

    plan = _plan(orders_table_profile(spark, SF))
    # the count-distinct Expand over the PARQUET scan must feed a
    # HashAggregate directly (fixed-width buffers, no Sort between):
    # tree lines print parent-first, so the hash path is consecutive
    assert re.search(
        r"HashAggregate[^\n]*\n[^\n]*Expand[^\n]*\n[^\n]*Project[^\n]*\n"
        r"[^\n]*Exchange[^\n]*\n[^\n]*Scan parquet",
        plan,
    ), plan
    # and no SortAggregate sits on a parquet-fed Expand: every
    # sort-aggregated chain bottoms out at the checkpointed pair table
    # (Scan ExistingRDD), never the raw scan
    sort_chains = re.findall(
        r"SortAggregate[^\n]*\n(?:[^\n]*\n)*?[^\n]*Scan (\w+)", plan
    )
    assert sort_chains and all(s == "ExistingRDD" for s in sort_chains), plan

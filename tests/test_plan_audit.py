"""The whole-registry plan audit (tools/plan_audit.py) must actually
detect the anti-patterns it guards: a detector that silently matches
nothing would green-light a cartesian regression.  Deliberately build
each bad plan shape and assert the audit flags it; run one known-good
registered query and assert it stays clean."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from tools.plan_audit import BNLJ_ALLOWED, audit_one  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_detects_cartesian_product(spark):
    # A small cross join compiles to BNLJ (broadcastable side); the
    # CartesianProduct node only appears when NEITHER side can
    # broadcast — force that with the threshold off.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(10).select(F.col("id").alias("x"))
        b = spark.range(10).select(F.col("id").alias("y"))
        res = audit_one("synthetic", lambda s, d: a.crossJoin(b), spark, SF)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" in res["violations"]


def test_detects_row_wise_python_udf(spark):
    bad = F.udf(lambda v: v + 1, "long")
    df = spark.range(10).select(bad("id").alias("v"))
    res = audit_one("synthetic", lambda s, d: df, spark, SF)
    assert "BatchEvalPython" in res["violations"]


def test_detects_unallowed_bnlj(spark):
    a = spark.range(100).select(F.col("id").alias("x"))
    b = spark.range(3).select(F.col("id").alias("y"))
    df = a.join(F.broadcast(b), F.col("x") != F.col("y"))
    res = audit_one("not_in_allowlist", lambda s, d: df, spark, SF)
    assert "BroadcastNestedLoopJoin" in res["violations"]
    allowed = audit_one(
        next(iter(BNLJ_ALLOWED)), lambda s, d: df, spark, SF
    )
    assert "BroadcastNestedLoopJoin" not in allowed["violations"]


def test_known_good_query_is_clean(spark):
    from credit_card_etl_pipeline_spark.queries import QUERIES

    res = audit_one(
        "payment_method_distribution",
        QUERIES["payment_method_distribution"],
        spark,
        SF,
    )
    assert res["violations"] == []
    # codegen ids are annotated only in FINAL (post-AQE) plans, so the
    # span counter is informational pre-execution — no assertion here.


def test_allowlist_entries_name_their_bounded_side():
    for name, why in BNLJ_ALLOWED.items():
        assert why and ("1-row" in why or "broadcast" in why or
                        "grid" in why or "bounded" in why or
                        "scalar" in why or "anchor" in why), (name, why)


def test_allowlist_entries_name_registered_queries():
    from credit_card_etl_pipeline_spark.queries import QUERIES

    assert not set(BNLJ_ALLOWED) - set(QUERIES)

"""Unit tests for hard-negative mining and the determinism contract of
the reciprocal-rank fusion query."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from credit_card_etl_pipeline_spark.dataops import similarity as sim


# ------------------------------------------------------------------
# Hard-negative mining
# ------------------------------------------------------------------

def test_hard_negatives_exclude_same_label(spark):
    rows = [
        Row(vec_id=0, label=0, vec=[1.0, 0.0]),   # anchor
        Row(vec_id=1, label=0, vec=[0.99, 0.01]),  # same label: excluded
        Row(vec_id=2, label=1, vec=[0.9, 0.1]),
        Row(vec_id=3, label=1, vec=[0.0, 1.0]),
        Row(vec_id=4, label=2, vec=[0.8, 0.2]),
    ]
    df = spark.createDataFrame(rows).select(
        "vec_id", "label", sim.quantize(F.col("vec")).alias("qvec")
    )
    anchors = df.where(F.col("vec_id") == 0)
    out = sim.hard_negative_topk(df, anchors, k=10).collect()
    got = {r["cand_id"] for r in out}
    assert got == {2, 3, 4}
    assert all(r["cand_label"] != 0 for r in out)
    # nearest different-label candidate ranks first
    by_rank = sorted(out, key=lambda r: r["rank"])
    assert by_rank[0]["cand_id"] == 2


def test_hard_negatives_rank_is_dense_from_one(spark):
    rows = [
        Row(vec_id=i, label=i % 2, vec=[1.0, float(i) / 10]) for i in range(6)
    ]
    df = spark.createDataFrame(rows).select(
        "vec_id", "label", sim.quantize(F.col("vec")).alias("qvec")
    )
    anchors = df.where(F.col("vec_id") < 2)
    out = sim.hard_negative_topk(df, anchors, k=3)
    ranks = (
        out.groupBy("query_id")
        .agg(F.sort_array(F.collect_list("rank")).alias("rks"))
        .collect()
    )
    for r in ranks:
        assert r["rks"] == list(range(1, len(r["rks"]) + 1))


# ------------------------------------------------------------------
# RRF fusion (registered query: structure + determinism)
# ------------------------------------------------------------------

def test_rrf_fusion_properties(spark):
    from credit_card_etl_pipeline_spark.queries import QUERIES

    fn = QUERIES["ann_rrf_fusion"]
    a = fn(spark, "/root/testdata/sf0.001").collect()
    b = fn(spark, "/root/testdata/sf0.001").collect()
    assert a == b
    by_q = {}
    for r in a:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["rrf_x1e6"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        # both systems rank top-10; a candidate in both lists carries
        # n_systems == 2 and the max possible fused score is bounded
        # by 2 * 1e6/61
        assert all(1 <= r["n_systems"] <= 2 for r in rows)
        assert all(r["rrf_x1e6"] <= 2 * (1_000_000 // 61) for r in rows)

"""Unit tests for the round-4 scale operators: the canonical-selection
hand case, the rolling-distinct re-expression vs a naive computation,
and prefix-filter exactness on a random vocabulary."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_canonical_per_component_hand_case(spark):
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        canonical_per_component,
    )

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, component long",
    )
    quality = spark.createDataFrame(
        # component 1: doc 2 longest; component 5: tie -> min id (5)
        [(1, 10), (2, 30), (3, 20), (4, 99), (5, 7), (6, 7)],
        "doc_id long, q long",
    )
    rows = {
        (r.component, r.kept_id, r.kept_quality, r.n_docs)
        for r in canonical_per_component(comps, quality).collect()
    }
    # singleton component 4 is excluded (n_docs > 1 filter)
    assert rows == {(1, 2, 30, 3), (5, 5, 7, 2)}


def test_rolling_7d_users_matches_naive(spark):
    from credit_card_etl_pipeline_spark.queries.events_queries import (
        events_rolling_7d_users,
    )

    got = {
        (r.obs_day, r.n_users_7d)
        for r in events_rolling_7d_users(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from credit_card_etl_pipeline_spark.functions.eventtime import (
        event_micros,
    )

    ud = [
        (r.user_id, r.day)
        for r in ev.select(
            "user_id", (event_micros(ev) / 86_400_000_000).cast("long").alias("day")
        )
        .distinct()
        .collect()
    ]
    days = {d for _, d in ud}
    want = set()
    for obs in range(min(days), max(days) + 1):
        users = {u for u, d in ud if obs - 6 <= d <= obs}
        want.add((obs, len(users)))
    assert got == want


def test_prefix_filter_exact_on_random_vocab(spark):
    """Prefix-filter exactness on an adversarial random vocabulary:
    candidates from rarest-first prefixes must find every pair that
    full blocking scores >= the threshold."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    words = ["spark", "query", "table", "shard", "merge", "scan",
             "joint", "batch", "index", "group"]
    names = list({
        " ".join(rng.sample(words, 3)) for _ in range(300)
    })
    master = spark.createDataFrame([(n,) for n in names], "name string")
    dirty_rows = []
    for i, n in enumerate(names):
        if i % 2 == 0:
            cut = i % len(n)
            dirty_rows.append((i, n[:cut] + n[cut + 1:]))
    dirty = spark.createDataFrame(dirty_rows, "k long, dirty_name string")

    def grams(df, col, *keep):
        return (
            df.select(
                *keep,
                F.explode(
                    F.expr(
                        f"transform(sequence(1, greatest(length({col}) - 2,"
                        f" 1)), i -> substr({col}, i, 3))"
                    )
                ).alias("g"),
            )
            .distinct()
        )

    mg = grams(master, "name", "name")
    dg = grams(dirty, "dirty_name", "k")
    msize = mg.groupBy("name").agg(F.count(F.lit(1)).alias("nb"))
    dsize = dg.groupBy("k").agg(F.count(F.lit(1)).alias("na"))

    # full-blocking truth: every pair sharing ANY gram, scored
    full = (
        dg.join(mg, "g")
        .groupBy("k", "name")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(dsize, "k")
        .join(msize, "name")
        .where(F.expr("1000 * inter div (na + nb - inter)") >= 400)
        .select("k", "name")
    )

    # prefix-filtered candidates
    from pyspark.sql import Window

    dfg = mg.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    wm = Window.partitionBy("name").orderBy(F.coalesce("df", F.lit(0)), "g")
    mpref = (
        mg.join(dfg, "g", "left")
        .withColumn("rn", F.row_number().over(wm))
        .join(msize, "name")
        .where(F.col("rn") <= F.expr("nb - (2 * nb + 4) div 5 + 1"))
        .select("name", "g")
    )
    wd = Window.partitionBy("k").orderBy(F.coalesce("df", F.lit(0)), "g")
    dpref = (
        dg.join(dfg, "g", "left")
        .withColumn("rn", F.row_number().over(wd))
        .join(dsize, "k")
        .where(F.col("rn") <= F.expr("na - (2 * na + 4) div 5 + 1"))
        .select("k", "g")
    )
    cand = dpref.join(mpref, "g").select("k", "name").distinct()

    missed = full.exceptAll(full.join(cand, ["k", "name"], "left_semi"))
    assert missed.count() == 0

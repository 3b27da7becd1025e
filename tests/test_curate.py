"""Unit tests for the corpus-selection operators (dataops.curate):
weighted-mix epoch replication, DSIR exact integer weights on a
hand-computed case, short-document handling, and the fit/score split
agreeing with the fused batch path."""

from __future__ import annotations

from credit_card_etl_pipeline_spark.dataops import curate as cu


def test_weighted_mix_epochs(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(100)],
        "doc_id long, lang string",
    )
    out = cu.weighted_mix(df, {"en": 20000, "zh": 0}, group_col="lang")
    rows = out.collect()
    # en docs appear exactly twice (2.0 epochs), zh docs are dropped
    assert all(r["lang"] == "en" for r in rows)
    assert len(rows) == 100
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert all(sorted(v) == [1, 2] for v in per_doc.values())


def test_weighted_mix_fractional_deterministic(spark):
    df = spark.createDataFrame(
        [(i, "x") for i in range(1000)], "doc_id long, lang string"
    )
    out1 = cu.weighted_mix(df, {"x": 5000}, group_col="lang")
    n1 = out1.count()
    n2 = cu.weighted_mix(df, {"x": 5000}, group_col="lang").count()
    assert n1 == n2  # md5-stream determinism, no RNG
    assert 350 < n1 < 650  # ~half kept


def test_dsir_weights_exact_hand_case(spark):
    # target doc d1 = "a"*9 (8 "a a" grams), non-target d3 = "z"*9
    # (8 "z z" grams); buckets distinct at n_buckets=16 (15 vs 4,
    # deterministic md5 constants).  cr=8/ct=8 vs cr=8/ct=0,
    # T_r=16, T_t=8, B=16:
    #   bits("a a") = (floor(log2 32) - floor(log2 9))
    #               - (floor(log2 24) - floor(log2 9)) = (5-3)-(4-3) = 1
    #   bits("z z") = (5-3) - (4-0) = -2
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "en", " ".join(["a"] * 9)), (3, "de", " ".join(["z"] * 9))],
        "doc_id long, lang string, text string",
    )
    out = {
        r.doc_id: r
        for r in cu.dsir_weights(
            df, F.col("lang") == "en", n_buckets=16
        ).collect()
    }
    assert out[1].n_grams == 8 and out[1].dsir_bits == 8
    assert out[1].avg_bits_milli == 1000 and out[1].keep is True
    assert out[3].n_grams == 8 and out[3].dsir_bits == -16
    assert out[3].avg_bits_milli == -2000 and out[3].keep is False


def test_dsir_weights_short_docs_absent(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "en", "solo"), (2, "en", ""), (3, "de", "x y")],
        "doc_id long, lang string, text string",
    )
    ids = {
        r.doc_id
        for r in cu.dsir_weights(df, F.col("lang") == "en").collect()
    }
    assert ids == {3}


def test_dsir_fit_score_matches_fused_weights(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "en", "the quick brown fox jumps over the lazy dog"),
            (2, "en", "the quick brown fox sleeps all day long"),
            (3, "de", "der schnelle braune fuchs springt sehr hoch"),
            (4, "zh", "one two three four five six seven"),
        ],
        "doc_id long, lang string, text string",
    )
    pred = F.col("lang") == "en"
    fused = {
        r.doc_id: (r.n_grams, r.dsir_bits)
        for r in cu.dsir_weights(df, pred).collect()
    }
    model = cu.dsir_fit(df, pred)
    split = (
        cu.dsir_score(df, model)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("bits").cast("long").alias("b"),
        )
        .collect()
    )
    assert {r.doc_id: (r.n, r.b) for r in split} == fused


def test_dsir_totals_equal_model_column_sums(spark):
    # r11 optimization guard: the scalar totals are now computed
    # straight off the gram stream (dsir_weights) or a
    # checkpointed model (dsir_fit) instead of re-aggregating the model
    # plan — this pins the invariant the rewrite relies on:
    # tr == Σcr and tt == Σct over the fitted buckets.
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "en", "alpha beta gamma alpha beta"),
            (2, "de", "delta epsilon zeta eta theta"),
        ],
        "doc_id long, lang string, text string",
    )
    model = cu.dsir_fit(df, F.col("lang") == "en")
    rows = model.collect()
    assert rows, "model must not be empty"
    tr, tt = rows[0].tr, rows[0].tt
    assert all(r.tr == tr and r.tt == tt for r in rows)
    assert tr == sum(r.cr for r in rows) == 8  # 4 + 4 bigrams
    assert tt == sum(r.ct for r in rows) == 4  # the en doc's bigrams

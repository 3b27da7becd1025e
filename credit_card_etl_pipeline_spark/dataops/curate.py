"""Corpus-selection operators: DSIR importance weights,
distribution-matched sampling and weighted training-mix sampling.

Each re-expresses a data-selection step in exact integer arithmetic so
the result is bit-identical on Spark and the DuckDB oracle:

* **DSIR** — hashed word-bigram features scored under a target and a
  raw model; both models are bounded by a fixed bucket count, so they
  broadcast and the scoring join never shuffles the corpus.
* **Distribution-matched sampling** — deterministic importance
  resampling to a uniform bucket distribution; the acceptance test is
  an md5 hash of the row id, not an RNG.
* **Weighted mix** — per-group epochs in integer basis points.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import words


def token_bigrams(w: Column) -> Column:
    """Adjacent 2-grams of an already-tokenized array column (NOT
    distinct — every occurrence is a DSIR feature, unlike dedup
    shingles).
    Prefer projecting the token array once and calling this, so the
    element_at references don't each re-evaluate an inline
    normalize+split (the dedup._token_shingles lesson)."""
    return F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i), F.element_at(w, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ------------------------------------------------------------------
# DSIR importance weights (data selection for language models)
# ------------------------------------------------------------------

#: Hashed n-gram feature space size.  Fixed and small so BOTH fitted
#: models are bounded (≤ DSIR_BUCKETS rows each) regardless of corpus
#: size — the models broadcast, the scoring join never shuffles.
DSIR_BUCKETS = 4096


def dsir_weights(
    df: DataFrame,
    target_pred: Column,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169) re-expressed in exact integer arithmetic: score
    every document by how much more likely its hashed-bigram features
    are under a *target* distribution (rows where ``target_pred``
    holds) than under the raw corpus, then keep the target-like ones.

    Per gram occurrence the importance weight is the integer-surprisal
    difference ``(floor(log2 Tr') - floor(log2 cr')) - (floor(log2 Tt')
    - floor(log2 ct'))`` with add-one smoothing (``c' = c + 1``,
    ``T' = T + n_buckets``) — i.e. bits saved by explaining the gram
    with the target model instead of the raw model, within 1 bit of the
    true log-likelihood ratio and float-free in the cross-engine
    comparison: both engines evaluate log2 of the SAME exact integer,
    where IEEE log2 cannot straddle a floor boundary (it is exact at
    powers of two and >0.5 ulp away elsewhere).

    100 TB shape: grams hash into ``n_buckets`` buckets, so each model
    fit is one map-side-combinable groupBy onto ≤ ``n_buckets`` rows;
    both models ride ONE broadcast join back onto the gram stream (the
    bucket join is uniform by construction — md5 buckets can't be
    skewed by hot tokens).  The only fact-sized shuffles are the two
    aggregations (fit + per-doc score).
    Docs with fewer than two tokens have no features and are absent.
    """
    from ..functions.hashing import md5_int60

    # exploded gram buckets feed the raw fit and the scoring join —
    # materialize ONCE, eagerly: a lazy persist loses the race when
    # AQE launches the fit's and the score's map stages concurrently
    # (both miss the cache and both re-run the tokenize+explode+md5
    # pass — observed as twin identical stages at sf0.1); the eager
    # localCheckpoint also truncates the corpus subplan so Catalyst
    # re-optimizes a constant-size scan per consumer.  Blocks are
    # released by the ContextCleaner when the frame goes out of scope.
    grams = (
        df.select(
            F.col(id_col),
            target_pred.alias("is_target"),
            words(F.col(text_col)).alias("__toks"),
        )
        .select(
            F.col(id_col),
            "is_target",
            F.explode(token_bigrams(F.col("__toks"))).alias("gram"),
        )
        .select(
            id_col,
            "is_target",
            (md5_int60(F.col("gram")) % n_buckets).alias("bucket"),
        )
        .localCheckpoint(eager=True)
    )
    # BOTH models in one aggregation pass: the raw count and the
    # target-conditional count share the bucket shuffle (a separate
    # target fit + left join would shuffle the gram stream twice for
    # identical values — buckets with no target grams get ct = 0
    # either way).
    model = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cr"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("long")
        .alias("ct"),
    )
    # Σcr over buckets = gram-row count and Σct = target-gram count, so
    # the scalar totals come straight off the materialized gram stream
    # as one map-side-combinable count — NOT from ``model``, whose plan
    # would re-run the full bucket aggregation a second time (the model
    # is consumed lazily by broadcast(model) below; re-deriving totals
    # from it doubled the bucket-aggregate pass over the gram stream).
    totals = grams.agg(
        F.count(F.lit(1)).cast("long").alias("tr"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("long")
        .alias("tt"),
    )
    bits_raw = F.floor(F.log2(F.col("tr") + n_buckets)) - F.floor(
        F.log2(F.col("cr") + 1)
    )
    bits_tgt = F.floor(F.log2(F.col("tt") + n_buckets)) - F.floor(
        F.log2(F.col("ct") + 1)
    )
    scored = (
        grams.join(F.broadcast(model), "bucket")
        .crossJoin(F.broadcast(totals))
        .select(id_col, (bits_raw - bits_tgt).cast("long").alias("bits"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("bits").cast("long").alias("dsir_bits"),
        F.expr("CAST(sum(bits) * 1000 div count(1) AS BIGINT)").alias(
            "avg_bits_milli"
        ),
        (F.expr("sum(bits) * 1000 div count(1)") > 0).alias("keep"),
    )


def dsir_fit(
    df: DataFrame,
    target_pred: Column,
    *,
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Fit ONLY the DSIR models (the offline half of the production
    split): returns the bounded ``(bucket, cr, ct, tr, tt)`` frame —
    ≤ ``n_buckets`` rows with the scalar totals attached — ready to
    broadcast into any scoring join (see :func:`dsir_score`).
    Same arithmetic as :func:`dsir_weights` (which fuses fit and score
    over one shared gram explode for the batch-only path)."""
    from ..functions.hashing import md5_int60

    grams = (
        df.select(
            target_pred.alias("is_target"),
            words(F.col(text_col)).alias("__toks"),
        )
        .select(
            "is_target",
            F.explode(token_bigrams(F.col("__toks"))).alias("gram"),
        )
        .select(
            "is_target", (md5_int60(F.col("gram")) % n_buckets).alias("bucket")
        )
    )
    model = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cr"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("long")
        .alias("ct"),
    )
    # materialize the bounded (≤ n_buckets rows) model ONCE: `totals`
    # and the returned crossJoin each embed the model plan, and without
    # the checkpoint the full gram explode + bucket aggregation runs
    # twice — one corpus pass per consumer at any scale.
    model = model.localCheckpoint(eager=True)
    totals = model.agg(
        F.sum("cr").cast("long").alias("tr"),
        F.sum("ct").cast("long").alias("tt"),
    )
    return model.crossJoin(F.broadcast(totals))


def dsir_score(
    df: DataFrame,
    model: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Score documents against a FITTED model frame (from
    :func:`dsir_fit`): per-gram-occurrence ``(id, bits)`` rows via one
    broadcast join — map-only (the online half of the split; the
    caller aggregates per doc)."""
    from ..functions.hashing import md5_int60

    grams = (
        df.select(F.col(id_col), words(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(token_bigrams(F.col("__toks"))).alias("gram"),
        )
        .select(
            id_col, (md5_int60(F.col("gram")) % n_buckets).alias("bucket")
        )
    )
    bits_raw = F.floor(F.log2(F.col("tr") + n_buckets)) - F.floor(
        F.log2(F.col("cr") + 1)
    )
    bits_tgt = F.floor(F.log2(F.col("tt") + n_buckets)) - F.floor(
        F.log2(F.col("ct") + 1)
    )
    return grams.join(F.broadcast(model), "bucket").select(
        id_col, (bits_raw - bits_tgt).cast("long").alias("bits")
    )


# ------------------------------------------------------------------
# Distribution-matched sampling (importance resampling to a target)
# ------------------------------------------------------------------

def distribution_matched_sample(
    df: DataFrame,
    *,
    bucket_col: str,
    id_col: str,
    hash_salt: str = "lm:",
    ppm: int = 1_000_000,
) -> DataFrame:
    """Deterministic importance resampling so the sampled rows are
    UNIFORM over the observed values of ``bucket_col`` — the
    "match the length/domain distribution" step of a training-data
    pipeline, without an RNG (same rows on any engine, any
    partitioning, any day).

    Per-bucket acceptance threshold (integer ppm, exact):

        threshold_b = min(ppm, (N * ppm) // (B * n_b))

    where N = corpus size, B = number of observed buckets, n_b = the
    bucket's count: over-represented buckets are down-sampled to the
    uniform share, under-represented buckets keep everything (this is
    rejection-free importance resampling truncated at weight 1).
    A row is kept iff md5(salt || id) % ppm < threshold_b.

    Shape at 100 TB: the bucket histogram is a partial-aggregatable
    groupBy collapsing to B rows; totals are a 1-row aggregate over
    it; both broadcast back to the corpus scan (no corpus-sized
    shuffle).  The acceptance filter is a pure map-side predicate.

    Returns one summary row per bucket:
    (bucket, n_before, threshold_ppm, n_sampled).
    """
    from ..functions.hashing import md5_int60

    b = F.col(bucket_col)
    stats = df.groupBy(b.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_before")
    )
    tot = stats.agg(
        F.sum("n_before").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_buckets"),
    )
    thresholds = (
        stats.crossJoin(F.broadcast(tot))
        .withColumn(
            "threshold_ppm",
            F.least(
                F.lit(ppm).cast("long"),
                F.expr(f"(n_total * {ppm}) div (n_buckets * n_before)"),
            ),
        )
        .select("bucket", "n_before", "threshold_ppm")
    )
    u_ppm = (
        md5_int60(F.concat(F.lit(hash_salt), F.col(id_col).cast("string")))
        % ppm
    )
    sampled = (
        df.select(b.alias("bucket"), u_ppm.alias("u_ppm"))
        .join(F.broadcast(thresholds), "bucket")
        .where(F.col("u_ppm") < F.col("threshold_ppm"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_sampled"))
    )
    return thresholds.join(sampled, "bucket", "left").select(
        "bucket",
        "n_before",
        "threshold_ppm",
        F.coalesce(F.col("n_sampled"), F.lit(0).cast("long")).alias(
            "n_sampled"
        ),
    )


#: Training-mix weight basis: 10_000 basis points = exactly 1.0 epoch.
MIX_BASIS = 10_000


def weighted_mix(
    df: DataFrame,
    weights: dict[str, int],
    *,
    group_col: str = "lang",
    id_col: str = "doc_id",
    default_bp: int = MIX_BASIS,
) -> DataFrame:
    """Deterministic mixture sampling: each row appears ``floor(w)``
    times plus once more iff md5(id) falls under ``frac(w)``, where
    ``w`` is its group's weight in basis points.  Map-only; adds a
    1-based ``epoch`` column."""
    from ..functions.hashing import md5_int60

    w: Column = F.lit(default_bp)
    for group, bp in sorted(weights.items()):
        w = F.when(F.col(group_col) == group, F.lit(bp)).otherwise(w)
    extra = md5_int60(F.col(id_col).cast("string")) % MIX_BASIS < w % MIX_BASIS
    n = (w / MIX_BASIS).cast("long") + extra.cast("long")
    # sequence(1, 0) would descend: drop zero-copy rows first
    out = df.withColumn("__n", n).where(F.col("__n") >= 1)
    return (
        out.withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("__n"))))
        .drop("__n")
        .withColumn("epoch", F.col("epoch").cast("long"))
    )

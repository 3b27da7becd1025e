"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
(engine extension for training-data pipelines).

Scale design notes:

* **Exact dedup** is a hash-groupBy on the normalized-text md5 — one
  shuffle on a 32-byte key regardless of document size; survivors via
  ``min(doc_id)`` per group.
* **MinHash** explodes distinct word shingles (docs × shingles rows),
  hashes each once, and takes the 8 permutation minima in ONE groupBy —
  the signature shuffle moves 8 longs per doc.  Never materializes
  doc×doc pairs.
* **LSH banding** unions per-band keys and self-joins band buckets —
  candidate pairs only, O(collisions) not O(n²).  AQE handles skewed
  buckets (a hot band key = many near-identical docs).
* **SimHash** is a 16-bit signature via 16 conditional sums in one
  aggregate — a cheap second opinion on near-dup candidates.
* **Jaccard** verifies candidate pairs only (shingle-set intersection
  via an equi-join on shingle, counts vs union), never all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import caching
from ..functions.hashing import MERSENNE_P, MINHASH_COEFFS, md5_int60, minhash_residue
from .text import fingerprint, normalize_text

# ------------------------------------------------------------------
# Exact dedup
# ------------------------------------------------------------------

def exact_dup_groups(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    (text_hash, n_copies, canonical_id = min id).  Filter
    ``n_copies > 1`` for the duplicate report; anti-join survivors."""
    return (
        df.select(
            fingerprint(F.col(text_col)).alias("text_hash"), F.col(id_col)
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def dedup_exact(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per normalized-text group."""
    groups = exact_dup_groups(df, text_col=text_col, id_col=id_col)
    return df.join(
        groups.select(F.col("canonical_id").alias(id_col)), id_col, "inner"
    )


# ------------------------------------------------------------------
# Shingling + MinHash signatures
# ------------------------------------------------------------------

def _token_shingles(w: Column, n: int) -> Column:
    """Distinct ``n``-grams of an already-tokenized array column
    (1-based element_at so the SQL twin matches index-for-index).
    Arrays shorter than ``n`` yield an empty set — guarded explicitly
    because ``sequence(1, 0)`` would otherwise DESCEND through index 0
    and error (Spark sequences auto-step downward)."""
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + off) for off in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def exploded_shingles(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    toks = df.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("__toks"),
    )
    return toks.select(
        F.col(id_col),
        F.explode(_token_shingles(F.col("__toks"), n)).alias("shingle"),
    )


def minhash_signatures(
    shingles: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """8-permutation MinHash signature per document, one shuffle.

    ``h_j(x) = (a_j * x + b_j) mod P`` over the 60-bit md5 residue of
    each shingle (functions.hashing — identical constants in the SQL
    oracle)."""
    x = minhash_residue(F.col("shingle"))
    aggs = [
        F.min((F.lit(a) * x + F.lit(b)) % MERSENNE_P).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


#: Library-default hot-bucket cap: a degenerate band key shared by m
#: docs yields m²/2 candidate pairs, so one boilerplate bucket of 10⁶
#: docs would emit 5·10¹¹ pairs.  1000 keeps the worst bucket at ~500k
#: pairs — noise at cluster scale — while leaving genuine near-dup
#: clusters (typically ≪ 1000 members per band bucket) untouched.
DEFAULT_MAX_BUCKET_SIZE = 1000


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 2,
    rows: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Banded LSH: docs sharing all ``rows`` minhashes of any band are
    candidates.  Returns distinct (doc_a < doc_b) pairs.

    ``max_bucket_size`` is the hot-bucket safety valve for huge
    corpora: a degenerate band key shared by m docs yields m²/2 pairs
    in one bucket (boilerplate/empty documents are the classic cause).
    Buckets larger than the cap are dropped from candidate generation —
    standard practice; route capped buckets through exact dedup (see
    :func:`lsh_overflow_docs`), since a bucket that hot is
    near-certainly one duplicate class.  The cap is ON by default
    (``DEFAULT_MAX_BUCKET_SIZE``); pass ``None`` for the uncapped
    exhaustive semantics (small corpora / oracle checks only — at
    100 TB an uncapped run is one hot key away from an m²/2 blowup)."""
    if bands * rows > len(MINHASH_COEFFS):
        raise ValueError(
            f"bands*rows = {bands * rows} exceeds the "
            f"{len(MINHASH_COEFFS)} available minhash coefficients"
        )
    # materialize the banded view ONCE: it is consumed by the bucket
    # self-join's two sides (plus the size filter when capped), and the
    # signature subplan underneath it is a full corpus scan + shingle
    # explode + groupBy — without the checkpoint Spark re-executes that
    # scan per consumer (measured: 32 parquet scans, zero
    # ReusedExchange, in the capped query at sf0.1).  The banded view
    # itself is small: (id, band, band_key) × bands rows per doc.
    banded = _banded(signatures, id_col, bands, rows).localCheckpoint(
        eager=True
    )
    if max_bucket_size is not None:
        sizes = banded.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        banded = banded.join(
            sizes.where(F.col("__bn") <= max_bucket_size).drop("__bn"),
            ["band", "band_key"],
        )
    left = banded.select(
        F.col(id_col).alias("doc_a"), "band", "band_key"
    )
    right = banded.select(
        F.col(id_col).alias("doc_b"), "band", "band_key"
    )
    return (
        left.join(right, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_probe_pairs(
    new_signatures: DataFrame,
    corpus_signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 2,
    rows: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """ASYMMETRIC LSH: candidate (new_id, corpus_id) pairs between an
    incoming batch and an existing corpus — the incremental shape of a
    continuous-crawl pipeline, where each day's documents are deduped
    against everything already kept WITHOUT re-pairing the corpus
    against itself.

    Only new×corpus bucket collisions are generated (never corpus²),
    so a batch of b docs against an n-doc corpus costs O(collisions)
    bounded by b·bucket-size — at 100 TB the corpus side's banded view
    is a stable precomputed table and each batch is one bucket join.
    ``max_bucket_size`` caps the CORPUS side of each bucket (a hot
    boilerplate bucket would otherwise multiply every new doc by m);
    over-cap buckets route through exact dedup exactly like
    :func:`lsh_overflow_docs`."""
    if bands * rows > len(MINHASH_COEFFS):
        raise ValueError(
            f"bands*rows = {bands * rows} exceeds the "
            f"{len(MINHASH_COEFFS)} available minhash coefficients"
        )
    nb = _banded(new_signatures, id_col, bands, rows).select(
        F.col(id_col).alias("new_id"), "band", "band_key"
    )
    cb = _banded(corpus_signatures, id_col, bands, rows).select(
        F.col(id_col).alias("corpus_id"), "band", "band_key"
    )
    if max_bucket_size is not None:
        # checkpoint: the corpus banded view feeds both the size filter
        # and the probe join — same re-scan hazard as the symmetric path
        cb = cb.localCheckpoint(eager=True)
        sizes = cb.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        cb = cb.join(
            sizes.where(F.col("__bn") <= max_bucket_size).drop("__bn"),
            ["band", "band_key"],
        )
    return (
        nb.join(cb, ["band", "band_key"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def _banded(
    signatures: DataFrame, id_col: str, bands: int, rows: int
) -> DataFrame:
    """(id, band, band_key) exploded view of the signature table.

    One explode over an inline (band, band_key) struct array — NOT a
    union of per-band selects: a union re-executes the signature
    subplan (full shingle explode + 8-min groupBy, the expensive part
    of the LSH chain) once per band, while the explode computes
    signatures exactly once and fans out narrow rows."""
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return signatures.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("__bk")
    ).select(F.col(id_col), F.col("__bk.band"), F.col("__bk.band_key"))


def lsh_overflow_docs(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 2,
    rows: int = 4,
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Distinct doc ids that fell in at least one over-cap band bucket.

    The companion of the capped :func:`lsh_candidate_pairs`: docs the
    cap excluded from pairwise candidate generation.  Route them
    through :func:`exact_dup_groups` — a bucket hot enough to overflow
    is near-certainly one boilerplate duplicate class, which exact
    hashing resolves in one shuffle with no quadratic step."""
    if bands * rows > len(MINHASH_COEFFS):
        raise ValueError(
            f"bands*rows = {bands * rows} exceeds the "
            f"{len(MINHASH_COEFFS)} available minhash coefficients"
        )
    banded = _banded(signatures, id_col, bands, rows)
    sizes = banded.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    return (
        banded.join(
            sizes.where(F.col("__bn") > max_bucket_size).drop("__bn"),
            ["band", "band_key"],
        )
        .select(id_col)
        .distinct()
    )


# ------------------------------------------------------------------
# SimHash
# ------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash16(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """16-bit SimHash over distinct whitespace tokens: bit b set when
    the sum of (2·bit_b(h(token)) − 1) is positive."""
    tokens = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
        ).alias("tok"),
    )
    h = md5_int60(F.col("tok"))
    sums = [
        F.sum(
            F.when(((h.bitwiseAND(F.lit(1 << b))) != 0), 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tokens.groupBy(id_col).agg(*sums)
    value = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        value = bit if value is None else value + bit
    return agg.select(F.col(id_col), value.cast("long").alias("simhash"))


# ------------------------------------------------------------------
# Near-dup clustering (connected components over candidate pairs)
# ------------------------------------------------------------------

#: Driver union-find fast-path bound: an edge list at or below this
#: size is collected (16 bytes/edge → ≤ ~1.6 MB at the default) and
#: labeled in one pass on the driver instead of paying the iterative
#: loop's per-round Spark jobs.  The guard is the point: the candidate
#: graph of a 100 TB corpus can exceed any driver, so anything above
#: the cap runs the fully distributed propagation loop unchanged.
DEFAULT_DRIVER_EDGE_CAP = 100_000

#: Session conf flipping iterative-round checkpoints from
#: executor-local block storage to RELIABLE checkpoint-dir storage.
RELIABLE_CKPT_CONF = "spark.graft.reliableCheckpoint"


def _round_checkpoint(df: DataFrame) -> DataFrame:
    """Lineage-truncating checkpoint for iterative propagation rounds.

    Default is ``localCheckpoint`` — blocks live in executor storage,
    which is fast and correct on a single JVM but NOT executor-loss
    safe: the truncated lineage cannot recompute a block whose
    executor died, so a lost executor fails the job.  Setting the
    session conf ``spark.graft.reliableCheckpoint=true`` switches to a
    reliable ``checkpoint`` into ``sparkContext.setCheckpointDir``
    storage (HDFS/object store on a real cluster), which survives
    executor loss at the cost of a filesystem round-trip per round —
    the swap the 100 TB deployment makes.  Certified by an
    executor-kill soak (its tool lives in git history): a SIGKILLed
    executor mid-propagation under local-cluster completes with
    bit-identical labels.

    ``Dataset.checkpoint(eager=True)`` runs TWO jobs over the plan —
    the eager materializing count, then ``ReliableRDDCheckpointData``
    re-running the lineage to write the checkpoint files — so the
    round is persisted first: the second job then reads cached blocks
    instead of recomputing, and the reliable path pays write I/O, not
    double compute.  (Cache loss between the two jobs only costs a
    recompute, never correctness.)
    """
    spark = df.sparkSession
    if str(spark.conf.get(RELIABLE_CKPT_CONF, "false")).lower() == "true":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                f"{RELIABLE_CKPT_CONF}=true requires a checkpoint "
                "directory: call "
                "spark.sparkContext.setCheckpointDir(<fault-tolerant "
                "path>) before running iterative operators"
            )
        df = df.persist()
        try:
            return df.checkpoint(eager=True)
        finally:
            df.unpersist()
    return df.localCheckpoint(eager=True)


def _union_find_labels(pairs_pdf) -> "object":
    """Min-root union-find over a collected (doc_a, doc_b) edge frame:
    returns a pandas frame (v, component) where component = min id of
    v's connected set.  Union always attaches the larger root under
    the smaller, so by induction each set's root IS its minimum id —
    identical semantics to the distributed min-label propagation."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pairs_pdf["doc_a"], pairs_pdf["doc_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    verts = set(pairs_pdf["doc_a"]) | set(pairs_pdf["doc_b"])
    return pd.DataFrame(
        {"v": list(verts), "component": [find(v) for v in verts]}
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "doc_id",
    max_iters: int = 20,
    driver_edge_cap: int | None = DEFAULT_DRIVER_EDGE_CAP,
) -> DataFrame:
    """Label components of the candidate-pair graph: every vertex ends
    with ``component`` = the minimum doc id reachable from it — the
    canonical survivor of its near-dup cluster.

    Two physical strategies behind one semantics, picked by MEASURED
    edge count (the edge frame is persisted and counted first — the
    distributed path needs it materialized anyway):

    * ``n_edges <= driver_edge_cap`` — collect the (16 bytes/row) edge
      list and run min-root union-find on the driver: one job plus one
      broadcast-sized ``createDataFrame``, versus 3-4 Spark jobs PER
      PROPAGATION ROUND below.  On a deduped corpus the post-LSH
      candidate graph is a vanishing fraction of the corpus (sf0.1
      bench: 252 edges from 5 000 docs), so this is the common case at
      every scale — and the collect is strictly bounded by the cap.
    * above the cap — the fully distributed iterative min-label
      propagation: each round joins labels across edges (both
      directions) and keeps the minimum; the driver holds only the
      convergence counter.  Rounds needed = graph diameter — near-dup
      clusters are shallow (stars/cliques from shared LSH buckets), so
      this converges in a few rounds; ``max_iters`` bounds pathological
      chains, and the loop RAISES if it exhausts the bound without
      reaching a fixpoint — never returns partially-propagated labels,
      so both strategies return exactly converged components or fail
      loudly.  Pass ``driver_edge_cap=None`` (or 0) to force this path.

    Each distributed round's labels are ``localCheckpoint``-ed, not
    merely persisted: a round's plan references the previous round's
    plan TWICE (the neighbor join and the update join), so without a
    lineage break the logical plan doubles per round and a
    deep-diameter graph (a 16-chain needs 15 rounds) OOMs the DRIVER
    during analysis — caught by an adversarial chain soak (its tool
    lives in git history).  The checkpoint truncates the plan to a
    constant-size scan per round; superseded checkpoint blocks are
    released by the ContextCleaner once unreferenced.  On a multi-node
    cluster where executor loss must be survivable, set the session
    conf ``spark.graft.reliableCheckpoint=true`` (plus
    ``setCheckpointDir`` on fault-tolerant storage) and the same call
    sites write reliable checkpoints instead (:func:`_round_checkpoint`;
    certified by the executor-kill soak).  The loop exits on a fixpoint
    (no label changed).
    """
    if max_iters < 1:
        raise ValueError(
            f"max_iters must be >= 1 (got {max_iters}): zero rounds "
            "could only return unpropagated labels, which the "
            "converge-or-raise contract forbids"
        )
    pairs = edges.select("doc_a", "doc_b").persist()
    n_edges = pairs.count()
    if driver_edge_cap and n_edges <= driver_edge_cap:
        # the collect reads the cache the count just filled
        spark = vertices.sparkSession
        labeled = _union_find_labels(pairs.toPandas())
        vtype = [f for f in pairs.schema.fields if f.name == "doc_a"][0].dataType
        pairs.unpersist()
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [StructField("v", vtype), StructField("component", vtype)]
        )
        labels = spark.createDataFrame(labeled, schema)
    else:
        # persist the DOUBLED edge view, not the pair list: every
        # propagation round scans `both` once, so one materialized
        # table beats re-unioning two cached scans per round (measured
        # +40% on the 15-round adversarial chain soak without it)
        both = (
            pairs.selectExpr("doc_a AS src", "doc_b AS dst")
            .unionByName(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
            .persist()
        )
        # Only vertices that touch an edge can ever change label —
        # iterate over THAT set (bounded by 2·|candidate pairs|), not
        # the corpus: isolated vertices (the overwhelming majority of a
        # deduped corpus) rejoin at the end with component = own id.
        # This bounds every round's state by the candidate graph
        # regardless of corpus size.
        labels = _round_checkpoint(
            both.select(F.col("src").alias("v"))
            .distinct()
            .select("v", F.col("v").alias("component"))
        )
        # the eager checkpoint above materialized `both` into its
        # cache, so the pair cache is no longer needed — release it
        # before the loop instead of holding 3x the edge data (pairs +
        # doubled both) across every propagation round
        pairs.unpersist()
        changed = 0
        for _ in range(max_iters):
            neighbor_min = (
                both.join(labels.withColumnRenamed("v", "dst"), "dst")
                .groupBy("src")
                .agg(F.min("component").alias("n_comp"))
            )
            # The update join already sees old and new labels side by
            # side, so the change flag folds into the same pass — one
            # aggregate action per round instead of a separate
            # old-vs-new join.
            updated = _round_checkpoint(
                labels.join(
                    neighbor_min.withColumnRenamed("src", "v"), "v", "left"
                )
                .select(
                    "v",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("n_comp"), F.col("component")),
                    ).alias("component"),
                    (F.col("n_comp") < F.col("component"))
                    .cast("long")
                    .alias("__chg"),
                )
            )
            changed = updated.agg(F.sum("__chg")).first()[0] or 0
            labels = updated.select("v", "component")
            if changed == 0:
                break
        both.unpersist()
        if changed != 0:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"max_iters={max_iters} rounds ({changed} labels still "
                "changing) — the graph's diameter exceeds the bound; "
                "raise max_iters rather than consuming partial labels"
            )
    # Rejoin the isolated vertices (own id = own component) off the
    # labeled edge-touched set (broadcast-sized local relation on the
    # fast path, constant-size checkpoint lineage on the distributed
    # one); persist + track so downstream consumers share one
    # materialization, released at the next query boundary.
    full = vertices.join(
        labels.withColumnRenamed("v", id_col), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )
    out = caching.track(full.persist())
    out.count()
    return out


# ------------------------------------------------------------------
# n-gram Jaccard verification
# ------------------------------------------------------------------

def jaccard_for_pairs(
    shingles: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    shingles_materialized: bool = False,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate (doc_a, doc_b) pairs:
    intersection via shingle equi-join, union by inclusion-exclusion.
    Cost is bounded by the candidate set — never all pairs.

    Both inputs are materialized once up front: ``shingles`` feeds the
    size aggregate and BOTH sides of the intersection join, ``pairs``
    feeds the intersection and the final assembly — without the
    checkpoints Spark re-executes the shingle explode (a full corpus
    scan) and the upstream candidate generation per consumer.
    Materializing the explode costs one spill-able write, the same
    class as a shuffle — strictly cheaper than three recomputes.

    ``shingles_materialized=True`` tells this function the caller has
    ALREADY checkpointed/persisted ``shingles`` (e.g. because the same
    frame also feeds a signature pass) — a second localCheckpoint
    would copy the full explode block-for-block for zero added
    lineage truncation.  The flag is TRUSTED: there is no reliable
    runtime probe for "is this plan materialized" (a localCheckpoint-
    backed frame reports ``storageLevel`` NONE through the cache
    manager), so a caller passing True on an unmaterialized frame
    silently reintroduces the triple recompute of the explode —
    perf-only, results unchanged.  In-repo callers that pass True are
    pinned by plan tests on their single-explode shape."""
    if not shingles_materialized:
        shingles = shingles.localCheckpoint(eager=True)
    pairs = pairs.localCheckpoint(eager=True)
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = shingles.select(F.col(id_col).alias("doc_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"n_inter": 0})
        .join(sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# ------------------------------------------------------------------
# Substring containment (sub-document dedup)
# ------------------------------------------------------------------

def substring_containment(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_anchor_bucket: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Documents whose whole token stream appears contiguously inside
    another document — the snippet/quotation/truncated-mirror dedup
    case exact shingle methods miss (a 5-word snippet of a 500-word
    page shares almost no *distinct-set* similarity with it).

    Candidate generation is anchor-based, never all-pairs: if A's
    tokens appear token-aligned in B, then A's FIRST ``n``-gram is
    necessarily one of B's ``n``-gram shingles — so joining A's single
    anchor shingle against the corpus shingle table yields an exact
    superset of true containments at O(shingle collisions) cost.
    Verification is a padded substring check on the normalized texts
    (single spaces after normalization make char containment ⇔ token
    containment).  Docs with fewer than ``n`` tokens are out of scope.

    ``max_anchor_bucket`` is the same hot-key valve as LSH banding: an
    anchor shared by m docs (boilerplate first lines) joins against
    every container holding that shingle.  Anchors whose corpus-wide
    shingle frequency exceeds the cap are dropped — route those docs
    through exact dedup, as with :func:`lsh_overflow_docs`.  Pass
    ``None`` for exhaustive semantics (small corpora / oracle checks).

    The shingle table carries the 60-bit md5 of each shingle, never
    the shingle TEXT: the frequency aggregate, the hot-anchor cap, and
    the anchor join all shuffle 8-byte longs instead of n-gram strings
    (the dominant exchange of this operator — the verify step already
    re-checks candidates with a padded substring match, so a hash
    bucket standing in for the string only risks EXTRA verified-away
    candidates, and the cap is DEFINED on hash-bucket frequency —
    identically in the SQL oracles — so both engines agree by
    construction).  Per-doc shingles are deduplicated before the
    aggregate (``array_distinct``), so frequency = number of docs
    holding the shingle.

    Returns (contained_id, container_id, contained_tokens) pairs."""
    from ..functions.hashing import md5_int60

    norm = normalize_text(F.col(text_col))
    # The normalized+sized view fans out to FIVE consumers (anchors,
    # the shingle table, the container length gate, and both verify
    # text joins) — materialize it ONCE.  Without the checkpoint each
    # consumer re-ran the caller's upstream plan plus the normalize
    # regex and tokenize per branch (measured at sf0.1: the final save
    # re-derived this chain four times; at scale that is four corpus
    # passes for one).  The token array itself is NOT stored — it
    # inflates the checkpoint by the full token count per doc; the one
    # consumer that needs tokens (the shingle branch, itself
    # checkpointed below when capped) re-splits the already-normalized
    # text.
    sized = (
        df.select(F.col(id_col), norm.alias("__norm"))
        .select(
            F.col(id_col),
            "__norm",
            F.split(F.col("__norm"), " ").alias("__toks"),
        )
        .select(
            F.col(id_col),
            "__norm",
            F.size("__toks").cast("long").alias("__ntoks"),
            F.concat_ws(" ", F.slice("__toks", 1, n)).alias("__anchor"),
            F.concat_ws(
                " ",
                F.slice(
                    "__toks",
                    F.greatest(F.size("__toks") - (n - 1), F.lit(1)),
                    n,
                ),
            ).alias("__last"),
        )
        .localCheckpoint(eager=True)
    )
    anchors = sized.where(F.col("__ntoks") >= n).select(
        F.col(id_col).alias("contained_id"),
        F.col("__ntoks").alias("contained_tokens"),
        md5_int60(F.col("__anchor")).alias("__h"),
    )
    # materialize the hashed shingle view once: it feeds the frequency
    # aggregate (when capped), the anchor join, AND the last-shingle
    # candidate gate below (same re-scan hazard as the LSH banded
    # view); 16 bytes/row, a fraction of the text form
    sh_all = sized.select(
        F.col(id_col),
        F.explode(
            _token_shingles(F.split(F.col("__norm"), " "), n)
        ).alias("shingle"),
    ).select(
        F.col(id_col), md5_int60(F.col("shingle")).alias("__h")
    ).localCheckpoint(eager=True)
    sh = sh_all
    if max_anchor_bucket is not None:
        freq = sh_all.groupBy("__h").agg(F.count(F.lit(1)).alias("__sn"))
        sh = sh_all.join(
            freq.where(F.col("__sn") <= max_anchor_bucket).drop("__sn"),
            "__h",
        )
    # candidate pairs are IDS ONLY through the join and the distinct —
    # the normalized texts attach AFTER dedup, one join per side, so a
    # corpus whose true-containment pair count blows up (every doc
    # contained in k mirrors) shuffles 24-byte rows instead of
    # dragging each contained doc's full text through the exchange
    cand = (
        anchors.join(sh.withColumnRenamed(id_col, "container_id"), "__h")
        .where(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id", "contained_tokens")
        .distinct()
    )
    # a contained doc can't be LONGER than its container — the length
    # gate kills those pairs on 16-byte rows before any text attaches
    # (a longer doc's anchor legitimately matches a shorter doc's
    # shingles whenever the shorter doc is its prefix — on mirror/
    # snippet corpora that's ~half the candidates, all unverifiable)
    container_len = sized.select(
        F.col(id_col).alias("container_id"),
        F.col("__ntoks").alias("__b_len"),
    )
    cand = cand.join(container_len, "container_id").where(
        F.col("contained_tokens") <= F.col("__b_len")
    )
    # Last-shingle gate (ids only, BEFORE any text attaches): a
    # token-aligned containment puts EVERY a-shingle — in particular
    # a's last n-gram — among b's distinct shingles, so requiring a
    # (container_id, last-shingle-hash) hit against the UNCAPPED
    # shingle table prunes only never-verifiable pairs (the capped
    # table must not be used here: a true pair whose last shingle sat
    # in an over-cap bucket would be lost).  Anchor-only candidates
    # are dominated by hot first-trigrams (boilerplate openers);
    # measured at sf0.1: 38 598 length-gated
    # candidates, 981 verified — this gate removes ~97% of the
    # text-attach shuffle and contains() work on 16-byte rows.
    last_h = sized.where(F.col("__ntoks") >= n).select(
        F.col(id_col).alias("contained_id"),
        md5_int60(F.col("__last")).alias("__lh"),
    )
    cand = cand.join(last_h, "contained_id").join(
        sh_all.select(
            F.col(id_col).alias("container_id"), F.col("__h").alias("__lh")
        ),
        ["container_id", "__lh"],
        "left_semi",
    )
    contained_txt = sized.select(
        F.col(id_col).alias("contained_id"), F.col("__norm").alias("__a_norm")
    )
    container_txt = sized.select(
        F.col(id_col).alias("container_id"), F.col("__norm").alias("__b_norm")
    )
    return (
        cand.join(contained_txt, "contained_id")
        .join(container_txt, "container_id")
        .where(
            F.contains(
                F.concat(F.lit(" "), F.col("__b_norm"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("__a_norm"), F.lit(" ")),
            )
        )
        .select("contained_id", "container_id", "contained_tokens")
    )


def duplicate_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans — sliding-window exact substring
    dedup (the ExactSubstr method of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499) at
    token granularity: every k-token window whose corpus-wide
    occurrence count over ALL (doc, position) slots — self-repeats
    included — reaches ``min_count`` marks its token range duplicated;
    per doc, overlapping or adjacent marked ranges merge into maximal
    spans.  Unlike chunk-level dedup, which only catches repeats
    aligned to chunk boundaries, sliding windows catch a repeated
    k-token run at ANY offset.

    100 TB shape: window slots travel as (doc_id, pos, 60-bit hash) —
    never window text; the slot table is materialized once (it feeds
    the frequency aggregate AND the dup semi-join), the frequency
    groupBy keys on the uniform md5 hash (hot boilerplate windows are
    hot keys of a map-side-combinable COUNT, not of a pair join — no
    quadratic step anywhere, unlike pair-generating dedup), and span
    merging is one per-doc window bounded by document length.

    Returns (doc_id, span_start, span_end, span_tokens): 1-based
    token positions, both ends inclusive."""
    from pyspark.sql import Window

    # project the token array ONCE before the window transform: the 8
    # element_at references below would otherwise each re-evaluate the
    # normalize+split expression inside the generated code
    toks = df.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("__toks"),
    )
    w = F.col("__toks")
    wins = F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                md5_int60(
                    F.concat_ws(
                        " ", *[F.element_at(w, i + off) for off in range(k)]
                    )
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,h:long>>"))
    slots = (
        toks.select(F.col(id_col), F.explode(wins).alias("__w"))
        .select(F.col(id_col), F.col("__w.pos"), F.col("__w.h"))
        .localCheckpoint(eager=True)
    )
    freq = slots.groupBy("h").agg(F.count(F.lit(1)).alias("__n"))
    dup = slots.join(
        freq.where(F.col("__n") >= min_count).select("h"), "h"
    ).select(id_col, "pos")
    ww = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        ww.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "__brk",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(
            0
        ),
    )
    return (
        marked.withColumn("__g", F.sum("__brk").over(ww))
        .groupBy(id_col, "__g")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_tokens"),
        )
    )


def canonical_per_component(
    components: DataFrame,
    quality: DataFrame,
    *,
    id_col: str = "doc_id",
    quality_col: str = "q",
) -> DataFrame:
    """Canonical-document selection: for every multi-document near-dup
    cluster, pick the single doc to KEEP — highest ``quality_col``,
    ties broken on the smaller id — and report the cluster size.

    This is the decision step after clustering in an LLM curation
    pipeline (keep the best copy, drop the rest): one shuffle on the
    component key for the window and one for the size aggregate, both
    bounded by cluster count, not corpus size.  Input ``components`` is
    ``connected_components`` output (id, component); ``quality`` is any
    per-doc exact integer score (length, token count, a rule score).
    """
    from pyspark.sql import Window

    joined = components.join(quality, id_col)
    w = Window.partitionBy("component").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    kept = (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "component",
            F.col(id_col).alias("kept_id"),
            F.col(quality_col).cast("long").alias("kept_quality"),
        )
    )
    return kept.join(sizes, "component").where(F.col("n_docs") > 1)

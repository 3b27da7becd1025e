"""Dataops query family (engine extension): dedup, similarity search,
curation, multimodal plumbing — each with a DuckDB oracle built on
the same cross-engine hashing (functions.hashing) and integer-exact
arithmetic, so even the LSH/minhash internals are value-checked.

The dedup corpus is ``documents`` with duplicates injected
deterministically (every doc_id % 5 == 0 re-appears as doc_id +
1_000_000) — the raw table is 100% distinct, which would make the
dedup queries vacuous.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dataops import dedup as dd
from ..dataops import multimodal as mm
from ..dataops import similarity as sim
from ..dataops import text as tx
from ..functions.hashing import (
    MERSENNE_P,
    MINHASH_COEFFS,
    md5_int60_sql,
    minhash_residue_sql,
)
from . import load, query

# ------------------------------------------------------------------
# Shared corpus (Spark + SQL twins)
# ------------------------------------------------------------------


def corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    dups = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(dups)


_CORPUS_SQL = """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text, lang, source, n_chars
    FROM documents WHERE doc_id % 5 = 0
"""

#: Normalized text (twin of dataops.text.normalize_text).
_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

#: Distinct word 3-gram shingles of the normalized text (1-based).
_SHINGLES_SQL = f"""
words AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM corpus
),
shingles AS (
    SELECT DISTINCT doc_id,
           unnest(list_slice(w, 1, greatest(len(w) - 2, 0))) || ' ' ||
           unnest(list_slice(w, 2, greatest(len(w) - 1, 0))) || ' ' ||
           unnest(list_slice(w, 3, len(w))) AS shingle
    FROM words
)
"""

# ------------------------------------------------------------------
# Exact dedup
# ------------------------------------------------------------------

_EXACT_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL})
SELECT md5({_NORM_SQL}) AS text_hash,
       count(*) AS n_copies,
       min(doc_id) AS canonical_id
FROM corpus
GROUP BY 1
HAVING count(*) > 1
"""


@query("dedup_exact_groups", _EXACT_ORACLE)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized-text md5; one shuffle on
    a 32-byte key; duplicate groups with canonical (min) id."""
    groups = dd.exact_dup_groups(corpus(spark, sf_dir))
    return groups.where(F.col("n_copies") > 1)


# ------------------------------------------------------------------
# MinHash signatures + LSH banding
# ------------------------------------------------------------------

_MH_MIN_SQL = ",\n           ".join(
    f"min(({a} * x + {b}) % {MERSENNE_P}) AS mh{j}"
    for j, (a, b) in enumerate(MINHASH_COEFFS)
)

_SIGNATURE_CTE = f"""
corpus AS ({_CORPUS_SQL}),
{_SHINGLES_SQL},
hashed AS (
    SELECT doc_id, {minhash_residue_sql('shingle')} AS x FROM shingles
),
signatures AS (
    SELECT doc_id,
           {_MH_MIN_SQL}
    FROM hashed
    GROUP BY doc_id
)
"""

_MINHASH_ORACLE = f"WITH {_SIGNATURE_CTE} SELECT * FROM signatures"


@query("dedup_minhash_signatures", _MINHASH_ORACLE)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-permutation MinHash signatures: shingle explode → hash once →
    one groupBy (8 longs per doc over the wire); internals value-checked
    against the SQL twin."""
    sh = dd.exploded_shingles(corpus(spark, sf_dir))
    return dd.minhash_signatures(sh)


_LSH_ORACLE = f"""
WITH {_SIGNATURE_CTE},
banded AS (
    SELECT doc_id, 0 AS band,
           CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) || '_' ||
           CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS band_key
    FROM signatures
    UNION ALL
    SELECT doc_id, 1 AS band,
           CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) || '_' ||
           CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) AS band_key
    FROM signatures
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


@query("dedup_lsh_candidates", _LSH_ORACLE)
def dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded LSH candidate pairs (2 bands × 4 rows): bucket self-join,
    O(collisions) not O(n²).  Explicitly uncapped — the exhaustive
    semantics this oracle checks; the library default applies the
    hot-bucket cap (see ``dedup_lsh_capped``)."""
    sh = dd.exploded_shingles(corpus(spark, sf_dir))
    sig = dd.minhash_signatures(sh)
    return dd.lsh_candidate_pairs(sig, bands=2, rows=4, max_bucket_size=None)


_PROBE_ORACLE = f"""
WITH {_SIGNATURE_CTE},
banded AS (
    SELECT doc_id, 0 AS band,
           CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) || '_' ||
           CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS band_key
    FROM signatures
    UNION ALL
    SELECT doc_id, 1 AS band,
           CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) || '_' ||
           CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) AS band_key
    FROM signatures
),
probe AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000
)
SELECT new_id,
       CAST(count(*) AS BIGINT) AS n_corpus_candidates,
       CAST(min(corpus_id) AS BIGINT) AS first_corpus_match
FROM probe
GROUP BY new_id
"""


@query("dedup_incremental_probe", _PROBE_ORACLE)
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the continuous-crawl shape: an incoming
    batch (the corpus's planted duplicates, id >= 1e6) is LSH-probed
    against the existing corpus WITHOUT re-pairing the corpus with
    itself (dataops.dedup.lsh_probe_pairs: new x corpus bucket
    collisions only, never corpus^2).  Every planted duplicate must
    surface its source document among the candidates — per new doc the
    candidate count and the earliest matching corpus id go on the
    hash.  At scale the corpus-side banded view is a precomputed
    stable table and each day's batch is one bucket join against it."""
    sh = dd.exploded_shingles(corpus(spark, sf_dir))
    sigs = dd.minhash_signatures(sh)
    new_sigs = sigs.where(F.col("doc_id") >= 1_000_000)
    corpus_sigs = sigs.where(F.col("doc_id") < 1_000_000)
    probe = dd.lsh_probe_pairs(
        new_sigs, corpus_sigs, bands=2, rows=4, max_bucket_size=None
    )
    return probe.groupBy(F.col("new_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus_candidates"),
        F.min("corpus_id").cast("long").alias("first_corpus_match"),
    )


_LSH_CAP = 3

_LSH_CAPPED_ORACLE = f"""
WITH {{sig}},
banded AS (
    SELECT doc_id, 0 AS band,
           CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) || '_' ||
           CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS band_key
    FROM signatures
    UNION ALL
    SELECT doc_id, 1 AS band,
           CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) || '_' ||
           CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) AS band_key
    FROM signatures
),
kept AS (
    SELECT band, band_key FROM banded
    GROUP BY band, band_key HAVING count(*) <= {_LSH_CAP}
),
eligible AS (
    SELECT banded.* FROM banded JOIN kept USING (band, band_key)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM eligible a JOIN eligible b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
""".format(sig=_SIGNATURE_CTE)


@query("dedup_lsh_capped", _LSH_CAPPED_ORACLE)
def dedup_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The library-default capped LSH path: band buckets above the
    hot-bucket cap are excluded from candidate generation (their docs
    route through exact dedup via ``lsh_overflow_docs``).  Cap chosen
    so it BITES at this corpus size — the oracle encodes the cap
    semantics, not just the happy path."""
    sh = dd.exploded_shingles(corpus(spark, sf_dir))
    sig = dd.minhash_signatures(sh)
    return dd.lsh_candidate_pairs(
        sig, bands=2, rows=4, max_bucket_size=_LSH_CAP
    )


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_SIGNATURE_CTE},
banded AS (
    SELECT doc_id, 0 AS band,
           CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) || '_' ||
           CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS band_key
    FROM signatures
    UNION ALL
    SELECT doc_id, 1 AS band,
           CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) || '_' ||
           CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) AS band_key
    FROM signatures
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
bidir(a, b) AS (
    SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM bidir
    UNION
    SELECT r.a, e.b FROM reach r JOIN bidir e ON e.a = r.b
)
SELECT c.doc_id,
       least(c.doc_id, coalesce(min(r.b), c.doc_id)) AS component
FROM corpus c LEFT JOIN reach r ON r.a = c.doc_id
GROUP BY c.doc_id
"""


@query("dedup_components", _COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the LSH candidate
    graph via iterative min-label propagation (driver holds only a
    convergence counter); component = canonical min-id survivor.  The
    oracle recomputes components with a recursive-CTE transitive
    closure — a genuinely iterative Spark algorithm, still value-checked.
    """
    c = corpus(spark, sf_dir)
    sh = dd.exploded_shingles(c)
    sig = dd.minhash_signatures(sh)
    pairs = dd.lsh_candidate_pairs(sig, bands=2, rows=4, max_bucket_size=None)
    return dd.connected_components(c.select("doc_id"), pairs)


# ------------------------------------------------------------------
# Leakage-safe train/val/test split (near-dups co-assigned)
# ------------------------------------------------------------------

_SPLIT_ORACLE = f"""
SELECT doc_id, component,
       CASE WHEN CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))
                      AS BIGINT) % 10 < 8 THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))
                      AS BIGINT) % 10 = 8 THEN 'val'
            ELSE 'test' END AS split
FROM ({_COMPONENTS_ORACLE}) comp
"""


@query("documents_leakage_safe_split", _SPLIT_ORACLE)
def documents_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment with ZERO near-duplicate leakage: the
    split hash keys on the near-dup COMPONENT label, not the doc id,
    so every member of a duplicate cluster lands on the same side —
    the eval-integrity property a doc-hashed split silently violates
    (a train doc's near-copy in the val set).  80/10/10 via the
    cross-engine md5 stream on the component id; after the components
    pass (bounded label propagation) the split itself is map-only."""
    from ..functions.hashing import md5_int60

    c = corpus(spark, sf_dir)
    sh = dd.exploded_shingles(c)
    sig = dd.minhash_signatures(sh)
    pairs = dd.lsh_candidate_pairs(sig, bands=2, rows=4, max_bucket_size=None)
    comps = dd.connected_components(c.select("doc_id"), pairs)
    h = md5_int60(F.col("component").cast("string")) % 10
    return comps.select(
        "doc_id",
        "component",
        F.when(h < 8, "train").when(h == 8, "val").otherwise("test")
        .alias("split"),
    )


# ------------------------------------------------------------------
# SimHash
# ------------------------------------------------------------------

_SIM_SUMS = ",\n         ".join(
    f"sum(CASE WHEN (h & {1 << b}) <> 0 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(dd.SIMHASH_BITS)
)
_SIM_VALUE = " + ".join(
    f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END"
    for b in range(dd.SIMHASH_BITS)
)

_SIMHASH_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
tokens AS (
    SELECT DISTINCT doc_id,
           unnest(string_split({_NORM_SQL}, ' ')) AS tok
    FROM corpus
),
hashed AS (SELECT doc_id, {md5_int60_sql('tok')} AS h FROM tokens),
sums AS (
    SELECT doc_id,
         {_SIM_SUMS}
    FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({_SIM_VALUE} AS BIGINT) AS simhash FROM sums
"""


@query("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures over distinct tokens — one aggregate
    with 16 conditional sums."""
    return dd.simhash16(corpus(spark, sf_dir))


# ------------------------------------------------------------------
# n-gram Jaccard verification
# ------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
{_SHINGLES_SQL},
pairs AS (
    SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b
    FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
    WHERE d1.doc_id % 10 = 0
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
    SELECT p.doc_a, p.doc_b, count(*) AS n_inter
    FROM pairs p
    JOIN shingles sa ON sa.doc_id = p.doc_a
    JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
    GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       COALESCE(i.n_inter, 0)
           / (na.n + nb.n - COALESCE(i.n_inter, 0)) AS jaccard
FROM pairs p
LEFT JOIN inter i USING (doc_a, doc_b)
JOIN sizes na ON na.doc_id = p.doc_a
JOIN sizes nb ON nb.doc_id = p.doc_b
"""


@query("dedup_ngram_jaccard", _JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard over a deterministic pair sample —
    the verification stage that LSH candidates feed at scale."""
    docs = load(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("doc_a")
    )
    b = docs.select(F.col("doc_id").alias("doc_b"))
    pairs = a.join(
        b, F.col("doc_b") == F.col("doc_a") + 1
    ).select("doc_a", "doc_b")
    # shingle sets are per-doc independent — only pair members need
    # the explode (same pushdown as dedup_minhash_quality)
    sh = dd.exploded_shingles(
        corpus(spark, sf_dir).where((F.col("doc_id") % 10).isin(0, 1))
    )
    return dd.jaccard_for_pairs(sh, pairs)


# ------------------------------------------------------------------
# Substring containment (sub-document dedup)
# ------------------------------------------------------------------

#: Containment corpus: documents plus injected 5-word snippet docs
#: (every doc_id % 7 == 0 reappears as doc_id + 2M truncated to its
#: first five normalized words) — the raw table has no sub-document
#: relationships, which would make the query vacuous.
_SNIPPET_SQL = f"array_to_string(string_split({_NORM_SQL}, ' ')[1:5], ' ')"

_CONTAIN_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, {_SNIPPET_SQL} AS text
    FROM documents WHERE doc_id % 7 = 0
"""

_CONTAIN_ORACLE = f"""
WITH corpus AS ({_CONTAIN_CORPUS_SQL}),
norms AS (
    SELECT doc_id, {_NORM_SQL} AS nrm,
           string_split({_NORM_SQL}, ' ') AS w
    FROM corpus
),
shingles AS (
    SELECT DISTINCT doc_id,
           unnest(list_slice(w, 1, greatest(len(w) - 2, 0))) || ' ' ||
           unnest(list_slice(w, 2, greatest(len(w) - 1, 0))) || ' ' ||
           unnest(list_slice(w, 3, len(w))) AS shingle
    FROM norms
),
-- the engine shuffles the 60-bit md5 of each shingle, never the text;
-- the hot-anchor cap is DEFINED on hash-bucket frequency in both
-- engines (see dataops.dedup.substring_containment)
hashed AS (
    SELECT doc_id, {md5_int60_sql('shingle')} AS h FROM shingles
),
kept AS (
    SELECT h FROM hashed
    GROUP BY h HAVING count(*) <= {dd.DEFAULT_MAX_BUCKET_SIZE}
),
sh AS (SELECT s.doc_id, s.h FROM hashed s JOIN kept USING (h)),
anchors AS (
    SELECT doc_id AS contained_id, nrm AS a_nrm,
           CAST(len(w) AS BIGINT) AS contained_tokens,
           {md5_int60_sql("w[1] || ' ' || w[2] || ' ' || w[3]")} AS anchor_h
    FROM norms WHERE len(w) >= 3
),
cand AS (
    SELECT DISTINCT a.contained_id, s.doc_id AS container_id,
           a.contained_tokens, a.a_nrm
    FROM anchors a
    JOIN sh s ON s.h = a.anchor_h AND s.doc_id <> a.contained_id
)
SELECT c.contained_id, c.container_id, c.contained_tokens
FROM cand c JOIN norms b ON b.doc_id = c.container_id
WHERE strpos(' ' || b.nrm || ' ', ' ' || c.a_nrm || ' ') > 0
"""


@query("dedup_substring_containment", _CONTAIN_ORACLE)
def dedup_substring_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: docs wholly contained in another doc's token
    stream, found via a single-anchor shingle join (exact candidate
    superset, O(collisions) not O(n²)) + padded substring verification;
    hot-anchor cap on (library default) and mirrored in the oracle."""
    docs = load(spark, sf_dir, "documents")
    w = F.split(tx.normalize_text(F.col("text")), " ")
    snippets = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 1, 5)).alias("text"),
    )
    contain_corpus = docs.select("doc_id", "text").unionByName(snippets)
    return dd.substring_containment(contain_corpus)


# ------------------------------------------------------------------
# Similarity search
# ------------------------------------------------------------------

_QUANT_SQL = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

#: DuckDB twin of dataops.similarity.valid_embeddings — the
#: garbage-row gate every embedding consumer runs behind (non-null
#: id/vector, exact dim, all components non-null AND finite, max
#: |component| above the quantization floor).  coalesce(..., false)
#: per element because bool_and SKIPS nulls (a null component must
#: fail the row, as it does in Spark).  Applied to every registered
#: oracle that reads `FROM embeddings` by _apply_embeddings_contract()
#: at the bottom of this module — one definition, zero per-query
#: drift.  No integer casts in the predicate: WHERE clauses have no
#: evaluation-order guarantee, and CAST(NaN AS BIGINT) errors in
#: DuckDB.
_EMB_VALID_SQL = (
    "vec_id IS NOT NULL AND embedding IS NOT NULL "
    "AND len(embedding) = 64 "
    "AND coalesce(list_aggregate(list_transform(embedding, "
    "x -> coalesce(isfinite(CAST(x AS DOUBLE)), false)), 'bool_and'), "
    "false) "
    "AND list_aggregate(list_transform(embedding, "
    "x -> abs(CAST(x AS DOUBLE))), 'max') > 0.01"
)


def emb_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings under the validity contract
    (dataops.similarity.valid_embeddings) — the only way queries in
    this module read the table."""
    return sim.valid_embeddings(load(spark, sf_dir, "embeddings"))

_ANN_BASE_SQL = f"""
vecs AS (
    SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings
),
normed AS (
    SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM vecs
),
queries AS (SELECT * FROM normed WHERE vec_id % 100 = 0),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           list_dot_product(q.v, c.v)
               / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
    FROM queries q JOIN normed c ON c.vec_id <> q.vec_id
)
"""

_ANN_ORACLE = f"""
WITH {_ANN_BASE_SQL},
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rank
    FROM scored
)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = emb_valid(spark, sf_dir)
    return emb.select(
        "vec_id",
        sim.quantize(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("qvec"),
    )


@query("ann_cosine_topk", _ANN_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 per query vector (queries =
    vec_id % 100 == 0, broadcast); integer-quantized arithmetic keeps
    scores bit-identical across engines."""
    vecs = _quantized(spark, sf_dir)
    queries = vecs.where(F.col("vec_id") % 100 == 0)
    return sim.cosine_topk(vecs, queries, k=5)


# 64 sign bits packed into ONE BIGINT word; bit 63 rides the LONG_MIN
# literal (1 << 63 overflows engines that check).  list_sum keeps the
# packing exact (HUGEINT internally) — list_dot_product would round
# through DOUBLE above 2^53.
_PACK_SQL = (
    "CAST(list_sum(list_transform(generate_series(1, 63), i -> "
    "CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) "
    "ELSE CAST(0 AS BIGINT) END)) "
    f"+ CASE WHEN v[64] > 0 THEN CAST({sim.LONG_MIN} AS HUGEINT) "
    "ELSE CAST(0 AS HUGEINT) END AS BIGINT)"
)

_ANN_HAMMING_ORACLE = f"""
WITH vecs AS (
    SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings
),
enc AS (
    SELECT vec_id, v, list_dot_product(v, v) AS n2, {_PACK_SQL} AS w
    FROM vecs
),
queries AS (SELECT * FROM enc WHERE vec_id % 100 = 0),
coarse AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(bit_count(xor(q.w, c.w)) AS BIGINT) AS hamming,
           list_dot_product(q.v, c.v)
               / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
    FROM queries q JOIN enc c ON c.vec_id <> q.vec_id
),
s1 AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY hamming, cand_id) AS rk1
    FROM coarse
),
s2 AS (
    SELECT query_id, cand_id, hamming, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, cand_id) AS rank
    FROM s1 WHERE rk1 <= 32
)
SELECT query_id, cand_id, hamming, cosine, CAST(rank AS BIGINT) AS rank
FROM s2 WHERE rank <= 5
"""


@query("ann_binary_hamming", _ANN_HAMMING_ORACLE)
def ann_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized two-stage ANN: 64 sign bits per vector packed
    into ONE int64 word, coarse Hamming ranking via
    ``bit_count(qw XOR cw)`` (8 bytes per candidate through stage 1),
    exact integer-cosine rescoring of the 32 coarse survivors, top-5
    out.  The bandwidth shape that makes ANN affordable at 100 TB —
    see dataops.similarity.ann_hamming_topk."""
    vecs = _quantized(spark, sf_dir)
    queries = vecs.where(F.col("vec_id") % 100 == 0)
    return sim.ann_hamming_topk(vecs, queries, k=5, m=32)


def _planes_sql(planes: list[list[int]]) -> str:
    cases = []
    for j, plane in enumerate(planes):
        lit = "[" + ", ".join(str(c) for c in plane) + "]"
        cases.append(
            f"CASE WHEN list_dot_product(v, {lit}) > 0 THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(cases)


_ANN_LSH_ORACLE = f"""
WITH vecs AS (
    SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings
),
normed AS (
    SELECT vec_id, v, list_dot_product(v, v) AS n2,
           CAST({_planes_sql(sim.hyperplanes(6, 64))} AS BIGINT) AS bucket
    FROM vecs
),
queries AS (SELECT * FROM normed WHERE vec_id % 100 = 0),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           list_dot_product(q.v, c.v)
               / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
    FROM queries q JOIN normed c
      ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rank
    FROM scored
)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
"""


@query("ann_lsh_bucketed", _ANN_LSH_ORACLE)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH buckets (6 planes):
    the scale path — candidates restricted to bucket collisions, exact
    re-scoring inside.  Even the approximation is value-checked (same
    deterministic planes in the oracle)."""
    vecs = _quantized(spark, sf_dir)
    queries = vecs.where(F.col("vec_id") % 100 == 0)
    return sim.ann_lsh_topk(vecs, queries, k=5, n_planes=6, dim=64)


_MH_EQ_SUM = " + ".join(
    f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END"
    for j in range(len(MINHASH_COEFFS))
)

_MINHASH_QUALITY_ORACLE = f"""
WITH {_SIGNATURE_CTE},
pairs AS (
    SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b
    FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
    WHERE d1.doc_id % 10 = 0
),
est AS (
    SELECT p.doc_a, p.doc_b,
           ({_MH_EQ_SUM}) / {len(MINHASH_COEFFS)}.0 AS jaccard_est
    FROM pairs p
    JOIN signatures a ON a.doc_id = p.doc_a
    JOIN signatures b ON b.doc_id = p.doc_b
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
    SELECT p.doc_a, p.doc_b, count(*) AS n_inter
    FROM pairs p
    JOIN shingles sa ON sa.doc_id = p.doc_a
    JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
    GROUP BY p.doc_a, p.doc_b
)
SELECT e.doc_a, e.doc_b, e.jaccard_est,
       COALESCE(i.n_inter, 0)
           / (na.n + nb.n - COALESCE(i.n_inter, 0)) AS jaccard_exact
FROM est e
LEFT JOIN inter i USING (doc_a, doc_b)
JOIN sizes na ON na.doc_id = e.doc_a
JOIN sizes nb ON nb.doc_id = e.doc_b
"""


@query("dedup_minhash_quality", _MINHASH_QUALITY_ORACLE)
def dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator quality: per pair, the signature-agreement
    estimate (matching minhashes / 8) against the exact shingle
    Jaccard — the measurement that sizes the signature for a target
    error at scale."""
    docs = load(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("doc_a")
    )
    b = docs.select(F.col("doc_id").alias("doc_b"))
    pairs = a.join(b, F.col("doc_b") == F.col("doc_a") + 1).select(
        "doc_a", "doc_b"
    )
    # signatures and shingle sets are PER-DOC independent, so only the
    # pair members (doc_id ≡ 0,1 mod 10) need the explode at all — the
    # filter reaches the scan and cuts the minhash work 5x; results
    # are bit-identical to the whole-corpus computation
    #
    # r11: the shingle explode feeds THREE evaluation sites (the
    # signature aggregate behind sig_a, the one behind sig_b, and the
    # jaccard intersection) — materialize it ONCE and hand the
    # materialized frame to jaccard_for_pairs so it does not copy it a
    # second time.  The signature table itself (|pair docs| × 9 longs)
    # is checkpointed too: sig_a and sig_b each re-ran the 8-way min
    # aggregate over the full explode before this.  Measured isolated
    # best-of-3 at sf0.1: 13.7s → see OPTIMIZATION_r11.md.
    sh = dd.exploded_shingles(
        corpus(spark, sf_dir).where((F.col("doc_id") % 10).isin(0, 1))
    ).localCheckpoint(eager=True)
    sig = dd.minhash_signatures(sh).localCheckpoint(eager=True)
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(len(MINHASH_COEFFS))],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(len(MINHASH_COEFFS))],
    )
    est_expr = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(len(MINHASH_COEFFS))
    ) / float(len(MINHASH_COEFFS))
    est = (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", est_expr.alias("jaccard_est"))
    )
    exact = dd.jaccard_for_pairs(
        sh, pairs, shingles_materialized=True
    ).withColumnRenamed(
        "jaccard", "jaccard_exact"
    )
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "jaccard_est", "jaccard_exact"
    )


_ANN_RECALL_ORACLE = f"""
WITH vecs AS (
    SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings
),
normed AS (
    SELECT vec_id, v, list_dot_product(v, v) AS n2,
           CAST({{planes}} AS BIGINT) AS bucket
    FROM vecs
),
queries AS (SELECT * FROM normed WHERE vec_id % 100 = 0),
exact_ranked AS (
    SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.v, c.v)
                            / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE))
                            DESC, c.vec_id) AS rank
        FROM queries q JOIN normed c ON c.vec_id <> q.vec_id
    ) WHERE rank <= 5
),
lsh_ranked AS (
    SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.v, c.v)
                            / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE))
                            DESC, c.vec_id) AS rank
        FROM queries q JOIN normed c
          ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    ) WHERE rank <= 5
)
SELECT e.query_id,
       CAST(count(l.cand_id) AS BIGINT) AS n_hits,
       count(l.cand_id) / 5.0 AS recall_at_5
FROM exact_ranked e
LEFT JOIN lsh_ranked l
  ON l.query_id = e.query_id AND l.cand_id = e.cand_id
GROUP BY e.query_id
""".replace("{planes}", _planes_sql(sim.hyperplanes(6, 64)))


@query("ann_recall_at_5", _ANN_RECALL_ORACLE)
def ann_recall_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metric for the approximate path: per-query recall@5 of
    the LSH-bucketed search vs the exact brute force — the measurement
    that justifies (or rejects) the approximation at scale."""
    vecs = _quantized(spark, sf_dir).localCheckpoint(eager=True)
    queries = vecs.where(F.col("vec_id") % 100 == 0)
    exact = sim.cosine_topk(vecs, queries, k=5).select("query_id", "cand_id")
    approx = (
        sim.ann_lsh_topk(vecs, queries, k=5, n_planes=6, dim=64)
        .select("query_id", "cand_id")
        .withColumn("__hit", F.lit(1))
    )
    joined = exact.join(approx, ["query_id", "cand_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count("__hit").cast("long").alias("n_hits"),
        (F.count("__hit") / 5.0).alias("recall_at_5"),
    )


_EMB_DUP_SQL = """
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 10 = 0
"""

_COSINE_DEDUP_ORACLE = f"""
WITH base AS ({_EMB_DUP_SQL}),
vecs AS (SELECT vec_id, {_QUANT_SQL} AS v FROM base),
normed AS (
    SELECT vec_id, v, list_dot_product(v, v) AS n2,
           CAST({_planes_sql(sim.hyperplanes(6, 64))} AS BIGINT) AS bucket
    FROM vecs
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_dot_product(a.v, b.v)
           / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cosine
FROM normed a JOIN normed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
          / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) >= 0.999
"""


@query("dedup_embedding_cosine", _COSINE_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: LSH bucket join (never
    all-pairs) + exact integer-quantized re-scoring; pairs at
    cosine >= 0.999 (injected duplicates guarantee hits)."""
    emb = emb_valid(spark, sf_dir)
    dups = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    base = emb.select("vec_id", "embedding").unionByName(dups)
    vecs = base.select(
        "vec_id",
        sim.quantize(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("qvec"),
    )
    planes = sim.hyperplanes(6, 64)
    normed = vecs.select(
        "vec_id",
        F.col("qvec"),
        sim._norm2(F.col("qvec")).alias("n2"),
        sim.lsh_bucket(F.col("qvec"), planes).alias("bucket"),
    )
    a = normed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("qvec").alias("va"),
        F.col("n2").alias("na"),
        "bucket",
    )
    b = normed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("qvec").alias("vb"),
        F.col("n2").alias("nb"),
        "bucket",
    )
    pairs = a.join(b, "bucket").where(F.col("vec_a") < F.col("vec_b"))
    cosine = sim._dot(F.col("va"), F.col("vb")) / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    return (
        pairs.select("vec_a", "vec_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= 0.999)
    )


# ------------------------------------------------------------------
# Multimodal plumbing
# ------------------------------------------------------------------

_MM_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL})
SELECT doc_id,
       'image' AS media_type,
       'utf8' AS format,
       octet_length(encode(text)) AS byte_len,
       md5(text) AS checksum
FROM corpus
"""


@query("multimodal_metadata", _MM_ORACLE)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column plumbing: text packed as an opaque payload,
    typed metadata struct computed from the bytes (the decode step
    itself is stubbed — see dataops.multimodal.decode_media)."""
    c = corpus(spark, sf_dir)
    payload = mm.pack_text_as_media(F.col("text"))
    meta = mm.media_metadata(payload, "image", "utf8")
    return c.select(
        "doc_id",
        meta.getField("media_type").alias("media_type"),
        meta.getField("format").alias("format"),
        meta.getField("byte_len").alias("byte_len"),
        meta.getField("checksum").alias("checksum"),
    )


# ====================================================================
# Canonical-doc selection per near-dup cluster (keep-best curation)
# ====================================================================

_CANONICAL_ORACLE = f"""
WITH RECURSIVE {_SIGNATURE_CTE},
banded AS (
    SELECT doc_id, 0 AS band,
           CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) || '_' ||
           CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS band_key
    FROM signatures
    UNION ALL
    SELECT doc_id, 1 AS band,
           CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) || '_' ||
           CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) AS band_key
    FROM signatures
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
bidir(a, b) AS (
    SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM bidir
    UNION
    SELECT r.a, e.b FROM reach r JOIN bidir e ON e.a = r.b
),
comp AS (
    SELECT c.doc_id,
           least(c.doc_id, coalesce(min(r.b), c.doc_id)) AS component
    FROM corpus c LEFT JOIN reach r ON r.a = c.doc_id
    GROUP BY c.doc_id
),
quality AS (
    SELECT doc_id, CAST(length({_NORM_SQL}) AS BIGINT) AS q FROM corpus
),
ranked AS (
    SELECT comp.component, comp.doc_id, quality.q,
           row_number() OVER (PARTITION BY comp.component
                              ORDER BY quality.q DESC, comp.doc_id) AS rn
    FROM comp JOIN quality USING (doc_id)
),
stats AS (
    SELECT component, CAST(count(*) AS BIGINT) AS n_docs
    FROM comp GROUP BY component
)
SELECT r.component, r.doc_id AS kept_id, r.q AS kept_quality, s.n_docs
FROM ranked r JOIN stats s USING (component)
WHERE r.rn = 1 AND s.n_docs > 1
"""


@query("dedup_canonical_selection", _CANONICAL_ORACLE)
def dedup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best curation: near-dup clusters (LSH candidates →
    connected components) reduced to ONE kept document each — highest
    normalized-text length, id tiebreak — plus the cluster size.  The
    decision step that turns clustering output into an actual training
    corpus; both post-clustering shuffles key on the component label,
    bounded by cluster count."""
    c = corpus(spark, sf_dir)
    sh = dd.exploded_shingles(c)
    sig = dd.minhash_signatures(sh)
    pairs = dd.lsh_candidate_pairs(sig, bands=2, rows=4, max_bucket_size=None)
    comps = dd.connected_components(c.select("doc_id"), pairs)
    quality = c.select(
        "doc_id", F.length(tx.normalize_text(F.col("text"))).alias("q")
    )
    return dd.canonical_per_component(comps, quality)


# ====================================================================
# Sliding-window duplicated spans (ExactSubstr dedup, Lee et al. 2022)
# ====================================================================

#: Window width for duplicate-span detection: long enough that random
#: token runs never collide at corpus scale, short enough that the
#: injected +1M mirror docs and in-corpus boilerplate both trip it.
_SPAN_K = 8

_SPANS_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
w AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM corpus
),
wins AS (
    SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
           {md5_int60_sql(
               f"array_to_string(toks[u.i:u.i + {_SPAN_K - 1}], ' ')"
           )} AS h
    FROM (SELECT doc_id, toks FROM w WHERE len(toks) >= {_SPAN_K}),
         UNNEST(generate_series(1, len(toks) - {_SPAN_K - 1})) AS u(i)
),
freq AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM wins JOIN freq USING (h)),
brk AS (
    SELECT doc_id, pos,
           CASE WHEN pos > COALESCE(max(pos + {_SPAN_K - 1}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), -1) + 1
                THEN 1 ELSE 0 END AS b
    FROM dup
),
grp AS (
    SELECT doc_id, pos,
           SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM brk
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_SPAN_K - 1} AS BIGINT) AS span_end,
       CAST(max(pos) + {_SPAN_K - 1} - min(pos) + 1 AS BIGINT)
           AS span_tokens
FROM grp GROUP BY doc_id, g
"""


@query("dedup_duplicate_spans", _SPANS_ORACLE)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window exact substring dedup (ExactSubstr, Lee et al.
    2022): every 8-token window repeated anywhere in the corpus — at
    ANY offset, self-repeats included — marks its range, and marked
    ranges merge per doc into maximal duplicated spans.  Catches the
    unaligned repeats that strided chunk dedup and whole/near-doc
    dedup both miss.  Window slots shuffle as 60-bit
    hashes; the per-doc merge is one gaps-and-islands window — no pair
    join anywhere (dataops/dedup.py:duplicate_spans)."""
    return dd.duplicate_spans(corpus(spark, sf_dir), k=_SPAN_K)


# ====================================================================
# Per-label embedding centroids (exact integer-scaled dimension sums)
# ====================================================================

_CENTROID_ORACLE = f"""
WITH vecs AS (
    SELECT label, {_QUANT_SQL} AS v FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label, CAST(u.i AS BIGINT) AS dim,
       CAST(sum(v[u.i]) AS BIGINT) AS sum_milli,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM vecs, UNNEST(generate_series(1, len(v))) AS u(i)
GROUP BY label, u.i
"""


@query("embeddings_label_centroids", _CENTROID_ORACLE)
def embeddings_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulators: element-wise sums of the
    milli-quantized embeddings plus member counts — the exact-integer
    form of a cluster-centroid update (mean = sum/n is left to the
    consumer; a float mean would hash differently between engines).
    posexplode spreads (label, dim) over the cluster — a |labels|×|dims|
    aggregate, partial-combined map-side, never a per-vector shuffle
    of full arrays."""
    emb = emb_valid(spark, sf_dir)
    q = sim.quantize(
        F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return (
        emb.select(F.col("label").cast("long").alias("label"), q.alias("v"))
        .select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.sum("x").cast("long").alias("sum_milli"),
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
        )
    )


# ====================================================================
# Centroid-distance outlier pruning (embedding quality filter)
# ====================================================================

_OUTLIER_ORACLE = f"""
WITH vecs AS (
    SELECT vec_id, CAST(label AS BIGINT) AS label, {_QUANT_SQL} AS v
    FROM embeddings
),
stats AS (
    SELECT label, u.i AS dim, CAST(sum(v[u.i]) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM vecs, UNNEST(generate_series(1, len(v))) AS u(i)
    GROUP BY label, u.i
),
cent AS (SELECT label, dim, CAST(s // n AS BIGINT) AS c, n FROM stats),
d AS (
    SELECT v.vec_id, v.label,
           CAST(sum((v.v[c.dim] - c.c) * (v.v[c.dim] - c.c)) AS BIGINT)
               AS d2,
           CAST(any_value(c.n) AS BIGINT) AS n_members
    FROM vecs v JOIN cent c ON v.label = c.label
    GROUP BY v.vec_id, v.label
),
lab AS (
    SELECT label, CAST(sum(d2) AS BIGINT) AS label_d2_sum
    FROM d GROUP BY label
)
SELECT vec_id, label, d2, n_members, label_d2_sum,
       (d2 * n_members > 2 * label_d2_sum) AS is_outlier
FROM d JOIN lab USING (label)
"""


@query("embeddings_outlier_prune", _OUTLIER_ORACLE)
def embeddings_outlier_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-conditioned embedding outlier pruning: integer-exact
    squared distance of every vector to its label's truncating-mean
    centroid, flagged when it exceeds 2× the label average (compared
    as cross-multiplied integers — no division).  Centroids and
    per-label sums broadcast; the distance pass is map-only — see
    dataops.similarity.centroid_outlier_verdicts."""
    vecs = emb_valid(spark, sf_dir).select(
        "vec_id",
        "label",
        sim.quantize(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("qvec"),
    )
    return sim.centroid_outlier_verdicts(vecs)


# ====================================================================
# Multimodal decode plumbing on the oracle board (deterministic fake)
# ====================================================================
# The codec-free fake decoders are byte-deterministic, so the full
# Arrow/mapInPandas plumbing — batching, schema, fan-out shape — lands
# on the value hash; comparisons ride hex strings (DuckDB has no blob
# substring/md5).

_FRAMES_ORACLE = """
WITH p AS (
    SELECT doc_id, hex(encode(text)) AS h FROM documents
),
-- zipped unnest (positions + complete 32-hex-char frames), not a
-- lateral that copies the full hex string per frame row — that form
-- is quadratic in payload size (r10 hostile corpus; '.' is safe here:
-- hex text has no newlines for RE2's '.' to miss)
f AS (
    SELECT doc_id,
           unnest(generate_series(0, length(h) // 32 - 1)) AS frame_no,
           unnest(regexp_extract_all(h, '.{32}')) AS frame_hex
    FROM p
)
SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no, frame_hex
FROM f WHERE frame_no % 4 = 0
"""


@query("multimodal_frame_sample", _FRAMES_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (dataops.multimodal.sample_frames):
    payloads stream through Arrow-batched mapInPandas and fan out one
    row per sampled 16-byte frame (every 4th) — the real partitioning
    and explode contract of a demuxer stage, with the deterministic
    fake standing in for pyav/ffmpeg (not in this runtime).  Frames are
    hex-encoded so the byte slicing itself is on the hash."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", mm.pack_text_as_media(F.col("text")).alias("payload")
    )
    frames = mm.sample_frames(docs, frame_bytes=16, every=4, fake=True)
    return frames.select(
        "doc_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.hex("frame").alias("frame_hex"),
    )


_RESIZE_ORACLE = """
WITH p AS (
    SELECT doc_id, hex(encode(text)) AS h FROM documents
)
SELECT doc_id,
       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
       -- COALESCE: a NULL payload tiles to the empty buffer (b"" on
       -- the Spark side), not NULL pixels
       substring(repeat(COALESCE(h, ''),
                        64 // greatest(length(COALESCE(h, '')) // 2, 1) + 1),
                 1, 128) AS pixels_hex
FROM p
"""


@query("multimodal_resize_tiles", _RESIZE_ORACLE)
def multimodal_resize_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (dataops.multimodal.resize_images): every
    payload maps to a fixed 8x8 buffer via the deterministic
    truncate/repeat fake — the SQL-expressible mode; the real decode
    path is pinned by multimodal_png_roundtrip — fixed-dimension output
    contract and Arrow batch shape on the hash, hex-compared."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", mm.pack_text_as_media(F.col("text")).alias("payload")
    )
    resized = mm.resize_images(docs, width=8, height=8, fake=True)
    return resized.select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.hex("pixels").alias("pixels_hex"),
    )


_DECODE_ORACLE = """
WITH p AS (
    SELECT doc_id, hex(encode(text)) AS h FROM documents
),
nibs AS (
    -- high nibble of each byte pair via one linear regexp split (the
    -- lateral substring form copies h per byte row — quadratic, r10)
    SELECT doc_id,
           strpos('0123456789ABCDEF',
                  substring(unnest(regexp_extract_all(h, '..')), 1, 1)) - 1
               AS bin
    FROM p
),
counts AS (
    SELECT doc_id, bin, count(*) AS c FROM nibs GROUP BY doc_id, bin
),
grid AS (
    SELECT d.doc_id, u.bin
    FROM (SELECT DISTINCT doc_id FROM p) d,
         UNNEST(generate_series(0, 15)) AS u(bin)
)
SELECT g.doc_id, CAST(g.bin AS BIGINT) AS bin,
       CAST(COALESCE(c.c, 0) AS BIGINT) AS n
FROM grid g LEFT JOIN counts c USING (doc_id, bin)
"""


@query("multimodal_decode_features", _DECODE_ORACLE)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing (dataops.multimodal.decode_media):
    each payload decodes to a 16-bin high-nibble byte histogram — the
    deterministic fake in place of a real image featurizer — and the
    array output posexplodes to (doc_id, bin, count) rows with zeros
    intact, pinning the whole Arrow round-trip."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", mm.pack_text_as_media(F.col("text")).alias("payload")
    )
    feats = mm.decode_media(docs, fake=True)
    return feats.select(
        "doc_id", F.posexplode("feature").alias("bin", "n")
    ).select(
        "doc_id",
        F.col("bin").cast("long").alias("bin"),
        F.col("n").cast("long").alias("n"),
    )


_PNG_ROUNDTRIP_ORACLE = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
px AS (
    SELECT d.doc_id, (d.doc_id * 31 + u.i * 7) % 256 AS v
    FROM d, UNNEST(generate_series(0, 255)) AS u(i)
),
counts AS (
    SELECT doc_id, v // 16 AS bin, count(*) AS c
    FROM px GROUP BY doc_id, bin
),
grid AS (
    SELECT d.doc_id, u.bin FROM d, UNNEST(generate_series(0, 15)) AS u(bin)
)
SELECT g.doc_id, CAST(g.bin AS BIGINT) AS bin,
       CAST(COALESCE(c.c, 0) AS BIGINT) AS n
FROM grid g LEFT JOIN counts c USING (doc_id, bin)
"""


@query("multimodal_png_roundtrip", _PNG_ROUNDTRIP_ORACLE)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec end-to-end: per document, a deterministic
    16x16 grayscale image (pixel i = (doc_id*31 + i*7) % 256) is
    encoded to an actual PNG (dataops/png.py, scanline filter cycling
    through all five types) and decoded back through the real
    multimodal path (decode_image_gray — Pillow if installed, else the
    vendored codec), inside Arrow-batched mapInPandas.  The luminance
    histogram of the DECODED pixels is compared against DuckDB
    computing the same histogram analytically from the pixel formula —
    so any filter-reconstruction, zlib, or layout bug in the codec
    breaks the hash.  Real work stays JVM-free only in this Python
    stage; the group/compare stays in SQL."""
    from collections.abc import Iterator

    import pandas as pd

    from ..dataops import png as pngc

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bins, ns = [], [], []
            for doc_id in pdf["doc_id"]:
                i64 = int(doc_id)
                pixels = bytes(
                    (i64 * 31 + i * 7) % 256 for i in range(256)
                )
                encoded = pngc.encode_png(16, 16, 1, pixels)
                w, h, gray = mm.decode_image_gray(encoded)
                if (w, h) != (16, 16):
                    raise ValueError(f"bad decode dims {w}x{h}")
                hist = [0] * 16
                for b in gray:
                    hist[b >> 4] += 1
                for bin_no, n in enumerate(hist):
                    ids.append(i64)
                    bins.append(bin_no)
                    ns.append(n)
            yield pd.DataFrame({"doc_id": ids, "bin": bins, "n": ns})

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )
    return docs.mapInPandas(
        run, "doc_id long, bin long, n long"
    )


_APNG_FRAMES_ORACLE = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 6),
f AS (SELECT d.doc_id, u.fno FROM d, UNNEST([0, 4]) AS u(fno)),
px AS (
    SELECT f.doc_id, f.fno,
           (f.doc_id * 17 + f.fno * 31 + u.i * 7) % 256 AS v
    FROM f, UNNEST(generate_series(0, 63)) AS u(i)
)
SELECT doc_id, CAST(fno AS INTEGER) AS frame_no,
       CAST(sum(v) AS BIGINT) AS frame_sum,
       CAST(count(*) AS BIGINT) AS n_px
FROM px GROUP BY doc_id, fno
"""


@query("multimodal_apng_frame_sample", _APNG_FRAMES_ORACLE)
def multimodal_apng_frame_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL video-style frame sampling end-to-end: per document a
    6-frame 8x8 APNG animation (frame f pixel i = (doc_id*17 + f*31 +
    i*7) % 256) is encoded by the vendored codec and every 4th frame
    extracted through the production path (sample_frames fake=False →
    png.decode_apng_frames); the decoded pixel sums are compared
    against DuckDB computing them analytically from the pixel formula
    — any fcTL/fdAT sequencing, zlib, or filter bug breaks the hash."""
    from collections.abc import Iterator

    import pandas as pd

    from ..dataops import multimodal as mmod
    from ..dataops import png as pngc

    # Coverage note (ADVICE r11): this query is GENERATION-FUSED —
    # payload bytes are born and consumed inside one Python crossing,
    # so it no longer benchmarks the binary-payload DataFrame-operator
    # path.  That path stays benchmarked in-suite by
    # multimodal_frame_sample / multimodal_resize_tiles (real payload
    # columns shipped through sample_frames / resize_images) and is
    # unit-tested per codec in tests/.
    # r11 (guide §4): encode → sample_frames → JVM hex-split byte sum
    # used to be two Python crossings plus a JVM pass re-summing the
    # frame bytes through a hex/conv expression chain.  The payloads
    # are born in Python — one mapInPandas now encodes, samples via
    # the operator's extracted decode path
    # (multimodal.iter_sampled_frames) and sums the decoded bytes
    # directly; only doc_id enters the crossing.
    def gen_and_sample(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, sums, npx = [], [], [], []
            for doc_id in pdf["doc_id"]:
                i64 = int(doc_id)
                frames = [
                    bytes(
                        (i64 * 17 + f * 31 + i * 7) % 256
                        for i in range(64)
                    )
                    for f in range(6)
                ]
                payload = pngc.encode_apng(8, 8, 1, frames)
                for fno, frame in mmod.iter_sampled_frames(
                    payload, every=4, fake=False
                ):
                    ids.append(i64)
                    nos.append(fno)
                    sums.append(sum(bytes(frame)))
                    npx.append(len(bytes(frame)))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_no": pd.array(nos, dtype="int32"),
                    "frame_sum": sums,
                    "n_px": npx,
                }
            )

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 20 == 6)
        .select("doc_id")
    )
    return docs.mapInPandas(
        gen_and_sample,
        "doc_id long, frame_no int, frame_sum long, n_px long",
    )


# ====================================================================
# Corrupt-media decode verdicts: the per-cell failure taxonomy of the
# vendored codecs, certified Spark-side against an oracle (the batch
# twin of tests/test_codec_hostile.py — a 100 TB media corpus WILL
# contain truncated/mislabeled blobs, and a pipeline that wedges or
# silently part-decodes on them loses the batch)
# ====================================================================

_CORRUPT_DECODE_ORACLE = """
SELECT doc_id,
       CASE doc_id % 6
           WHEN 0 THEN 'ok'
           WHEN 4 THEN 'unsupported'
           ELSE 'corrupt'
       END AS verdict,
       CASE WHEN doc_id % 6 = 0 THEN CAST(8 AS BIGINT) END AS width,
       CASE WHEN doc_id % 6 = 0 THEN CAST(8 AS BIGINT) END AS height
FROM documents
"""


@query("multimodal_corrupt_decode_verdicts", _CORRUPT_DECODE_ORACLE)
def multimodal_corrupt_decode_verdicts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hostile-media certification as a REGISTERED query: per document
    a PNG blob is synthesized in one of six deterministic corruption
    classes (valid / truncated / wrong magic / zero-length / valid-
    but-interlaced / forged 30000² dimensions) and pushed through the
    production decode path inside Arrow-batched mapInPandas.  The
    decode's documented contract — ValueError for corrupt bytes,
    NotImplementedError for unsupported-but-valid profiles, clean
    (width, height) otherwise — becomes a per-row verdict the DuckDB
    oracle predicts from doc_id alone.  Any contract drift (a leaked
    IndexError kills the task; a silent partial decode flips a verdict
    to 'ok') breaks the hash.  Scale shape: map-only, no shuffle, no
    driver state; corrupt cells cost one exception, never a task."""
    from collections.abc import Iterator

    import pandas as pd

    from ..dataops import png as pngc

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        interlaced = (
            pngc.PNG_MAGIC
            + pngc._chunk(
                b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 1)
            )
            + pngc._chunk(b"IDAT", zlib.compress(bytes(72)))
            + pngc._chunk(b"IEND", b"")
        )
        forged_dims = (
            pngc.PNG_MAGIC
            + pngc._chunk(
                b"IHDR",
                struct.pack(">IIBBBBB", 30000, 30000, 8, 0, 0, 0, 0),
            )
            + pngc._chunk(b"IDAT", zlib.compress(bytes(72)))
            + pngc._chunk(b"IEND", b"")
        )
        for pdf in batches:
            ids, verdicts, ws, hs = [], [], [], []
            for doc_id in pdf["doc_id"]:
                i64 = int(doc_id)
                pixels = bytes(
                    (i64 * 31 + p * 7) % 256 for p in range(64)
                )
                valid = pngc.encode_png(8, 8, 1, pixels)
                blob = {
                    0: valid,
                    1: valid[: len(valid) * 3 // 5],  # truncated
                    2: b"XX" + valid[2:],             # wrong magic
                    3: b"",                           # zero-length
                    4: interlaced,                    # unsupported
                    5: forged_dims,                   # corrupt header
                }[i64 % 6]
                try:
                    w, h, _ch, _px = pngc.decode_png(blob)
                    verdicts.append("ok")
                    ws.append(w)
                    hs.append(h)
                except NotImplementedError:
                    verdicts.append("unsupported")
                    ws.append(None)
                    hs.append(None)
                except ValueError:
                    verdicts.append("corrupt")
                    ws.append(None)
                    hs.append(None)
                ids.append(i64)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "verdict": verdicts,
                    "width": pd.array(ws, dtype="Int64"),
                    "height": pd.array(hs, dtype="Int64"),
                }
            )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        run, "doc_id long, verdict string, width long, height long"
    )


# ====================================================================
# Curation pipeline v4: the round-7 operators composed
# (DSIR gate x near-dup canonical rule x embedding outlier prune,
#  with the leakage-safe split riding the same component labels)
# ====================================================================

#: DSIR acceptance threshold in milli-bits: sits between the English
#: slice's mean (~ -112 at sf0.01) and every other language's (~ -230),
#: so the gate selects target-like docs without being vacuous.
_V4_DSIR_MIN = -150

#: Sentinel for docs with no bigram features (absent from the DSIR
#: output): far below any real score, so they fail the gate on both
#: engines identically.
_V4_DSIR_NONE = -1_000_000

_V4_ORACLE = f"""
WITH comp AS (
    SELECT * FROM ({_COMPONENTS_ORACLE}) t
),
dsir AS (
    SELECT * FROM (
        WITH c2 AS ({_CORPUS_SQL}),
        w AS (
            SELECT doc_id, lang, string_split({_NORM_SQL}, ' ') AS toks
            FROM c2
        ),
        grams AS (
            SELECT doc_id, (lang = 'en') AS is_target,
                   CAST(('0x' || substr(md5(
                        unnest(list_slice(toks, 1, len(toks) - 1)) || ' ' ||
                        unnest(list_slice(toks, 2, len(toks)))),
                                        1, 15)) AS BIGINT) % 4096 AS bucket
            FROM (SELECT doc_id, lang, toks FROM w WHERE len(toks) >= 2)
        ),
        raw AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS cr
            FROM grams GROUP BY bucket
        ),
        tgt AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS ct
            FROM grams WHERE is_target GROUP BY bucket
        ),
        model AS (
            SELECT bucket, cr, CAST(COALESCE(ct, 0) AS BIGINT) AS ct
            FROM raw LEFT JOIN tgt USING (bucket)
        ),
        tot AS (
            SELECT CAST(sum(cr) AS BIGINT) AS tr,
                   CAST(sum(ct) AS BIGINT) AS tt
            FROM model
        ),
        scored AS (
            SELECT doc_id,
                   CAST((floor(log2(tr + 4096)) - floor(log2(cr + 1)))
                      - (floor(log2(tt + 4096)) - floor(log2(ct + 1)))
                        AS BIGINT) AS bits
            FROM grams JOIN model USING (bucket) CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(sum(bits) * 1000 // count(*) AS BIGINT)
                   AS avg_bits_milli
        FROM scored GROUP BY doc_id
    ) t
),
outv AS (
    SELECT * FROM (
        WITH ve AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   {_QUANT_SQL} AS v
            FROM (
                SELECT vec_id, embedding, label FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000, embedding, label
                FROM embeddings WHERE vec_id % 5 = 0
            )
        ),
        stats AS (
            SELECT label, u.i AS dim, CAST(sum(v[u.i]) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n
            FROM ve, UNNEST(generate_series(1, len(v))) AS u(i)
            GROUP BY label, u.i
        ),
        cent AS (
            SELECT label, dim, CAST(s // n AS BIGINT) AS c FROM stats
        ),
        d AS (
            SELECT ve.vec_id, ve.label,
                   CAST(sum((ve.v[c.dim] - c.c) * (ve.v[c.dim] - c.c))
                        AS BIGINT) AS d2,
                   CAST(count(*) AS BIGINT) AS ndims
            FROM ve JOIN cent c ON ve.label = c.label
            GROUP BY ve.vec_id, ve.label
        ),
        lab AS (
            SELECT label, CAST(sum(d2) AS BIGINT) AS label_d2_sum,
                   CAST(count(*) AS BIGINT) AS n_members
            FROM d GROUP BY label
        )
        SELECT vec_id AS doc_id,
               (d2 * n_members > 2 * label_d2_sum) AS is_outlier
        FROM d JOIN lab USING (label)
    ) t
)
SELECT comp.doc_id,
       comp.component,
       CASE WHEN CAST(('0x' || substr(md5(CAST(comp.component AS VARCHAR)),
                                      1, 15)) AS BIGINT) % 10 < 8
            THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(comp.component AS VARCHAR)),
                                      1, 15)) AS BIGINT) % 10 = 8
            THEN 'val' ELSE 'test' END AS split,
       CAST(COALESCE(dsir.avg_bits_milli, {_V4_DSIR_NONE}) AS BIGINT)
           AS dsir_avg_milli,
       COALESCE(dsir.avg_bits_milli, {_V4_DSIR_NONE}) > {_V4_DSIR_MIN}
           AS dsir_ok,
       (comp.component <> comp.doc_id) AS is_dup,
       outv.is_outlier,
       (COALESCE(dsir.avg_bits_milli, {_V4_DSIR_NONE}) > {_V4_DSIR_MIN}
        AND comp.component = comp.doc_id
        AND NOT outv.is_outlier) AS keep
FROM comp
LEFT JOIN dsir ON dsir.doc_id = comp.doc_id
JOIN outv ON outv.doc_id = comp.doc_id
"""


@query("curation_pipeline_v4", _V4_ORACLE)
def curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v4 — the round-7 operators composed into the
    modern selection recipe (SemDeDup-era): a DSIR target-likeness
    gate on the text, the near-dup canonical rule (LSH components,
    keep-lowest-id), an embedding-space centroid-outlier prune, and
    the leakage-safe split riding the SAME component labels so kept
    near-dup families never straddle train/val.  One verdict ledger
    row per corpus doc; every signal integer-exact and every stage the
    library operator unchanged.  Scale: DSIR models broadcast
    (bounded 4096 buckets), components bound label propagation, the
    outlier pass is map-only after a broadcast — nothing quadratic,
    nothing driver-side."""
    from ..dataops import curate as cu
    from ..functions import caching
    from ..functions.hashing import md5_int60

    # Three consumers embed the corpus plan (DSIR gram explode, shingle
    # explode, component vertices) — truncate it once so Catalyst
    # doesn't re-optimize the union per branch (the v2 lesson).
    c = corpus(spark, sf_dir).localCheckpoint(eager=True)
    caching.track(c)
    dsir = cu.dsir_weights(c, F.col("lang") == "en").select(
        "doc_id", "avg_bits_milli"
    )
    sh = dd.exploded_shingles(c)
    sig = dd.minhash_signatures(sh)
    pairs = dd.lsh_candidate_pairs(sig, bands=2, rows=4, max_bucket_size=None)
    comps = dd.connected_components(c.select("doc_id"), pairs)

    # quantize ONCE on the base table and derive the planted copies
    # from the already-quantized rows: quantize(embedding) is
    # deterministic per row, so the union of (base, plant) quantized
    # equals quantizing the union — but pays one validity-filter +
    # quantize pass over the parquet scan instead of two.
    ebase = emb_valid(spark, sf_dir).select(
        "vec_id",
        "label",
        sim.quantize(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("qvec"),
    )
    plant = ebase.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "label", "qvec"
    )
    evecs = ebase.unionByName(plant)
    outv = sim.centroid_outlier_verdicts(evecs).select(
        F.col("vec_id").alias("doc_id"), "is_outlier"
    )

    h = md5_int60(F.col("component").cast("string")) % 10
    avg = F.coalesce(
        F.col("avg_bits_milli"), F.lit(_V4_DSIR_NONE)
    ).cast("long")
    dsir_ok = avg > _V4_DSIR_MIN
    is_dup = F.col("component") != F.col("doc_id")
    return (
        comps.join(dsir, "doc_id", "left")
        .join(outv, "doc_id")
        .select(
            "doc_id",
            "component",
            F.when(h < 8, "train").when(h == 8, "val").otherwise("test")
            .alias("split"),
            avg.alias("dsir_avg_milli"),
            dsir_ok.alias("dsir_ok"),
            is_dup.alias("is_dup"),
            "is_outlier",
            (dsir_ok & ~is_dup & ~F.col("is_outlier")).alias("keep"),
        )
    )


# ====================================================================
# Image near-dup detection: real codec -> dHash -> banded Hamming
# ====================================================================

_DHASH_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id // 50 AS g FROM documents WHERE doc_id % 10 = 0
),
px AS (
    SELECT doc_id, u.i AS i,
           CASE WHEN doc_id % 100 = 10 AND u.i = doc_id % 288
                THEN ((g * 31 + u.i * 7) % 256 + 64) % 256
                ELSE (g * 31 + u.i * 7) % 256 END AS v
    FROM d, UNNEST(generate_series(0, 287)) AS u(i)
),
m AS (
    SELECT doc_id, (i // 18) // 2 AS r, (i % 18) // 2 AS c,
           CAST(sum(v) // 4 AS BIGINT) AS m
    FROM px GROUP BY doc_id, (i // 18) // 2, (i % 18) // 2
),
b AS (
    SELECT doc_id, r, c,
           CASE WHEN m > lead(m) OVER (PARTITION BY doc_id, r ORDER BY c)
                THEN 1 ELSE 0 END AS bit
    FROM m
),
bits AS (SELECT doc_id, r * 8 + c AS k, bit FROM b WHERE c < 8),
words AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN k < 63
                         THEN CAST(bit AS HUGEINT)
                              * (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
                         WHEN bit = 1
                         THEN CAST(-9223372036854775808 AS HUGEINT)
                         ELSE 0 END) AS BIGINT) AS word
    FROM bits GROUP BY doc_id
),
bands AS (
    SELECT doc_id, CAST(k // 16 AS BIGINT) AS band_idx,
           CAST(sum(bit * (CAST(1 AS BIGINT)
                           << CAST(k % 16 AS INTEGER))) AS BIGINT)
               AS band_val
    FROM bits GROUP BY doc_id, k // 16
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM bands a JOIN bands b2
      ON a.band_idx = b2.band_idx AND a.band_val = b2.band_val
         AND a.doc_id < b2.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(wa.word, wb.word)) AS BIGINT) AS hamming
FROM cand c
JOIN words wa ON wa.doc_id = c.doc_a
JOIN words wb ON wb.doc_id = c.doc_b
WHERE bit_count(xor(wa.word, wb.word)) <= 6
"""


@query("multimodal_image_dhash_neardup", _DHASH_ORACLE)
def multimodal_image_dhash_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IMAGE near-dup detection through the REAL codec path: per
    selected doc a deterministic 18x16 grayscale image (identical
    within each doc_id//50 group; some members get a one-pixel bump)
    is encoded to an actual PNG and decoded back (dataops/png.py),
    then dHash'd — 2x2 area-mean downsample to 9x8, 64 column-gradient
    bits packed into ONE int64 (dataops.multimodal.dhash64) — inside
    Arrow-batched mapInPandas.  Candidates come from 16-bit band
    blocking on the hash (the LSH-for-Hamming shape: near-dup words
    agree on >=1 of 4 bands), verified with bit_count(XOR) <= 6 —
    never all-pairs, and everything after the decode is JVM-side.
    The oracle recomputes pixels analytically from the formula, so any
    codec, downsample, or packing bug breaks the hash.  At 100 TB:
    decode+hash is the map-only expensive pass (run once, store the
    8-byte hash); blocking joins bound candidate generation exactly
    like text LSH."""
    from collections.abc import Iterator

    import pandas as pd

    from ..dataops import png as pngc

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, words, bidx, bval = [], [], [], []
            for doc_id in pdf["doc_id"]:
                i64 = int(doc_id)
                g = i64 // 50
                pixels = bytearray(
                    (g * 31 + i * 7) % 256 for i in range(288)
                )
                if i64 % 100 == 10:
                    j0 = i64 % 288
                    pixels[j0] = (pixels[j0] + 64) % 256
                enc = pngc.encode_png(18, 16, 1, bytes(pixels))
                w, h, gray = mm.decode_image_gray(enc)
                word, bands = mm.dhash64(w, h, gray)
                for j, bv in enumerate(bands):
                    ids.append(i64)
                    words.append(word)
                    bidx.append(j)
                    bval.append(bv)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "word": words,
                    "band_idx": bidx,
                    "band_val": bval,
                }
            )

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )
    feats = docs.mapInPandas(
        run, "doc_id long, word long, band_idx long, band_val long"
    )
    left = feats.select(
        F.col("doc_id").alias("doc_a"),
        F.col("word").alias("wa"),
        "band_idx",
        "band_val",
    )
    right = feats.select(
        F.col("doc_id").alias("doc_b"),
        F.col("word").alias("wb"),
        "band_idx",
        "band_val",
    )
    cand = (
        left.join(right, ["band_idx", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "wa", "wb")
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("wa").bitwiseXOR(F.col("wb")))
        .cast("long")
        .alias("hamming"),
    ).where(F.col("hamming") <= 6)


# ====================================================================
# Recall@5 for the binary-Hamming two-stage path
# ====================================================================

_HAMMING_RECALL_ORACLE = f"""
WITH vecs AS (
    SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings
),
enc AS (
    SELECT vec_id, v, list_dot_product(v, v) AS n2, {_PACK_SQL} AS w
    FROM vecs
),
queries AS (SELECT * FROM enc WHERE vec_id % 100 = 0),
exact_ranked AS (
    SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.v, c.v)
                            / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE))
                            DESC, c.vec_id) AS rank
        FROM queries q JOIN enc c ON c.vec_id <> q.vec_id
    ) WHERE rank <= 5
),
coarse AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(bit_count(xor(q.w, c.w)) AS BIGINT) AS hamming,
           list_dot_product(q.v, c.v)
               / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
    FROM queries q JOIN enc c ON c.vec_id <> q.vec_id
),
s1 AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY hamming, cand_id) AS rk1
    FROM coarse
),
ham_ranked AS (
    SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, cand_id) AS rank
        FROM s1 WHERE rk1 <= 32
    ) WHERE rank <= 5
)
SELECT e.query_id,
       CAST(count(h.cand_id) AS BIGINT) AS n_hits,
       count(h.cand_id) / 5.0 AS recall_at_5
FROM exact_ranked e
LEFT JOIN ham_ranked h
  ON h.query_id = e.query_id AND h.cand_id = e.cand_id
GROUP BY e.query_id
"""


@query("ann_hamming_recall_at_5", _HAMMING_RECALL_ORACLE)
def ann_hamming_recall_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metric for the binary-quantization path: per-query
    recall@5 of the two-stage Hamming search (32-candidate coarse
    stage + exact rescore) against the exact brute force — the
    justify-the-approximation measurement, same contract as
    ann_recall_at_5 for LSH.  8 bytes per candidate through stage 1;
    recall loss only where true neighbours fall outside the coarse
    Hamming horizon."""
    vecs = _quantized(spark, sf_dir).localCheckpoint(eager=True)
    queries = vecs.where(F.col("vec_id") % 100 == 0)
    exact = sim.cosine_topk(vecs, queries, k=5).select("query_id", "cand_id")
    approx = (
        sim.ann_hamming_topk(vecs, queries, k=5, m=32)
        .select("query_id", "cand_id")
        .withColumn("__hit", F.lit(1))
    )
    joined = exact.join(approx, ["query_id", "cand_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count("__hit").cast("long").alias("n_hits"),
        (F.count("__hit") / 5.0).alias("recall_at_5"),
    )


# ====================================================================
# Hard-negative mining (contrastive-training data op)
# ====================================================================

_HARDNEG_ORACLE = f"""
WITH vecs AS (
    SELECT vec_id, label, {_QUANT_SQL} AS v FROM embeddings
),
normed AS (
    SELECT vec_id, label, v, list_dot_product(v, v) AS n2 FROM vecs
),
queries AS (SELECT * FROM normed WHERE vec_id % 100 = 0),
scored AS (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           c.vec_id AS cand_id, c.label AS cand_label,
           list_dot_product(q.v, c.v)
               / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
    FROM queries q JOIN normed c
      ON c.vec_id <> q.vec_id AND c.label <> q.label
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rank
    FROM scored
)
SELECT query_id, query_label, cand_id, cand_label, cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


@query("ann_hard_negatives", _HARDNEG_ORACLE)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector (vec_id % 100 == 0, broadcast) the 5 nearest candidates with
    a DIFFERENT label — the near-miss negatives an embedding or
    reranker fine-tune wants next to its positives.  Same
    integer-quantized cosine and bandwidth shape as ann_cosine_topk;
    the label inequality rides the broadcast-join condition, so
    same-label candidates never leave the map side.  See
    dataops.similarity.hard_negative_topk."""
    emb = emb_valid(spark, sf_dir)
    vecs = emb.select(
        "vec_id",
        "label",
        sim.quantize(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("qvec"),
    )
    anchors = vecs.where(F.col("vec_id") % 100 == 0)
    return sim.hard_negative_topk(vecs, anchors, k=5)


# ====================================================================
# Reciprocal-rank fusion (hybrid retrieval combiner)
# ====================================================================

#: RRF smoothing constant (Cormack et al. 2009's k=60).
_RRF_K = 60

_RRF_ORACLE = f"""
WITH vecs AS (
    SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings
),
enc AS (
    SELECT vec_id, v, list_dot_product(v, v) AS n2, {_PACK_SQL} AS w
    FROM vecs
),
queries AS (SELECT * FROM enc WHERE vec_id % 100 = 0),
exact_ranked AS (
    SELECT query_id, cand_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.v, c.v)
                            / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE))
                            DESC, c.vec_id) AS rank
        FROM queries q JOIN enc c ON c.vec_id <> q.vec_id
    ) WHERE rank <= 10
),
coarse AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(bit_count(xor(q.w, c.w)) AS BIGINT) AS hamming,
           list_dot_product(q.v, c.v)
               / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
    FROM queries q JOIN enc c ON c.vec_id <> q.vec_id
),
s1 AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY hamming, cand_id) AS rk1
    FROM coarse
),
ham_ranked AS (
    SELECT query_id, cand_id, rank FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, cand_id) AS rank
        FROM s1 WHERE rk1 <= 32
    ) WHERE rank <= 10
),
fused AS (
    SELECT coalesce(e.query_id, h.query_id) AS query_id,
           coalesce(e.cand_id, h.cand_id) AS cand_id,
           coalesce(1000000 // ({_RRF_K} + e.rank), 0)
               + coalesce(1000000 // ({_RRF_K} + h.rank), 0) AS rrf_x1e6,
           CAST(e.rank IS NOT NULL AS BIGINT)
               + CAST(h.rank IS NOT NULL AS BIGINT) AS n_systems
    FROM exact_ranked e
    FULL OUTER JOIN ham_ranked h
      ON h.query_id = e.query_id AND h.cand_id = e.cand_id
)
SELECT query_id, cand_id, rrf_x1e6, n_systems,
       CAST(rk AS BIGINT) AS rk
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf_x1e6 DESC, cand_id) AS rk
    FROM fused
) WHERE rk <= 5
"""


@query("ann_rrf_fusion", _RRF_ORACLE)
def ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval systems (exact cosine
    and two-stage binary-Hamming, top-10 each): rrf = Σ 1/(60+rank),
    computed as integer ppm (1e6 div (60+rank)) so fused scores are
    bit-identical across engines.  RRF is the standard hybrid-search
    combiner (lexical+vector, or here cheap-vs-exact vector paths) —
    score-scale-free, so no per-system normalization stage is needed.
    Shape: both rankings reuse the broadcast-anchor + per-query window
    pattern; the fusion itself is a full outer join on two k×|queries|
    lists (tiny) + one more window."""
    vecs = _quantized(spark, sf_dir)
    queries = vecs.where(F.col("vec_id") % 100 == 0)
    a = sim.cosine_topk(vecs, queries, k=10).select(
        "query_id", "cand_id", F.col("rank").alias("rank_a")
    )
    b = sim.ann_hamming_topk(vecs, queries, k=10, m=32).select(
        "query_id", "cand_id", F.col("rank").alias("rank_b")
    )
    fused = a.join(b, ["query_id", "cand_id"], "full_outer").select(
        "query_id",
        "cand_id",
        (
            F.coalesce(
                F.expr(f"1000000L div ({_RRF_K} + rank_a)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000L div ({_RRF_K} + rank_b)"), F.lit(0)
            )
        ).cast("long").alias("rrf_x1e6"),
        (
            F.col("rank_a").isNotNull().cast("long")
            + F.col("rank_b").isNotNull().cast("long")
        ).alias("n_systems"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_x1e6"), F.asc("cand_id")
    )
    return (
        fused.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .select("query_id", "cand_id", "rrf_x1e6", "n_systems", "rk")
    )


# ====================================================================
# Distribution-matched sampling (length-uniform resample)
# ====================================================================

#: Null-hostile length bucket, clamped to [0, 9] (greatest BEFORE the
#: integer division — floor-vs-truncate divergence on negatives).
_LEN_BUCKET = (
    "CASE WHEN n_chars IS NULL THEN -1 "
    "ELSE least(greatest(n_chars, 0) {div} 100, 9) END"
)

_LEN_MATCH_ORACLE = f"""
WITH b AS (
    SELECT doc_id,
           CAST({_LEN_BUCKET.format(div='//')} AS BIGINT) AS bucket
    FROM documents
),
s AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_before
    FROM b GROUP BY bucket
),
t AS (
    SELECT CAST(sum(n_before) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM s
),
th AS (
    SELECT bucket, n_before,
           least(CAST(1000000 AS BIGINT),
                 (n_total * 1000000) // (n_buckets * n_before))
               AS threshold_ppm
    FROM s, t
),
samp AS (
    SELECT b.bucket, CAST(count(*) AS BIGINT) AS n_sampled
    FROM b JOIN th USING (bucket)
    WHERE {md5_int60_sql("'lm:' || CAST(doc_id AS VARCHAR)")} % 1000000
          < threshold_ppm
    GROUP BY b.bucket
)
SELECT th.bucket, th.n_before, th.threshold_ppm,
       coalesce(samp.n_sampled, CAST(0 AS BIGINT)) AS n_sampled
FROM th LEFT JOIN samp USING (bucket)
ORDER BY th.bucket
"""


@query("documents_length_matched_sample", _LEN_MATCH_ORACLE)
def documents_length_matched_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Importance-resample the corpus so sampled docs are UNIFORM over
    10 length buckets (the "match the target length distribution"
    curation step), deterministically — acceptance is an integer-ppm
    md5 threshold, not an RNG, so the same rows survive on any engine
    / partitioning / day.  Over-represented buckets are down-sampled
    to the uniform share; under-represented keep everything
    (truncated-weight importance resampling,
    dataops.curate.distribution_matched_sample).  Scale shape: bucket
    histogram is a partial-aggregatable groupBy to ≤11 rows; both it
    and the 1-row totals broadcast back; the accept filter is pure
    map-side.  Returns the per-bucket before/threshold/after summary."""
    from ..dataops.curate import distribution_matched_sample

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_LEN_BUCKET.format(div="div"))
        .cast("long")
        .alias("len_bucket"),
    )
    return distribution_matched_sample(
        docs, bucket_col="len_bucket", id_col="doc_id"
    ).orderBy("bucket")


# ====================================================================
# Embeddings validity contract — applied to every oracle uniformly
# ====================================================================

def _apply_embeddings_contract() -> int:
    """Rewrite every registered oracle that reads ``FROM embeddings``
    to read the validity-filtered relation instead (the DuckDB twin of
    dataops.similarity.valid_embeddings — see _EMB_VALID_SQL).

    One rewrite point instead of a hand-edited CTE per oracle: the contract is
    a property of the RELATION, not of any one query, so applying it
    uniformly here means a future embedding query cannot forget the
    gate (tests assert no unfiltered read survives).  str.replace does
    not rescan its replacement text, so the inner ``FROM embeddings``
    of the filter subquery is not rewritten recursively.
    """
    filtered = (
        f"FROM (SELECT vec_id, embedding, label FROM embeddings "
        f"WHERE {_EMB_VALID_SQL}) embeddings"
    )
    n = 0
    from . import ORACLES

    for name, sql in list(ORACLES.items()):
        if "FROM embeddings" in sql:
            ORACLES[name] = sql.replace("FROM embeddings", filtered)
            n += 1
    return n


_N_EMB_ORACLES = _apply_embeddings_contract()

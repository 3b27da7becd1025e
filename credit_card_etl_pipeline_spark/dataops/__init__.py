"""LLM training-data pipeline operators (engine extension surface).

Beyond the reference's credit-card analytics, this package adds the
operations a large-scale corpus pipeline needs, all Spark-first:

* :mod:`.dedup` — exact dedup, MinHash+LSH near-dup banding, SimHash,
  n-gram Jaccard.
* :mod:`.text` — normalization, whitespace tokens and content
  fingerprints.
* :mod:`.similarity` — embedding cosine top-k (exact brute force) and
  an LSH-bucketed approximate variant for scale.
* :mod:`.multimodal` — binary media columns with typed metadata and
  Arrow-batched decode plumbing, with real PNG/APNG decode through the
  vendored stdlib codec (:mod:`.png`).

Everything is native-expression or Arrow-batched; hashing is
cross-engine stable (functions.hashing) so each operator carries a
DuckDB oracle in queries/dataops_queries.
"""

"""credit_card_etl_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline ``skbb2553/credit-card-etl-pipeline``
(a single-machine pandas + sqlite3 ETL/RFM system), redesigned for the
Spark execution model: declarative DataFrame/SQL plans, Catalyst
optimization, broadcast dimension joins, conditional aggregation, and
partitioned columnar storage — intended to scale from personal-finance
CSVs to 100 TB fact tables without changing the code.

Layout
------
- ``session``    : SparkSession factory (AQE on, sane shuffle partitions).
- ``schema``     : the canonical 17-column transaction schema + null rules.
- ``functions``  : scalar column expressions (dates, cleansing, keys, ranks).
- ``operators``  : relational building blocks (rule compiler, classifier,
                   forward-fill, RFM aggregation/segmentation).
- ``sources``    : config-driven ingest (smart CSV, HTML, Excel readers).
- ``plans``      : end-to-end pipelines (extract → refine → load → analyze).
- ``warehouse``  : surrogate keys, snake_case surface, partitioned sink.
- ``queries``    : registered driver-checkable queries + DuckDB oracles.
- ``dataops``    : large-scale training-data operators (dedup, similarity
                   search, text analysis, multimodal columns).
"""

__version__ = "0.1.0"

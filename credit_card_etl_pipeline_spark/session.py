"""SparkSession factory.

Defaults are tuned for the driver's local[N] harness but express the
settings we would ship on a real cluster: AQE (runtime re-planning,
partition coalescing, skew-join splitting), Arrow for the Python batch
paths, UTC session timezone (parity with naive-UTC engines like DuckDB),
and shuffle parallelism matched to the executor core count instead of the
legacy 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "credit_card_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS``
    so the same entry points serve unit tests (local[2]) and the bench
    harness (local[32]) without code changes.  On a real cluster, pass
    ``master=None`` with a pre-configured spark-submit and only the SQL
    conf below applies.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        # SPARK_GRAFT_MASTER overrides the default local[N] so the
        # SAME tools (check_oracle, soaks, bench) can run under
        # multi-process execution — e.g. local-cluster[2,8,4096] puts
        # 2 executor JVMs behind a standalone-style scheduler, forcing
        # every shuffle / broadcast / Python-worker boundary across
        # real processes (the multi-executor certification axis).
        master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The ingest layer replicates pandas `errors='coerce'` semantics
        # (invalid date/number → null, etl.py:100-122,398-401); ANSI mode
        # (Spark 4 default) would turn those rows into task failures.
        .config("spark.sql.ansi.enabled", "false")
        # ANSI-off re-enables the legacy size(NULL) = -1 sentinel, which
        # silently poisons every count/ratio on null text (-1/-1 reads
        # as a perfect 1.0 stopword ratio — caught by the r10
        # null-hostile corpus).  Force SQL-standard null propagation:
        # size(NULL) = NULL, matching DuckDB and every other engine.
        .config("spark.sql.legacy.sizeOfNull", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Rule/dim tables are KB-sized; files at rest are parquet. Keep
        # scan partitions big enough that sf0.1 doesn't over-parallelize.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-escape spam to stdout; the
        # driver records only the last 2000 chars of bench output, and
        # in r5 the progress escapes displaced all but 5 BENCHQ lines.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not master.startswith("local["):
        # Multi-process masters (local-cluster, spark://, yarn) spawn
        # executor Python workers that must UNPICKLE engine UDFs by
        # module reference — without the package on their path every
        # Arrow-batched crossing dies with ModuleNotFoundError (found
        # by the r10 local-cluster certification sweep: 17 queries).
        # On a shared filesystem pointing PYTHONPATH at the repo root
        # is the deployment; a real cluster without shared storage
        # ships a wheel via spark.submit.pyFiles instead (this conf is
        # then harmless).  Existing PYTHONPATH entries are preserved.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prior = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            f"{repo_root}:{prior}" if prior else repo_root,
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

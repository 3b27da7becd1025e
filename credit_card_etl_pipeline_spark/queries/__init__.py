"""Registry of driver-checkable queries and their DuckDB oracles.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable exercising one
operator family from SURVEY §2 on the driver's TPC-H-ish corpus
(/root/testdata/sf*/...).  ``ORACLES`` holds the ANSI-SQL equivalent the
driver runs in DuckDB over the same parquet files; column names/types are
aligned on both sides because the driver compare hashes values after
sorting columns by name.

Determinism notes (double-precision sums are order-dependent):
* money aggregates are computed in **integer cents** (exact, associative)
  and divided back to 2-decimal doubles at output — bit-identical across
  engines regardless of partial-aggregation order;
* percentile ranks are exact rationals evaluated identically both sides;
* synthetic columns (merchant names, card labels) derive from integer
  key arithmetic computed identically in Spark and DuckDB.

Query families live in the submodules imported at the bottom; importing
this package populates ``QUERIES``/``ORACLES``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import caching

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Session settings the queries depend on.  The DRIVER calls queries()
#: with its own SparkSession, which may not come from session.get_spark
#: — so every registered query re-asserts the runtime-settable subset
#: (permissive casts for coerce-to-null semantics, UTC so to_date
#: matches the naive-UTC DuckDB oracle).
_SESSION_CONF = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_session_conf(spark: SparkSession) -> None:
    """Set AND verify the session confs the queries rely on.

    Both keys are runtime-settable on every Spark version we target, so
    a silent no-op (static conf, renamed key, ignored tombstone) is a
    real environment problem — fail loudly instead of letting queries
    produce timezone- or cast-shifted answers."""
    for k, v in _SESSION_CONF.items():
        spark.conf.set(k, v)
        got = spark.conf.get(k)
        if got != v:
            raise RuntimeError(
                f"session conf {k!r} did not take effect: set {v!r}, "
                f"read back {got!r} — refusing to run oracle-checked "
                "queries on a session with drifted semantics"
            )


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_conf(spark)
            # Drop caches pinned by the PREVIOUS query's operators so a
            # long-running driver looping over queries() never
            # accumulates persisted intermediates (functions.caching).
            caching.release_tracked()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_SCAN_SPREAD_MEMO: dict[str, bool] = {}

#: Natural unique(-ish) key per corpus table, used to make the scan
#: spread a DETERMINISTIC hash repartition instead of keyless
#: round-robin.  Keyless ``repartition(n)`` first pays a local sort of
#: its input (``spark.sql.execution.sortBeforeRepartition``, on by
#: default since SPARK-23207 so retried tasks reproduce the same
#: row→partition assignment) — measured r12: the sort is ~60% of the
#: spread exchange's cost (orders sf0.1: 0.47s round-robin vs 0.32s
#: hash-on-key vs 0.19s scan-only), paid by nearly every query.  A
#: hash exchange on a deterministic key needs no sort AND is
#: retry-safe at any scale (guide §2.5: derive the partition key
#: deterministically, never from rand()/row position).  Keys are
#: near-unique so 32-1024 partitions spread evenly.
_SPREAD_KEYS: dict[str, str] = {
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

#: The corpus tables, written once: ``tests/conftest`` and
#: ``tools/check_oracle`` register exactly these as DuckDB views.
TABLES = tuple(_SPREAD_KEYS)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a corpus table, guarding scan parallelism.

    The driver's parquet files are single-row-group, so the native scan
    yields ONE partition and every narrow operator before the first
    shuffle (explode/regex/hash chains) would run on one core.  A real
    multi-file/multi-row-group table parallelizes natively and the
    round-robin repartition below is skipped — this is a local-corpus
    guard, not a scale crutch.
    """
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events":
        # row-validity contract (functions.contracts): null-key /
        # null-ts / NaN-value rows never reach an operator — on EVERY
        # read path (the audit early-return below included).  Applied
        # here, the one read point; the DuckDB twin is spliced into
        # every events oracle below (_apply_events_contract).
        from ..functions.contracts import valid_events

        df = valid_events(df)
    if os.environ.get("SPARK_GRAFT_NO_SCAN_SPREAD"):
        # tools/shuffle_audit.py disables the spread so measured shuffle
        # bytes are the ALGORITHM's data movement, not the local-corpus
        # parallelism guard (narrow chains then run single-core: fine
        # for byte accounting, wrong for wall-clock).
        return df
    parallelism = spark.sparkContext.defaultParallelism
    # the rdd conversion that exposes the scan's partition count isn't
    # free — memoize the per-table verdict (corpus files are immutable
    # within a session, and every query re-loads the same few tables)
    key = f"{sf_dir}/{table}:{parallelism}"
    needs_spread = _SCAN_SPREAD_MEMO.get(key)
    if needs_spread is None:
        needs_spread = df.rdd.getNumPartitions() < max(2, parallelism // 2)
        _SCAN_SPREAD_MEMO[key] = needs_spread
    if needs_spread:
        # deterministic hash spread on the table's natural key: skips
        # round-robin's sort-before-repartition (see _SPREAD_KEYS) and
        # keeps row→partition assignment stable under task retry
        spread_key = _SPREAD_KEYS.get(table)
        if spread_key is not None:
            df = df.repartition(parallelism, F.col(spread_key))
        else:
            df = df.repartition(parallelism)
    return df


# --------------------------------------------------------------------
# pandas-semantics percentile rank fragments (see functions.ranks):
# avg-rank-of-ties / non-null count, null inputs excluded and 0-filled.
# --------------------------------------------------------------------

def pct_rank_sql(col: str, asc: bool) -> str:
    direction = "ASC" if asc else "DESC"
    return (
        f"(RANK() OVER (ORDER BY {col} {direction} NULLS LAST)"
        f" + (COUNT(*) OVER (PARTITION BY {col}) - 1) / 2.0)"
        f" / COUNT({col}) OVER ()"
    )


def scoped_pct_rank_sql(col: str, asc: bool) -> str:
    """Rank among non-null rows only; null rows → NULL (filled later)."""
    return f"CASE WHEN {col} IS NOT NULL THEN {pct_rank_sql(col, asc)} END"


# Import query families (registration side effects).
from . import (  # noqa: E402,F401
    anonymize_queries,
    dataops_queries,
    etl_queries,
    merchant_queries,
    refine_queries,
    rfm_queries,
    warehouse_queries,
)


def _apply_events_contract() -> int:
    """Splice the events validity predicate (functions.contracts.
    EVENTS_VALID_SQL — the DuckDB twin of the gate load() applies
    engine-side) into every registered oracle that reads the events
    table.  Runs AFTER all query-family imports, so it covers every
    module's oracles uniformly — a future events query cannot read the
    raw table (tests assert no unfiltered read survives).  str.replace
    never rescans its replacement, so the inner FROM events of the
    filter subquery is not rewritten recursively.  Aliased reads
    (``FROM events e``) are rewritten first so the subquery takes the
    query's own alias instead of a duplicate default one.
    """
    from ..functions.contracts import EVENTS_VALID_SQL

    sub = f"FROM (SELECT * FROM events WHERE {EVENTS_VALID_SQL})"
    n = 0
    for name, sql in list(ORACLES.items()):
        if "FROM events" not in sql:
            continue
        sql = sql.replace("FROM events e ", f"{sub} e ")
        sql = sql.replace("FROM events", f"{sub} events")
        ORACLES[name] = sql
        n += 1
    return n


_N_EVENTS_ORACLES = _apply_events_contract()

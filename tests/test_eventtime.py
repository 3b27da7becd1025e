"""Environment canary + type-adaptive event-time extraction.

Round 3 broke because the driver corpus's events ``ts`` silently
changed from epoch-nano INT64 to parquet TIMESTAMP_NTZ(micros) and the
engine assumed a reader conf would paper over it.  These tests pin:

* what type THIS environment actually reads (`describe_ts_dtype`), so
  the next silent corpus/Spark change fails in minutes with a message
  naming the drift;
* that `event_micros` matches DuckDB's ``epoch_us`` exactly on the
  real corpus — including under a non-UTC session timezone.
"""

from __future__ import annotations

import duckdb

from credit_card_etl_pipeline_spark.functions.eventtime import (
    describe_ts_dtype,
    event_micros,
)

SF = "/root/testdata/sf0.001"

#: Types event_micros knows how to handle; if the corpus drifts to
#: anything else this assertion names the new type in the failure.
_KNOWN_TS_TYPES = {"bigint", "timestamp", "timestamp_ntz"}


def _oracle_us(limit: int = 3) -> list[tuple[int, int]]:
    return [
        tuple(r)
        for r in duckdb.sql(
            f"SELECT event_id, epoch_us(ts) FROM '{SF}/events.parquet' "
            f"ORDER BY event_id LIMIT {limit}"
        ).fetchall()
    ]


def test_environment_canary(spark):
    """Record + assert the observed ts dtype and pyspark version."""
    import pyspark

    dtype = describe_ts_dtype(spark, SF)
    assert dtype in _KNOWN_TS_TYPES, (
        f"events.ts now reads as {dtype!r} on pyspark {pyspark.__version__}"
        " — extend functions.eventtime.event_micros for this type"
    )


def test_event_micros_matches_oracle_ntz(spark):
    df = spark.read.parquet(f"{SF}/events.parquet")
    got = [
        (r.event_id, r.us)
        for r in df.select("event_id", event_micros(df).alias("us"))
        .orderBy("event_id")
        .limit(3)
        .collect()
    ]
    assert got == _oracle_us()


def test_event_micros_timezone_independent(spark):
    """Same derivation under a hostile session timezone — must be
    bit-identical (the naive→instant cast it replaces was not)."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    df = ns.read.parquet(f"{SF}/events.parquet")
    got = [
        (r.event_id, r.us)
        for r in df.select("event_id", event_micros(df).alias("us"))
        .orderBy("event_id")
        .limit(3)
        .collect()
    ]
    assert got == _oracle_us()


def test_event_micros_legacy_nanos_branch(spark):
    nano = spark.createDataFrame(
        [(1, 1_704_067_798_778_549_123)], "event_id long, ts long"
    )
    assert (
        nano.select(event_micros(nano).alias("us")).collect()[0].us
        == 1_704_067_798_778_549
    )


def test_event_micros_instant_branch(spark):
    inst = spark.sql(
        "SELECT timestamp_micros(1704067798778549) AS ts"
    )
    assert (
        inst.select(event_micros(inst).alias("us")).collect()[0].us
        == 1_704_067_798_778_549
    )

"""Registered queries must self-correct session settings when invoked
with a session that has hostile defaults (the correctness driver uses
its own SparkSession, not the engine factory's)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.check_oracle import frame_digest  # noqa: E402


def test_queries_survive_hostile_session(spark, duck, sf_dir):
    from credit_card_etl_pipeline_spark import queries as q

    ns = spark.newSession()
    ns.conf.set("spark.sql.ansi.enabled", "true")
    ns.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")

    # The probe is real: without the registry wrapper's conf reset the
    # cleanse's permissive casts fail under ANSI.
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        q.QUERIES["etl_general_cleanse"].__wrapped__(ns, sf_dir).collect()

    # Concrete VALUES, not just row counts: each result run in the
    # hostile session must hash-match its DuckDB oracle.
    for name in ("etl_general_cleanse", "rfm_customer_dual_window"):
        df = q.QUERIES[name](ns, sf_dir)
        got = frame_digest(df.columns, [tuple(r) for r in df.collect()])[0]
        rel = duck.sql(q.ORACLES[name])
        want = frame_digest(list(rel.columns), rel.fetchall())[0]
        assert got == want, name
    assert ns.conf.get("spark.sql.ansi.enabled") == "false"
    assert ns.conf.get("spark.sql.session.timeZone") == "UTC"

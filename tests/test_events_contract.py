"""The events validity contract (functions.contracts.valid_events and
EVENTS_VALID_SQL): per-class keep/drop, engine/oracle agreement, and
the structural guarantee that no registered oracle reads raw events."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from credit_card_etl_pipeline_spark.functions import contracts as ct

TS = dt.datetime(2024, 1, 1, 12, 0, 0)


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )


_CASES = [
    # (event_id, ts, user_id, event_type, value, props, keep?)
    (0, TS, 1, "view", 1.5, '{"k": 1}', True),
    (None, TS, 1, "view", 1.5, "{}", False),          # null id
    (2, None, 1, "view", 1.5, "{}", False),           # null ts
    (3, TS, None, "view", 1.5, "{}", False),          # null user
    (4, TS, 1, "view", float("nan"), "{}", False),    # NaN value
    (5, TS, 1, "view", float("inf"), "{}", False),    # +Inf
    (6, TS, 1, "view", float("-inf"), "{}", False),   # -Inf
    (7, TS, 1, "view", None, "{}", True),             # null value: data
    (8, TS, 1, "view", -3.5, "{}", True),             # negative: data
    (9, TS, 1, None, 1.0, "{}", True),                # null type: data
    (10, TS, 1, "nan", 1.0, "{}", True),              # 'nan' type: data
    (11, TS, 1, "view", 1.0, '{"k": 69', True),       # junk props: data
    (12, TS, 1, "view", 1.0, None, True),             # null props: data
]


def test_valid_events_keep_drop_classes(spark):
    df = _events_df(
        spark, [Row(*c[:-1]) for c in _CASES]
    )
    kept = sorted(r["event_id"] for r in ct.valid_events(df).collect())
    assert kept == sorted(c[0] for c in _CASES if c[-1])


def test_events_sql_twin_agrees(duck):
    # Arrow table, not pandas: a pandas float column erases the
    # NULL-vs-NaN distinction the contract draws (plain float64 turns
    # None into NaN; nullable Float64 turns NaN into NULL) — the real
    # corpus is parquet, where both survive distinctly.
    import pyarrow as pa

    pdf = pa.table(
        {
            "event_id": pa.array(
                [c[0] for c in _CASES], type=pa.int64()
            ),
            "ts": pa.array([c[1] for c in _CASES]),
            "user_id": pa.array(
                [c[2] for c in _CASES], type=pa.int64()
            ),
            "event_type": pa.array([c[3] for c in _CASES]),
            "value": pa.array(
                [c[4] for c in _CASES], type=pa.float64()
            ),
            "props": pa.array([c[5] for c in _CASES]),
        }
    )
    duck.register("hostile_ev", pdf)
    got = duck.execute(
        "SELECT event_id FROM hostile_ev "
        f"WHERE {ct.EVENTS_VALID_SQL} ORDER BY event_id"
    ).fetchall()
    duck.unregister("hostile_ev")
    assert [r[0] for r in got] == sorted(
        c[0] for c in _CASES if c[-1]
    )


def test_every_events_oracle_carries_the_contract():
    from credit_card_etl_pipeline_spark import queries as q

    marker = "FROM (SELECT * FROM events WHERE"
    spliced = sum(marker in sql for sql in q.ORACLES.values())
    assert q._N_EVENTS_ORACLES == spliced == 1
    for name, sql in q.ORACLES.items():
        if "FROM events" not in sql:
            continue
        stripped = sql.replace(marker, "")
        assert "FROM events" not in stripped, (
            f"oracle {name} reads the raw events table without the "
            "validity contract"
        )


def test_batch_load_and_stream_share_the_gate(spark, tmp_path):
    """queries.load('events') must expose exactly the rows the contract
    keeps on a garbage-bearing corpus."""
    from credit_card_etl_pipeline_spark import queries as q

    df = _events_df(spark, [Row(*c[:-1]) for c in _CASES])
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    batch_ids = sorted(
        r["event_id"]
        for r in q.load(spark, str(tmp_path), "events").collect()
    )
    assert batch_ids == sorted(c[0] for c in _CASES if c[-1])

"""The embeddings validity contract (similarity.valid_embeddings and
its DuckDB twin _EMB_VALID_SQL): per-class keep/drop behavior, and the
structural guarantee that no registered oracle reads the raw table."""

from __future__ import annotations

from pyspark.sql import Row

from credit_card_etl_pipeline_spark.dataops import similarity as sim


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_valid_embeddings_keep_drop_classes(spark):
    dim = sim.EMBEDDING_DIM
    good = [0.1] * dim
    cases = [
        Row(vec_id=0, embedding=good, label=1),                  # keep
        Row(vec_id=1, embedding=None, label=1),                  # null vec
        Row(vec_id=2, embedding=[], label=1),                    # empty
        Row(vec_id=3, embedding=[0.1] * (dim // 2), label=1),    # wrong dim
        Row(vec_id=4, embedding=[0.0] * dim, label=1),           # zero
        Row(vec_id=5, embedding=good[:-1] + [float("nan")], label=1),
        Row(vec_id=6, embedding=good[:-1] + [float("inf")], label=1),
        Row(vec_id=7, embedding=good[:-1] + [float("-inf")], label=1),
        Row(vec_id=8, embedding=good[:-1] + [None], label=1),    # null comp
        Row(vec_id=None, embedding=good, label=1),               # null id
        Row(vec_id=9, embedding=good, label=None),               # keep: label
        Row(vec_id=10, embedding=[0.005] * dim, label=1),        # sub-quant
    ]
    kept = sorted(
        r["vec_id"]
        for r in sim.valid_embeddings(_emb_df(spark, cases)).collect()
    )
    assert kept == [0, 9]


def test_valid_embeddings_duckdb_twin_agrees(spark, duck):
    """The SQL predicate must keep/drop the SAME rows as the engine
    on every garbage class (null components are the trap: bool_and
    skips nulls unless coalesced)."""
    import pandas as pd

    from credit_card_etl_pipeline_spark.queries.dataops_queries import (
        _EMB_VALID_SQL,
    )

    dim = sim.EMBEDDING_DIM
    good = [0.1] * dim
    rows = [
        (0, good, 1),
        (1, None, 1),
        (2, [], 1),
        (3, [0.1] * 3, 1),
        (4, [0.0] * dim, 1),
        (5, good[:-1] + [float("nan")], 1),
        (6, good[:-1] + [float("inf")], 1),
        (7, good[:-1] + [None], 1),
        (None, good, 1),
        (8, good, None),
        (9, [0.005] * dim, 1),
    ]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    duck.register("hostile_emb", pdf)
    got = duck.execute(
        "SELECT vec_id FROM (SELECT vec_id, "
        "CAST(embedding AS FLOAT[]) AS embedding, label "
        f"FROM hostile_emb) WHERE {_EMB_VALID_SQL} ORDER BY vec_id"
    ).fetchall()
    duck.unregister("hostile_emb")
    assert [r[0] for r in got] == [0, 8]

    sdf = _emb_df(
        spark,
        [Row(vec_id=i, embedding=e, label=l) for i, e, l in rows],
    )
    kept = sorted(
        r["vec_id"] for r in sim.valid_embeddings(sdf).collect()
    )
    assert kept == [0, 8]


def test_every_embeddings_oracle_carries_the_contract():
    """Structural gate: a future embedding query cannot read the raw
    table — every oracle mentioning embeddings must go through the
    validity-filtered relation (_apply_embeddings_contract)."""
    from credit_card_etl_pipeline_spark import queries as q

    marker = "FROM (SELECT vec_id, embedding, label FROM embeddings"
    spliced = sum(marker in sql for sql in q.ORACLES.values())
    assert q.dataops_queries._N_EMB_ORACLES == spliced == 11
    for name, sql in q.ORACLES.items():
        if "embeddings" not in sql:
            continue
        stripped = sql.replace(marker, "")
        assert "FROM embeddings" not in stripped, (
            f"oracle {name} reads the raw embeddings table without the "
            "validity contract"
        )

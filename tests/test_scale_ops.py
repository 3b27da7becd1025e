"""Unit test for the round-4 scale operators: the canonical-selection
hand case."""

from __future__ import annotations


def test_canonical_per_component_hand_case(spark):
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        canonical_per_component,
    )

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, component long",
    )
    quality = spark.createDataFrame(
        # component 1: doc 2 longest; component 5: tie -> min id (5)
        [(1, 10), (2, 30), (3, 20), (4, 99), (5, 7), (6, 7)],
        "doc_id long, q long",
    )
    rows = {
        (r.component, r.kept_id, r.kept_quality, r.n_docs)
        for r in canonical_per_component(comps, quality).collect()
    }
    # singleton component 4 is excluded (n_docs > 1 filter)
    assert rows == {(1, 2, 30, 3), (5, 5, 7, 2)}

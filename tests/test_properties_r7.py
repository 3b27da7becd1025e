"""Round-7 property tests: randomized invariants for the adaptive rank
strategies.  Each hypothesis example drives a real Spark job, so
example counts stay small — the property carries the value: two-pass
distributed rank == single-window rank == pandas, under random
ties/nulls and partition counts.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from credit_card_etl_pipeline_spark.functions.ranks import with_pct_rank

_slow = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


# ------------------------------------------------------------------
# Rank strategy agreement under randomized ties/nulls/partitioning
# ------------------------------------------------------------------

_rank_vals = st.lists(
    st.one_of(st.none(), st.sampled_from([1.0, 2.0, 2.5, 3.0, 7.0])),
    min_size=1,
    max_size=15,
)


@_slow
@given(_rank_vals, st.booleans(), st.integers(min_value=1, max_value=6))
def test_rank_strategies_agree_randomized(spark, vals, ascending, parts):
    if all(v is None for v in vals):
        return
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    small = {
        r["v"]: r["p"]
        for r in with_pct_rank(
            df, "v", ascending=ascending, out="p", distributed=False
        ).collect()
    }
    big = {
        r["v"]: r["p"]
        for r in with_pct_rank(
            df, "v", ascending=ascending, out="p",
            distributed=True, num_partitions=parts,
        ).collect()
    }
    assert small == big
    expected = pd.Series(vals, dtype="float64").rank(
        pct=True, ascending=ascending
    )
    for v, exp in zip(vals, expected):
        if v is None:
            assert big[None] is None or pd.isna(big[None])
        else:
            assert big[v] == pytest.approx(exp, abs=0)

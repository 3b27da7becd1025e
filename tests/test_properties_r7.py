"""Property tests: randomized invariants for the percentile rank.  Each hypothesis example drives a real Spark job, so example counts
stay small — the property carries the value: the window rank == pandas,
under random ties/nulls and input partitionings.
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
# Rank == pandas under randomized ties/nulls/partitioning
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
    df = spark.createDataFrame(pd.DataFrame({"v": vals})).repartition(parts)
    got = {
        r["v"]: r["p"]
        for r in with_pct_rank(df, "v", ascending=ascending, out="p").collect()
    }
    expected = pd.Series(vals, dtype="float64").rank(
        pct=True, ascending=ascending
    )
    for v, exp in zip(vals, expected):
        if v is None:
            assert got[None] is None or pd.isna(got[None])
        else:
            assert got[v] == pytest.approx(exp, abs=0)

"""Round-7 property tests: randomized invariants for HLL merge
losslessness, sequence packing, and the adaptive rank strategies.
Each hypothesis example drives a real Spark job, so example counts
stay small — the properties carry the value:

* HLL: merge(per-segment registers) == registers(concatenated stream)
  for ANY segmentation (the mergeability claim the 100 TB one-pass
  story rests on);
* pack_sequences: the distributed prefix sum partitions [0, total)
  exactly, in id order, no gaps or overlaps;
* two-pass distributed rank == single-window rank == pandas, under
  random ties/nulls and partition counts.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from credit_card_etl_pipeline_spark.dataops.curate import pack_sequences
from credit_card_etl_pipeline_spark.dataops.sketches import (
    hll_merge,
    hll_registers,
    hll_registers_by,
)
from credit_card_etl_pipeline_spark.functions.ranks import with_pct_rank

_slow = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


# ------------------------------------------------------------------
# HLL mergeability
# ------------------------------------------------------------------

_streams = st.lists(
    st.tuples(st.integers(0, 3), st.text(min_size=0, max_size=8)),
    min_size=0,
    max_size=60,
)


@_slow
@given(_streams)
def test_hll_merge_equals_registers_of_concatenation(spark, rows):
    pdf = pd.DataFrame(rows, columns=["seg", "val"])
    df = spark.createDataFrame(
        pdf.astype({"seg": "int64", "val": "string"}),
        schema="seg long, val string",  # empty-stream example included
    )
    whole = {
        (r["bucket"], r["max_rho"])
        for r in hll_registers(df, "val").collect()
    }
    merged = {
        (r["bucket"], r["max_rho"])
        for r in hll_merge(hll_registers_by(df, "val", "seg")).collect()
    }
    assert whole == merged


# ------------------------------------------------------------------
# Sequence packing: exact partition of the token axis
# ------------------------------------------------------------------

_docs = st.lists(
    st.integers(min_value=0, max_value=30),  # words per doc
    min_size=1,
    max_size=20,
)


@_slow
@given(_docs, st.integers(min_value=1, max_value=4))
def test_pack_sequences_prefix_sum_partitions_token_axis(
    spark, word_counts, num_partitions
):
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(word_counts)),
            "text": [" ".join(["w"] * n) for n in word_counts],
        }
    )
    df = spark.createDataFrame(pdf)
    out = sorted(
        pack_sequences(
            df, seq_tokens=7, num_partitions=num_partitions
        ).collect(),
        key=lambda r: r["doc_id"],
    )
    running = 0
    for r, n in zip(out, word_counts):
        # words() may count differently from n only if text is empty
        assert r["start_tok"] == running, (r, running)
        running += r["n_tokens"]
        if r["n_tokens"] > 0:
            assert r["first_seq"] == r["start_tok"] // 7
            assert r["last_seq"] == (r["start_tok"] + r["n_tokens"] - 1) // 7
            assert r["seq_offset"] == r["start_tok"] % 7


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

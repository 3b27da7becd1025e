"""Property test for the round-7 containment rewrite:
substring_containment finds EVERY planted containment (the anchor
guarantee: a contained doc's first n-gram is necessarily one of the
container's shingles) and its survivors all verify (no false
positives), under random texts and planted snippet/mirror structure.

Each hypothesis example drives a real Spark job — example counts stay
small; the invariants carry the value.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from credit_card_etl_pipeline_spark.dataops.dedup import (
    substring_containment,
)
from credit_card_etl_pipeline_spark.dataops.text import normalize_text  # noqa: F401

_slow = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

_WORDS = ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen"]

_texts = st.lists(
    st.lists(st.integers(min_value=0, max_value=len(_WORDS) - 1),
             min_size=3, max_size=10),
    min_size=1,
    max_size=6,
)


@_slow
@given(_texts, st.integers(min_value=0, max_value=2))
def test_containment_finds_planted_and_verifies(spark, texts, pad):
    """Plant doc i+100 = a contiguous word slice of doc i (>= 3 words):
    every planted pair must be reported; every reported pair must be a
    true padded-substring containment (re-checked in pandas)."""
    docs = [(i, " ".join(_WORDS[w] for w in t)) for i, t in enumerate(texts)]
    planted = []
    for i, t in enumerate(texts):
        if len(t) >= 3 + pad:
            sub = t[pad : pad + max(3, len(t) - pad - 1)]
            if len(sub) >= 3:
                docs.append((i + 100, " ".join(_WORDS[w] for w in sub)))
                planted.append(i + 100)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = substring_containment(df).toPandas()
    by_text = dict(docs)
    # no false positives: every reported pair is a true containment
    for r in got.itertuples():
        a = f" {by_text[r.contained_id]} "
        b = f" {by_text[r.container_id]} "
        assert a in b, (r.contained_id, r.container_id)
    # completeness: every planted snippet is found contained in its
    # source (snippet text is a contiguous slice, container differs)
    found = set(zip(got.contained_id, got.container_id))
    for sid in planted:
        src = sid - 100
        a = f" {by_text[sid]} "
        b = f" {by_text[src]} "
        if a in b and by_text[sid] != by_text[src]:
            assert (sid, src) in found, (sid, src, found)


# ------------------------------------------------------------------
# duplicate_spans vs a direct reference model
# ------------------------------------------------------------------

from credit_card_etl_pipeline_spark.dataops.dedup import duplicate_spans  # noqa: E402


def _reference_spans(texts: dict[int, str], k: int) -> set:
    """Brute-force model: count every k-token window across all (doc,
    position) slots; mark slots in windows with count >= 2; merge
    overlapping/adjacent marked ranges per doc (1-based inclusive)."""
    from collections import Counter

    toks = {d: t.split() for d, t in texts.items()}
    counts: Counter = Counter()
    for ts in toks.values():
        for i in range(len(ts) - k + 1):
            counts[tuple(ts[i : i + k])] += 1
    spans = set()
    for d, ts in toks.items():
        cur = None
        for i in range(len(ts) - k + 1):
            if counts[tuple(ts[i : i + k])] < 2:
                continue
            s, e = i + 1, i + k
            if cur and s <= cur[1] + 1:
                cur = (cur[0], max(cur[1], e))
            else:
                if cur:
                    spans.add((d, cur[0], cur[1], cur[1] - cur[0] + 1))
                cur = (s, e)
        if cur:
            spans.add((d, cur[0], cur[1], cur[1] - cur[0] + 1))
    return spans


_span_texts = st.lists(
    st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=14),
    min_size=1,
    max_size=8,
)


@_slow
@given(_span_texts)
def test_duplicate_spans_matches_reference(spark, texts):
    """duplicate_spans == the brute-force window-count + merge model on
    random corpora over a 4-word vocabulary (dense genuine repeats,
    self-repeats included)."""
    docs = {i: " ".join(_WORDS[w] for w in t) for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicate_spans(df, k=3).collect()
    }
    assert got == _reference_spans(docs, 3)

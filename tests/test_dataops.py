"""Dataops unit tests: multimodal decode plumbing (Arrow batch path),
LSH recall sanity vs the exact scorer, and dedup survivor semantics."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from credit_card_etl_pipeline_spark.dataops.dedup import dedup_exact
from credit_card_etl_pipeline_spark.dataops.multimodal import (
    decode_media,
    media_metadata,
    pack_text_as_media,
)
from credit_card_etl_pipeline_spark.dataops import similarity as sim
from credit_card_etl_pipeline_spark.dataops.similarity import (
    ann_lsh_topk,
    cosine_topk,
    quantize,
)


def test_multimodal_fake_decode_batch_path(spark):
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["abcd", "zz"]})
    df = spark.createDataFrame(pdf).select(
        "doc_id", pack_text_as_media(F.col("text")).alias("payload")
    )
    out = {r["doc_id"]: r for r in decode_media(df, fake=True).collect()}
    assert out[1]["n_bytes"] == 4
    assert sum(out[1]["feature"]) == 4  # histogram mass == byte count
    assert out[2]["n_bytes"] == 2
    # 'z' = 0x7a → high nibble 7
    assert out[2]["feature"][7] == 2


def test_multimodal_real_decode_is_stubbed(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x"]})).select(
        "doc_id", pack_text_as_media(F.col("text")).alias("payload")
    )
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_media(df, fake=False).collect()


def test_multimodal_resize_and_frame_sample(spark):
    from credit_card_etl_pipeline_spark.dataops.multimodal import (
        resize_images,
        sample_frames,
    )

    pdf = pd.DataFrame({"doc_id": [1], "text": ["x" * 100]})
    df = spark.createDataFrame(pdf).select(
        "doc_id", pack_text_as_media(F.col("text")).alias("payload")
    )
    r = resize_images(df, width=4, height=4, fake=True).collect()[0]
    assert (r["width"], r["height"]) == (4, 4)
    assert len(r["pixels"]) == 16

    frames = sample_frames(df, frame_bytes=10, every=3, fake=True).collect()
    # 100 bytes → 10 frames → kept frames 0,3,6,9
    assert [f["frame_no"] for f in frames] == [0, 3, 6, 9]
    assert all(len(f["frame"]) == 10 for f in frames)


def test_media_metadata_struct(spark):
    df = spark.createDataFrame(pd.DataFrame({"t": ["hello"]}))
    row = df.select(
        media_metadata(pack_text_as_media(F.col("t")), "image", "utf8").alias("m")
    ).collect()[0]["m"]
    assert row["byte_len"] == 5
    assert row["media_type"] == "image"
    assert len(row["checksum"]) == 32


def test_ann_lsh_is_subset_quality(spark):
    # LSH results must be a subset of the exact candidate scores: every
    # (query, cand, cosine) it returns appears in the exact brute-force
    # scoring with the same cosine.
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.select(
        "vec_id", quantize(F.col("embedding")).alias("qvec")
    )
    queries = q.where(F.col("vec_id") % 10 == 0)
    exact = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in cosine_topk(q, queries, k=39).collect()
    }
    approx = ann_lsh_topk(q, queries, k=5, n_planes=4, dim=8).collect()
    assert approx  # buckets collide at least somewhere
    for r in approx:
        assert exact[(r["query_id"], r["cand_id"])] == pytest.approx(
            r["cosine"], abs=0
        )


def test_lsh_hot_bucket_cap(spark):
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        exploded_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # 5 identical docs (one hot bucket) + 2 distinct ones
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(7)),
            "text": ["same boilerplate text here"] * 5
            + ["alpha beta gamma delta", "one two three four"],
        }
    )
    sig = minhash_signatures(exploded_shingles(spark.createDataFrame(pdf)))
    uncapped = lsh_candidate_pairs(
        sig, bands=2, rows=4, max_bucket_size=None
    ).count()
    capped = lsh_candidate_pairs(sig, bands=2, rows=4, max_bucket_size=3).count()
    assert uncapped == 10  # C(5,2) from the hot bucket
    assert capped == 0     # hot bucket dropped, distinct docs collide nowhere

    from credit_card_etl_pipeline_spark.dataops.dedup import lsh_overflow_docs

    # the capped-out docs surface through the overflow companion, so a
    # caller can route them through exact dedup
    overflow = sorted(
        r["doc_id"]
        for r in lsh_overflow_docs(sig, bands=2, rows=4, max_bucket_size=3).collect()
    )
    assert overflow == [0, 1, 2, 3, 4]


def test_jaccard_for_pairs_materialized_flag_is_result_neutral(spark):
    """shingles_materialized=True must only skip the internal
    localCheckpoint — same rows either way, including the zero-overlap
    pair (n_inter fill path) and the partial-overlap pair."""
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        exploded_shingles,
        jaccard_for_pairs,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "alpha beta gamma delta epsilon",
                "alpha beta gamma zeta eta",
                "one two three four five",
                "totally different words entirely here",
            ],
        }
    )
    sh = exploded_shingles(spark.createDataFrame(pdf))
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [0, 2], "doc_b": [1, 3]})
    )
    plain = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_for_pairs(sh, pairs).collect()
    }
    pre = sh.localCheckpoint(eager=True)
    mat = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_for_pairs(
            pre, pairs, shingles_materialized=True
        ).collect()
    }
    assert plain == mat
    assert plain[(2, 3)] == 0.0  # zero-overlap fill path exercised


def test_connected_components_chain_and_isolates(spark):
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        connected_components,
    )

    vertices = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    )
    # chain 0-1-2-3 (diameter > 1 → needs propagation rounds),
    # pair 5-6, isolates 4 and 7
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: r["component"]
        for r in connected_components(vertices, edges).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}


def test_connected_components_fast_path_matches_distributed(spark):
    """The guarded driver union-find (edge count <= cap) and the
    distributed min-label propagation (cap forced to None) must label
    identically: component = min reachable id, isolates = own id."""
    import random

    from credit_card_etl_pipeline_spark.dataops.dedup import (
        connected_components,
    )

    rng = random.Random(7)
    n = 200
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(120)
            )
            if a != b
        }
    )
    # adversarial extras: a long chain (deep diameter) and a star
    edges += [(100 + i, 101 + i) for i in range(20)]
    edges += [(0, 150 + i) for i in range(10)]
    vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {
        r["doc_id"]: r["component"]
        for r in connected_components(vertices, edf).collect()
    }
    dist = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            vertices, edf, driver_edge_cap=None
        ).collect()
    }
    assert fast == dist
    # spot-check the min-id invariant on the star
    assert fast[150] == 0


def test_connected_components_refuses_partial_convergence(spark):
    """Both strategies return exactly converged labels or fail loudly:
    a diameter-5 chain with max_iters=2 must RAISE on the distributed
    path (never silently return partially-propagated labels), while
    the driver union-find converges fully regardless of the bound."""
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        connected_components,
    )

    vertices = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            vertices, edges, max_iters=2, driver_edge_cap=None
        )
    # zero rounds can only mean unpropagated labels — rejected up front
    with pytest.raises(ValueError, match="max_iters"):
        connected_components(
            vertices, edges, max_iters=0, driver_edge_cap=None
        )
    out = {
        r["doc_id"]: r["component"]
        for r in connected_components(vertices, edges, max_iters=2).collect()
    }
    assert out == {i: 0 for i in range(6)}


def test_connected_components_empty_edges(spark):
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        connected_components,
    )

    vertices = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    out = {
        r["doc_id"]: r["component"]
        for r in connected_components(vertices, edges).collect()
    }
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}


def test_duplicate_spans_detection_and_merging(spark):
    """Cross-doc repeats, self-repeats, and overlap merging of the
    sliding-window span dedup (k=8): a repeated 8-token run marks one
    exact span per occurrence; a repeated 9-token run produces two
    overlapping marked windows that must merge into ONE maximal span;
    non-adjacent repeats within a doc stay separate spans."""
    from credit_card_etl_pipeline_spark.dataops.dedup import duplicate_spans

    run8 = "a b c d e f g h"
    run9 = "m1 m2 m3 m4 m5 m6 m7 m8 m9"
    docs = [
        (1, "p1 p2 " + run8 + " q1 q2"),  # run8 at pos 3..10
        (2, "r1 r2 r3 r4 " + run8),       # run8 at pos 5..12
        (3, run8 + " gap " + run8),       # self-repeat: pos 1..8, 10..17
        (4, run9),                        # overlapping windows merge
        (5, "z " + run9),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicate_spans(df, k=8).collect()
    }
    assert out == {
        (1, 3, 10, 8),
        (2, 5, 12, 8),
        (3, 1, 8, 8),
        (3, 10, 17, 8),
        (4, 1, 9, 9),
        (5, 2, 10, 9),
    }


def test_dedup_exact_survivors(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["Hello  World", "hello world", "unique doc", "HELLO WORLD"],
        }
    )
    out = dedup_exact(spark.createDataFrame(pdf))
    # normalization folds case+whitespace → docs 1,2,4 are one group
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


def test_iter_sampled_frames_matches_dataframe_operator(spark):
    """The extracted per-payload helper must emit exactly the rows the
    sample_frames DataFrame operator emits, for both the fake path and
    a real APNG payload (it IS the operator's decode path — the fused
    queries rely on that equivalence)."""
    from credit_card_etl_pipeline_spark.dataops import multimodal as mm
    from credit_card_etl_pipeline_spark.dataops import png

    frames = [bytes((f * 29 + i * 5) % 256 for i in range(64)) for f in range(6)]
    apng_payload = png.encode_apng(8, 8, 1, frames)
    fake_payload = bytes(range(128))
    for payload, fake in ((apng_payload, False), (fake_payload, True)):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [7], "payload": [payload]})
        )
        via_op = sorted(
            (r["frame_no"], bytes(r["frame"]))
            for r in mm.sample_frames(df, every=4, fake=fake).collect()
        )
        via_helper = sorted(
            (fno, bytes(fr))
            for fno, fr in mm.iter_sampled_frames(
                payload, every=4, fake=fake
            )
        )
        assert via_op == via_helper
        assert via_helper  # non-vacuous: at least one sampled frame


def test_substring_containment_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "quick brown fox"),          # token-aligned substring of 1
            (3, "Quick  Brown   FOX"),       # same after normalization
            (4, "own fox jumps"),            # char-substring but NOT token-aligned
            (5, "ick brown fox"),            # NOT token-aligned ('ick' != 'quick')
            (6, "lazy cat"),                 # <3 tokens: out of scope
            (7, "totally unrelated words here"),
        ],
        "doc_id long, text string",
    )
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        substring_containment,
    )
    pairs = {
        (r["contained_id"], r["container_id"])
        for r in substring_containment(docs).collect()
    }
    # 2 and 3 normalize identically -> contained in 1 and in each other
    assert pairs == {(2, 1), (3, 1), (2, 3), (3, 2)}


def test_substring_containment_anchor_cap(spark):
    # Anchor 'a b c' occurs in every doc; cap 2 drops it corpus-wide.
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c"),
            (3, "x a b c d y"),
        ],
        "doc_id long, text string",
    )
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        substring_containment,
    )
    uncapped = {
        (r["contained_id"], r["container_id"])
        for r in substring_containment(docs, max_anchor_bucket=None).collect()
    }
    assert uncapped == {(1, 3), (2, 1), (2, 3)}
    capped = substring_containment(docs, max_anchor_bucket=2).collect()
    assert capped == []


def test_substring_containment_hot_last_shingle_survives_cap(spark):
    # r11 optimization guard: the last-shingle candidate gate must
    # probe the UNCAPPED shingle table.  Contained doc 1's FIRST
    # trigram 'u1 u2 u3' is unique (anchor survives cap=2) but its
    # LAST trigram 'h1 h2 h3' appears in 4 docs (over the cap) — a
    # gate that consulted the capped table would lose the true pair.
    docs = spark.createDataFrame(
        [
            (1, "u1 u2 u3 h1 h2 h3"),
            (2, "pre u1 u2 u3 h1 h2 h3 post"),   # contains 1
            (3, "other words then h1 h2 h3"),    # hot-tail filler
            (4, "more filler ending h1 h2 h3"),  # hot-tail filler
        ],
        "doc_id long, text string",
    )
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        substring_containment,
    )
    pairs = {
        (r["contained_id"], r["container_id"])
        for r in substring_containment(docs, max_anchor_bucket=2).collect()
    }
    assert (1, 2) in pairs


def test_lsh_probe_pairs_asymmetric_and_capped(spark):
    from credit_card_etl_pipeline_spark.dataops.dedup import (
        exploded_shingles,
        lsh_probe_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),   # dup of 1
            (3, "one two three four five six"),
            (101, "alpha beta gamma delta epsilon"), # new: dup of 1/2
            (102, "totally different text entirely here"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(exploded_shingles(docs))
    new = sigs.where("doc_id >= 100")
    old = sigs.where("doc_id < 100")
    pairs = {
        (r["new_id"], r["corpus_id"])
        for r in lsh_probe_pairs(new, old, max_bucket_size=None).collect()
    }
    # asymmetric: only new x corpus, never corpus x corpus or new x new
    assert pairs == {(101, 1), (101, 2)}
    # corpus-side cap: bucket holding docs 1 and 2 overflows at cap 1
    capped = lsh_probe_pairs(new, old, max_bucket_size=1).collect()
    assert capped == []


def test_pack_bits64_matches_python_popcount(spark):
    # Known bit patterns, including bit 63 (the LONG_MIN special case):
    # quantized value > 0 sets the bit.
    pats = [
        [1 if (p >> i) & 1 else -1 for i in range(64)]
        for p in [0, 1, (1 << 63), (1 << 63) | 5, (1 << 64) - 1, 0xDEADBEEF]
    ]
    df = spark.createDataFrame(
        [(i, [v * 7 for v in pat]) for i, pat in enumerate(pats)],
        "vec_id long, qvec array<long>",
    )
    rows = df.select(
        "vec_id",
        sim.pack_bits64(sim.sign_bits(F.col("qvec"))).alias("w"),
    ).collect()
    got = {r.vec_id: r.w for r in rows}
    for i, pat in enumerate(pats):
        expected = sum(1 << j for j, b in enumerate(pat) if b > 0)
        if expected >= 1 << 63:  # two's complement
            expected -= 1 << 64
        assert got[i] == expected, i


def test_ann_hamming_topk_prefers_sign_matches(spark):
    # query q; candidate c1 flips 1 sign, c2 flips 20 — coarse Hamming
    # must rank c1 first and the exact rescoring keep it.
    base = [100 + 10 * i for i in range(64)]
    c1 = list(base); c1[0] = -c1[0]
    c2 = list(base)
    for i in range(20):
        c2[i] = -c2[i]
    df = spark.createDataFrame(
        [(0, [float(x) / 1000 for x in base]),
         (1, [float(x) / 1000 for x in c1]),
         (2, [float(x) / 1000 for x in c2])],
        "vec_id long, embedding array<double>",
    )
    vecs = df.select(
        "vec_id", sim.quantize(F.col("embedding")).alias("qvec")
    )
    out = sim.ann_hamming_topk(
        vecs, vecs.where(F.col("vec_id") == 0), k=2, m=2
    ).collect()
    by_rank = {r.rank: r for r in out}
    assert by_rank[1].cand_id == 1 and by_rank[1].hamming == 1
    assert by_rank[2].cand_id == 2 and by_rank[2].hamming == 20
    assert by_rank[1].cosine > by_rank[2].cosine


def test_centroid_outlier_flags_planted_outlier(spark):
    # label 0: nine identical vectors + one far outlier; label 1: all
    # identical (no outliers — d2 = 0 for every member).
    rows = [(i, 0, [0, 0, 0, 0]) for i in range(9)]
    rows.append((9, 0, [1000, 1000, 1000, 1000]))
    rows += [(10 + i, 1, [500, -500, 0, 250]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, label int, qvec array<long>")
    out = {r.vec_id: r for r in sim.centroid_outlier_verdicts(df).collect()}
    assert out[9].is_outlier is True
    assert all(not out[i].is_outlier for i in range(9))
    assert all(not out[10 + i].is_outlier for i in range(4))
    # centroid of label 0 = 100 per dim (truncating mean)
    assert out[0].d2 == 4 * 100 * 100
    assert out[9].d2 == 4 * 900 * 900
    assert out[9].n_members == 10


def test_leakage_safe_split_coassigns_planted_duplicates(spark, sf_dir):
    from credit_card_etl_pipeline_spark import queries as q

    split = q.QUERIES["documents_leakage_safe_split"](spark, sf_dir)
    dup = split.where(F.col("doc_id") >= 1_000_000).select(
        (F.col("doc_id") - 1_000_000).alias("doc_id"),
        F.col("split").alias("dup_split"),
    )
    joined = split.join(dup, "doc_id")
    n = joined.count()
    assert n > 0
    leaked = joined.where(F.col("split") != F.col("dup_split")).count()
    assert leaked == 0


def test_dhash64_known_pattern_and_perturbation():
    from credit_card_etl_pipeline_spark.dataops.multimodal import dhash64
    from credit_card_etl_pipeline_spark.dataops import png as pngc
    from credit_card_etl_pipeline_spark.dataops.multimodal import (
        decode_image_gray,
    )

    # strict left-to-right gradient: every m[r][c] < m[r][c+1] → all
    # bits 0 → word 0, all bands 0
    inc = bytes(min(255, (i % 18) * 14) for i in range(288))
    word, bands = dhash64(18, 16, inc)
    assert word == 0 and bands == [0, 0, 0, 0]

    # reversed gradient → every bit 1 → word = -1 (all 64 bits set)
    dec = bytes(min(255, (17 - i % 18) * 14) for i in range(288))
    word2, bands2 = dhash64(18, 16, dec)
    assert word2 == -1 and bands2 == [0xFFFF] * 4

    # round-trip through the real PNG codec preserves the hash
    enc = pngc.encode_png(18, 16, 1, dec)
    w, h, gray = decode_image_gray(enc)
    assert dhash64(w, h, gray) == (word2, bands2)

    # a single-pixel bump flips at most 2 gradient bits
    bumped = bytearray(dec)
    bumped[40] = (bumped[40] + 64) % 256
    word3, _ = dhash64(18, 16, bytes(bumped))
    assert bin((word3 ^ word2) & ((1 << 64) - 1)).count("1") <= 2

    # dimension contract is enforced
    with pytest.raises(ValueError):
        dhash64(16, 16, bytes(256))


def test_reliable_checkpoint_conf_gate(spark, session_ckpt_dir):
    """spark.graft.reliableCheckpoint=true switches the distributed
    propagation loop's round checkpoints to checkpoint-dir storage
    (executor-loss safe; SIGKILL-certified by an executor-kill soak
    whose tool lives in git history).
    Uses the SESSION-scoped checkpoint dir (conftest) so this test
    neither depends on nor perturbs checkpoint state for the rest of
    the run; the missing-dir refusal is covered order-independently by
    test_reliable_checkpoint_requires_dir_fresh_session."""
    import os

    from credit_card_etl_pipeline_spark.dataops import dedup

    vertices = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    )
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    want = {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}
    spark.conf.set(dedup.RELIABLE_CKPT_CONF, "true")
    try:
        out = {
            r["doc_id"]: r["component"]
            for r in dedup.connected_components(
                vertices, edges, driver_edge_cap=None
            ).collect()
        }
        assert out == want
        # reliable checkpoints actually landed on disk
        assert any(files for _, _, files in os.walk(session_ckpt_dir))
    finally:
        spark.conf.set(dedup.RELIABLE_CKPT_CONF, "false")


def test_reliable_checkpoint_requires_dir_fresh_session():
    """The missing-checkpoint-dir refusal, asserted UNCONDITIONALLY in
    a fresh subprocess SparkSession (the shared test session has a
    checkpoint dir pinned by conftest, so the raise branch can never
    execute there — previously this made the assertion order-
    dependent)."""
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        """
        import pytest
        from credit_card_etl_pipeline_spark.dataops import dedup
        from credit_card_etl_pipeline_spark.session import get_spark

        spark = get_spark(
            app_name="ckpt_gate", master="local[1]", shuffle_partitions=1
        )
        assert spark.sparkContext.getCheckpointDir() is None
        spark.conf.set(dedup.RELIABLE_CKPT_CONF, "true")
        vertices = spark.createDataFrame([(0,), (1,)], "doc_id long")
        edges = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
        try:
            dedup.connected_components(vertices, edges, driver_edge_cap=None)
        except RuntimeError as e:
            assert "checkpoint" in str(e), e
            print("RAISED_OK")
        else:
            raise SystemExit("reliable path ran without a checkpoint dir")
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RAISED_OK" in proc.stdout


def test_distribution_matched_sample(spark):
    from credit_card_etl_pipeline_spark.dataops.curate import (
        distribution_matched_sample,
    )

    # bucket 0: 900 rows (hot), bucket 1: 90, bucket 2: 10 (rare)
    rows = (
        [(i, 0) for i in range(900)]
        + [(i + 1000, 1) for i in range(90)]
        + [(i + 2000, 2) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, bucket long")
    out = {
        r["bucket"]: r.asDict()
        for r in distribution_matched_sample(
            df, bucket_col="bucket", id_col="doc_id"
        ).collect()
    }
    # uniform target share = 1000/3 per bucket
    assert out[0]["threshold_ppm"] == (1000 * 1_000_000) // (3 * 900)
    assert out[1]["threshold_ppm"] == 1_000_000  # under-represented: keep all
    assert out[2]["threshold_ppm"] == 1_000_000
    assert out[1]["n_sampled"] == 90 and out[2]["n_sampled"] == 10
    # hot bucket downsampled to ~the uniform share (md5 is uniform-ish)
    assert 200 <= out[0]["n_sampled"] <= 500
    # determinism: same call, same rows
    again = {
        r["bucket"]: r["n_sampled"]
        for r in distribution_matched_sample(
            df, bucket_col="bucket", id_col="doc_id"
        ).collect()
    }
    assert again == {b: d["n_sampled"] for b, d in out.items()}

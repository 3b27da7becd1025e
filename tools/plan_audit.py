"""Whole-registry physical-plan audit.

Runs every registered query at a small scale factor, captures the
formatted physical plan of the returned DataFrame, and machine-checks
the scale-critical anti-patterns the per-query tests in
``tests/test_plans.py`` pin only for a sample:

* ``CartesianProduct``            -> violation (O(n*m) blowup at scale)
* ``BatchEvalPython``             -> violation (row-at-a-time Python UDF;
                                     the repo's contract is Arrow-batched
                                     crossings only)
* ``BroadcastNestedLoopJoin``     -> violation unless the query is in the
                                     explicit allowlist below (legit only
                                     for literal/1-row side non-equi joins)

and records informational counts per query (SortMergeJoin, Exchange,
ArrowEvalPython, FlatMapGroupsInPandas/mapInPandas, WholeStageCodegen
spans) so round-over-round plan drift is diffable.

Caveat: queries that materialize (warehouse writes, sink round-trips)
return a read-back DataFrame, so the audited plan is the read-back
side; their write-path plans are pinned individually in
tests/test_plans.py.  The audit still catches regressions in the final
(returned) plan of every registered query, which no per-query test
suite covers exhaustively.

Usage:  python tools/plan_audit.py [--sf /root/testdata/sf0.001]
Writes PLAN_AUDIT.json at the repo root; exits 1 on any violation.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Queries where a BroadcastNestedLoopJoin is the INTENDED physical
#: shape: a broadcast side that is provably tiny-by-construction
#: (single-row scalar frames, literal calendars / percentile grids),
#: joined on a non-equi or cross condition.  Each entry names the tiny
#: side so the allowlist is auditable.
BNLJ_ALLOWED: dict[str, str] = {
    # Derived analysis date: the 1-row max(date) aggregate rides a
    # broadcast cross join into the RFM plan (operators/rfm
    # ._analysis_date) instead of a driver round-trip.
    "rfm_customer_dual_window": "1-row max-date analysis anchor",
    "rfm_payment_method": "1-row max-date analysis anchor",
    "rfm_merchant_full": "1-row max-date analysis anchor",
    "rfm_card_portfolio": "1-row max-date analysis anchor",
    # ANN probes: the explicitly-broadcast query-vector frame (n_queries
    # rows, ≪ corpus) joined to candidates on a NON-EQUI condition
    # (cand_id != query_id) — similarity.cosine_topk, ann_hamming_topk.
    "ann_cosine_topk": "broadcast query-vector frame (sampled probes)",
    "ann_binary_hamming": "broadcast query-signature frame",
    "ann_recall_at_5": "broadcast probe frame (exact vs approx compare)",
    "ann_hamming_recall_at_5": "broadcast probe frame",
    "ann_hard_negatives": "broadcast anchor frame (non-equi label filter)",
    "ann_rrf_fusion": "broadcast anchor frames (both fused rankings)",
    # Corpus statistics: 1-row fitted model totals, F.broadcast'ed
    # (curate.dsir_weights).
    "curation_pipeline_v4": "1-row DSIR totals (gate stage)",
    # Distribution-matched sampling: the 1-row (n_total, n_buckets)
    # aggregate cross-joined onto the ≤11-row bucket histogram
    # (curate.distribution_matched_sample — F.broadcast'ed).
    "documents_length_matched_sample": "1-row corpus totals onto bucket histogram",
}

VIOLATION_NODES = ("CartesianProduct", "BatchEvalPython")
COUNT_NODES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "Exchange",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
)


def formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def audit_one(name: str, fn, spark, sf_dir: str) -> dict:
    t0 = time.time()
    df = fn(spark, sf_dir)
    plan = formatted_plan(df)
    counts = {n: len(re.findall(rf"\b{n}\b", plan)) for n in COUNT_NODES}
    # formatted mode annotates codegen membership as "[codegen id : N]";
    # distinct ids = whole-stage spans.
    counts["WholeStageCodegenSpans"] = len(
        set(re.findall(r"codegen id : (\d+)", plan))
    )
    violations = [n for n in VIOLATION_NODES if re.search(rf"\b{n}\b", plan)]
    if counts["BroadcastNestedLoopJoin"] and name not in BNLJ_ALLOWED:
        violations.append("BroadcastNestedLoopJoin")
    return {
        "counts": {k: v for k, v in counts.items() if v},
        "violations": violations,
        "plan_sec": round(time.time() - t0, 2),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()

    from credit_card_etl_pipeline_spark.session import get_spark
    from credit_card_etl_pipeline_spark import queries as q

    spark = get_spark(app_name="plan_audit")
    results: dict[str, dict] = {}
    names = list(q.QUERIES)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    for name in names:
        try:
            results[name] = audit_one(name, q.QUERIES[name], spark, args.sf)
        except Exception as exc:  # noqa: BLE001 - audit must finish the sweep
            results[name] = {"error": repr(exc)[:300], "violations": ["ERROR"]}
        v = results[name]["violations"]
        print(f"PLANAUDIT {name}: {'VIOLATION ' + ','.join(v) if v else 'ok'}",
              flush=True)

    bad = {n: r for n, r in results.items() if r.get("violations")}
    # r12 BNLJ audit (guide §3 scale risk): every BroadcastNestedLoopJoin
    # in the registry must name its broadcast side and that side must be
    # bounded-by-construction (1-row scalar aggregates, literal grids,
    # sampled probe frames) — never corpus-growing.  The per-query
    # justification lives in BNLJ_ALLOWED; surface it here so the audit
    # artifact itself certifies zero unjustified nodes.
    bnlj_justified = {
        n: {
            "nodes": r["counts"]["BroadcastNestedLoopJoin"],
            "tiny_side": BNLJ_ALLOWED.get(n),
        }
        for n, r in results.items()
        if r.get("counts", {}).get("BroadcastNestedLoopJoin")
    }
    bnlj_unjustified = sorted(
        n for n, e in bnlj_justified.items() if e["tiny_side"] is None
    )
    summary = {
        "n_queries": len(results),
        "n_violations": len(bad),
        "violating": {n: r["violations"] for n, r in bad.items()},
        "bnlj_justified": bnlj_justified,
        "bnlj_unjustified": bnlj_unjustified,
        "totals": {
            k: sum(r.get("counts", {}).get(k, 0) for r in results.values())
            for k in (*COUNT_NODES, "WholeStageCodegenSpans")
        },
        "sf": args.sf,
        "queries": results,
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_AUDIT.json",
    )
    if not args.only:
        with open(out, "w") as fh:
            json.dump(summary, fh, indent=1)
        print(f"wrote {out}")
    print(json.dumps({k: summary[k] for k in
                      ("n_queries", "n_violations", "violating", "totals")}))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

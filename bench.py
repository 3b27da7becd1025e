#!/usr/bin/env python
"""Benchmark harness: runs every registered query at the bench scale
factor and prints ONE parseable JSON line:

    {"metric": "total_query_seconds", "value": <total>, "unit": "sec",
     "queries": {"<name>": <sec>, ...}, "sf": <sf>, ...}

Timing = full plan execution into a no-op sink (``format("noop")``), so
scan + shuffle + expression costs are measured without driver collect
overhead.

Output contract (the driver records only the LAST 2000 chars of stdout,
so a single 4.5 KB line with all 120 per-query timings can never survive
intact — round 4 recorded ``parsed: null`` for exactly that reason):

* one short ``BENCHQ {"q": name, "sec": s}`` line per query as it runs,
* the COMPLETE result JSON (all per-query timings) written to
  ``BENCH_FULL.json`` next to this script,
* a compact final stdout JSON line (< 2000 chars, guaranteed intact in
  the tail) carrying metric/value/sf/env plus the slowest-10 queries and
  a ``queries_full`` pointer to the file.

    SPARK_GRAFT_SF_DIR  corpus dir   (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS    local cores  (default 32)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


#: Idle-host wall seconds for one _canary_seconds() pass (best-of-3),
#: measured 2026-08-16 on the 32-core driver box (pin again if the
#: hardware or Spark version changes).  The canary is
#: corpus-independent, so canary_wall / THIS = pure ambient
#: machine-state ratio: a bench swing from a page-cache-evicting spill
#: dir or concurrent Spark jobs shows up here at capture time.
CANARY_IDLE_BASELINE_S = 1.9

#: Above this canary ratio the record carries an informational
#: ``canary_warning``; nothing in the repo acts on it.
CANARY_WARN_RATIO = 1.15


def _canary_seconds(spark) -> float:
    """One pass of the fixed ambient-load canary: three deterministic
    JVM-only workloads (whole-stage-codegen arithmetic aggregate, a
    hash-shuffle groupBy, a range-partitioned sort) over spark.range —
    no corpus I/O, no Python, no caches — so its wall time moves ONLY
    with machine state, never with engine or data changes."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 50_000_000, 1, 32).select(
        F.sum((F.col("id") * 2654435761) % 1000003).alias("s")
    ).write.mode("overwrite").format("noop").save()
    spark.range(0, 20_000_000, 1, 32).groupBy(
        (F.col("id") % 100000).alias("k")
    ).agg(F.count(F.lit(1)).alias("c")).select(
        F.sum("c").alias("n"), F.max("k").alias("mk")
    ).write.mode("overwrite").format("noop").save()
    spark.range(0, 10_000_000, 1, 32).orderBy(
        F.hash("id")
    ).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def _canary_best_of(spark, n: int = 3) -> float:
    return round(min(_canary_seconds(spark) for _ in range(n)), 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Snapshot BEFORE Spark starts: external host load, not our own.
    loadavg_start = [round(x, 2) for x in os.getloadavg()]

    import __spark_entry__ as entrymod
    from credit_card_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")
    queries = entrymod.queries()
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:  # comma-separated allowlist for local iteration
        keep = {s.strip() for s in only.split(",") if s.strip()}
        queries = {k: v for k, v in queries.items() if k in keep}

    # Warm the JVM/codegen paths once so per-query numbers measure the
    # plan, not first-run initialization.
    warm = next(iter(queries.values()))
    warm(spark, sf_dir).write.mode("overwrite").format("noop").save()

    # Ambient-load canary, PRE-sweep (post-sweep twin below): fixed
    # JVM-only work whose idle-host cost is pinned, so
    # canary/baseline > 1 quantifies ambient contamination (page-cache
    # eviction, competing jobs) machine-checkably at capture time.
    _canary_seconds(spark)  # warm the canary's own codegen once
    canary_pre = _canary_best_of(spark)
    print(f'BENCHQ {{"q": "__canary_pre", "sec": {canary_pre}}}', flush=True)

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name, fn in queries.items():
        best = None
        for _ in range(repeats):
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                elapsed = time.perf_counter() - t0
                best = elapsed if best is None else min(best, elapsed)
            except Exception as e:  # keep benching the rest
                failures[name] = f"{type(e).__name__}: {e}"
                break
            finally:
                spark.catalog.clearCache()
        if best is not None:
            # best-of-N damps host-load noise (~1.5× wall variance on
            # a loaded host for identical code)
            timings[name] = round(best, 3)
            print(f'BENCHQ {{"q": "{name}", "sec": {timings[name]}}}', flush=True)
        else:
            print(f'BENCHQ {{"q": "{name}", "err": true}}', flush=True)

    canary_post = _canary_best_of(spark)
    print(
        f'BENCHQ {{"q": "__canary_post", "sec": {canary_post}}}', flush=True
    )
    canary_ratio = round(
        max(canary_pre, canary_post) / CANARY_IDLE_BASELINE_S, 3
    )

    import pyspark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    result = {
        "metric": "total_query_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "cpus": cpus,
        # environment canary: engine version and host load, recorded
        # in the bench of record itself
        "env": {
            "pyspark": pyspark.__version__,
            # host-load canary: ~1.5x wall variance on a loaded host;
            # loadavg records that load for the reader of the record.  `loadavg`
            # is sampled before Spark starts (external load only);
            # `loadavg_end` includes our own 32-core run.
            "loadavg": loadavg_start,
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        },
        # pre/post fixed canary: corpus-independent JVM-only work timed
        # before and after the sweep.  ratio_vs_idle compares the WORSE
        # of the two against the pinned idle-host baseline; pre/post
        # disagreement localizes contamination that arrived mid-sweep.
        # Informational: above CANARY_WARN_RATIO the record carries a
        # canary_warning, which no tool in the repo reads.
        "canary": {
            "pre_s": canary_pre,
            "post_s": canary_post,
            "idle_baseline_s": CANARY_IDLE_BASELINE_S,
            "ratio_vs_idle": canary_ratio,
            "warn_ratio": CANARY_WARN_RATIO,
        },
    }
    if canary_ratio > CANARY_WARN_RATIO:
        result["canary_warning"] = (
            f"ambient canary ratio {canary_ratio} > {CANARY_WARN_RATIO} "
            f"(pre {canary_pre}s / post {canary_post}s vs idle baseline "
            f"{CANARY_IDLE_BASELINE_S}s): machine state is inflating "
            "timings - not a bench of record"
        )
    # A bench started on a busy host reads slow across the board (a
    # run started at loadavg 14.5 read ~15% slow).  The informational
    # loaded_host_warning says so; no tool in the repo reads it.
    if loadavg_start[0] > cpus / 4:
        result["loaded_host_warning"] = (
            f"loadavg {loadavg_start[0]} > cpus/4 ({cpus / 4:.0f}) at "
            "start; timings inflated by external load - not a bench of "
            "record"
        )
    if failures:
        result["failures"] = failures
        result["n_failed"] = len(failures)

    # Complete record (all per-query timings) -> file; the driver's
    # 2000-char stdout tail cannot hold it as one line.  A subset run
    # (SPARK_GRAFT_BENCH_ONLY, local iteration) must not clobber the
    # committed full record — route it to a scratch file instead.
    full_name = "BENCH_FULL.json" if not only else "BENCH_SUBSET.json"
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), full_name
    )
    with open(full_path, "w") as fh:
        json.dump(result, fh, ensure_ascii=False)
        fh.write("\n")

    # Compact final line, guaranteed < 2000 chars so it survives intact
    # in the driver tail: slowest-10 queries inline, rest in the file
    # and in the BENCHQ lines above.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    compact = dict(result)
    compact["queries"] = slowest
    compact["queries_full"] = full_name
    if failures:
        # keep the final line bounded even if many queries break
        names = sorted(failures)
        compact["failures"] = {n: failures[n][:80] for n in names[:5]}
        if len(names) > 5:
            compact["failures_truncated"] = len(names) - 5
    print(json.dumps(compact, ensure_ascii=False), flush=True)
    # rc contract: 0 = all queries timed, 2 = partial failure (perf
    # record still parseable -- see `failures`), 1 = nothing ran.
    if not timings:
        return 1
    return 2 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Runtime shuffle/spill audit: MEASURED bytes moved per query.

The plan audit (tools/plan_audit.py) checks node TYPES; this tool
checks the thing that actually costs money at 100 TB — how many bytes
each query shuffles, spills, and reads.  It runs every
registered query into a noop sink with the Spark event log enabled,
tags each query's jobs via ``setJobGroup``, then parses the event log
and attributes per-task metrics (shuffle read/write bytes, memory/disk
spill, input bytes) to the owning query.

This turns docstring claims like "map-only", "one shuffle on the fact",
and "signature shuffle moves 8 longs per doc" into recorded numbers:
a map-only operator must show shuffle_write == 0; a bounded-aggregate
op must show shuffle bytes ≪ input bytes.

``input_bytes`` is informational only: the vectorized parquet reader's
bytes-read accounting under-counts some AQE-reused and broadcast-built
scan stages, so cross-query input comparisons should use the table
sizes on disk.  The shuffle/spill numbers are the load-bearing ones
(task-level counters, attribution verified: the ``_unattributed``
bucket is empty on a full sweep).

Usage:  python tools/shuffle_audit.py [--sf DIR] [--only a,b,c]
Writes SHUFFLE_AUDIT.json at the repo root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

METRIC_KEYS = {
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_read_bytes": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_read_local_bytes": ("Shuffle Read Metrics", "Local Bytes Read"),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
}
TOP_KEYS = {
    "memory_spill_bytes": "Memory Bytes Spilled",
    "disk_spill_bytes": "Disk Bytes Spilled",
}


def parse_event_log(
    path: str, task_durations: dict[str, list[int]] | None = None
) -> dict[str, dict[str, int]]:
    """event log -> {query_name: summed task metrics}.

    ``task_durations``, when given, additionally collects every task's
    wall duration (ms) per query — the raw series behind the
    max/median straggler ratio (a hot key that funnels one reduce task
    shows up as max >> median long before it shows up in wall time)."""
    stage_to_group: dict[int, str] = {}
    totals: dict[str, dict[str, int]] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", "_unattributed"
                )
                for si in ev.get("Stage Infos", []):
                    # reused stages keep their first attribution
                    stage_to_group.setdefault(si["Stage ID"], group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_to_group.get(ev.get("Stage ID"), "_unattributed")
                tm = ev.get("Task Metrics") or {}
                acc = totals.setdefault(group, {})
                for out, (sub, key) in METRIC_KEYS.items():
                    v = (tm.get(sub) or {}).get(key, 0)
                    acc[out] = acc.get(out, 0) + int(v or 0)
                for out, key in TOP_KEYS.items():
                    acc[out] = acc.get(out, 0) + int(tm.get(key, 0) or 0)
                if task_durations is not None:
                    ti = ev.get("Task Info") or {}
                    dur = int(ti.get("Finish Time", 0) or 0) - int(
                        ti.get("Launch Time", 0) or 0
                    )
                    if dur >= 0:
                        task_durations.setdefault(group, []).append(dur)
    # fold local+remote shuffle read into one number (local[k] reads are
    # all "local"; on a cluster the split matters, here the sum does)
    for acc in totals.values():
        acc["shuffle_read_bytes"] = acc.get("shuffle_read_bytes", 0) + acc.pop(
            "shuffle_read_local_bytes", 0
        )
    return totals


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--out",
        default=None,
        help="output JSON path (default SHUFFLE_AUDIT.json at repo "
        "root); lets per-sf audits coexist",
    )
    ap.add_argument(
        "--exclude",
        default=None,
        help="comma-separated name=reason pairs to skip AND record "
        "in-file as excluded_other, so a scale audit's query set ∪ "
        "exclusions still equals the registry (VERDICT r10 ask #4 — "
        "SHUFFLE_AUDIT_SF1.json shipped 197 queries with the "
        "exclusion list living only in a commit message)",
    )
    args = ap.parse_args()
    excluded_other: dict[str, str] = {}
    for pair in (args.exclude or "").split(","):
        if pair.strip():
            n, _, why = pair.partition("=")
            excluded_other[n.strip()] = why.strip() or "excluded"

    log_dir = tempfile.mkdtemp(prefix="sg_eventlog_")
    # Disable queries.load's single-row-group spread guard: with it on,
    # every query carries one input-sized round-robin shuffle that is a
    # LOCAL-corpus parallelism fix, not algorithmic movement.  Guard
    # off, a map-only operator reads literal zero shuffle bytes.
    os.environ["SPARK_GRAFT_NO_SCAN_SPREAD"] = "1"
    from credit_card_etl_pipeline_spark.session import get_spark
    from credit_card_etl_pipeline_spark import queries as q

    spark = get_spark(
        app_name="shuffle_audit",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            # plain-text single-file log so the parser can stream it
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext

    names = list(q.QUERIES)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    names = [n for n in names if n not in excluded_other]

    t_sweep0 = time.time()
    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    master_used = sc.master

    errors: dict[str, str] = {}
    wall: dict[str, float] = {}
    for name in names:
        sc.setJobGroup(name, name, interruptOnCancel=False)
        t0 = time.time()
        try:
            q.QUERIES[name](spark, args.sf).write.mode("overwrite").format(
                "noop"
            ).save()
            wall[name] = round(time.time() - t0, 2)
        except Exception as exc:  # noqa: BLE001 - sweep must finish
            errors[name] = repr(exc)[:200]
        finally:
            # pyspark 4 dropped SparkContext.clearJobGroup; resetting the
            # local property is the documented equivalent
            sc.setLocalProperty("spark.jobGroup.id", None)
        print(f"SHUFAUDIT ran {name}", flush=True)
    spark.stop()  # flushes the event log

    # Spark 4 writes a rolling event-log DIRECTORY (eventlog_v2_*)
    # containing events_* files; flatten to the actual log files.
    logs = []
    for p in glob.glob(os.path.join(log_dir, "*")):
        if os.path.isdir(p):
            logs.extend(
                f
                for f in glob.glob(os.path.join(p, "*"))
                if os.path.basename(f).startswith("events")
            )
        else:
            logs.append(p)
    per_group: dict[str, dict[str, int]] = {}
    durations: dict[str, list[int]] = {}
    for p in logs:
        for g, acc in parse_event_log(p, task_durations=durations).items():
            tgt = per_group.setdefault(g, {})
            for k, v in acc.items():
                tgt[k] = tgt.get(k, 0) + v
    shutil.rmtree(log_dir, ignore_errors=True)

    def straggler(g: str) -> dict:
        ds = sorted(durations.get(g, []))
        if not ds:
            return {}
        med = ds[len(ds) // 2]
        return {
            "n_tasks": len(ds),
            "max_task_ms": ds[-1],
            "median_task_ms": med,
            # the straggler signal: a hot key funneled into one reduce
            # task reads max >> median (floor the median at 50ms so
            # micro-task queries don't produce absurd ratios)
            "task_skew_ratio": round(ds[-1] / max(med, 50), 1),
        }

    queries_out = {
        n: {**per_group.get(n, {}), **straggler(n), "wall_sec": wall.get(n)}
        for n in names
        if n not in errors
    }
    zero_shuffle = sorted(
        n
        for n, m in queries_out.items()
        if m.get("shuffle_write_bytes", 0) == 0
        and m.get("shuffle_read_bytes", 0) == 0
    )
    import platform

    import pyspark

    summary = {
        # provenance header (VERDICT r10 ask #3): the certification
        # axis (master, host state, wall) must be verifiable from the
        # artifact alone; master_used is captured from the LIVE context
        # before spark.stop() below would lose it
        "__meta__": {
            "tool": "tools/shuffle_audit.py",
            "argv": sys.argv[1:],
            "master": master_used,
            "sf": args.sf,
            "loadavg": loadavg_start,
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "wall_s": round(time.time() - t_sweep0, 1),
            "generated_utc": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "env_master": os.environ.get("SPARK_GRAFT_MASTER"),
        },
        "sf": args.sf,
        "n_queries": len(queries_out),
        "errors": errors,
        "excluded_other": excluded_other,
        "zero_shuffle_queries": zero_shuffle,
        "totals": {
            k: sum(m.get(k, 0) for m in queries_out.values())
            for k in (
                "shuffle_write_bytes",
                "shuffle_read_bytes",
                "memory_spill_bytes",
                "disk_spill_bytes",
                "input_bytes",
            )
        },
        "unattributed": per_group.get("_unattributed", {}),
        "queries": queries_out,
    }
    out = args.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SHUFFLE_AUDIT.json",
    )
    if not args.only:
        with open(out, "w") as fh:
            json.dump(summary, fh, indent=1)
        print(f"wrote {out}")
    keys = ["n_queries", "errors", "zero_shuffle_queries", "totals"]
    if args.only:  # local iteration: show the per-query detail too
        keys.append("queries")
    print(json.dumps({k: summary[k] for k in keys}))
    return 0 if not errors else 1


if __name__ == "__main__":
    raise SystemExit(main())

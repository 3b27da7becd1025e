#!/usr/bin/env python
"""Hostile-session sweep: run EVERY registered query in a session with
adversarial defaults (ANSI on, non-UTC timezone) — the exact failure
mode that broke round 3 (the driver calls queries() with its own
SparkSession, not the engine factory's).

    python tools/hostile_sweep.py [--sf /root/testdata/sf0.001]

Exit 0 iff every query plans and executes.  Last verified: 55/55 ok
(pyspark 4.1.2, sf0.001).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from credit_card_etl_pipeline_spark.queries import QUERIES
    from credit_card_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="hostile_sweep")
    ns = spark.newSession()
    ns.conf.set("spark.sql.ansi.enabled", "true")
    ns.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")

    failed = []
    for name, fn in QUERIES.items():
        try:
            fn(ns, args.sf).write.mode("overwrite").format("noop").save()
        except Exception as e:  # report all, not just the first
            failed.append((name, f"{type(e).__name__}: {str(e)[:160]}"))
    print(f"hostile sweep: {len(QUERIES) - len(failed)}/{len(QUERIES)} ok")
    for n, m in failed:
        print("FAILED:", n, m)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())

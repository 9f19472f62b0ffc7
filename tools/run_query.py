"""Run any contract query by name — the engine's CLI front door.

Usage:
    python tools/run_query.py <query_id> [--sf DIR] [--explain] [--oracle]
    python tools/run_query.py --list [--tag TAG]

The query runs once: one collect, then its first ``-n`` rows, its row
count, its wall time (the build and every job) and the number of Spark
jobs it started. ``--explain`` prints the plan it ran (under adaptive
execution, the final plan, ``isFinalPlan=true``). The first table load
of a process includes a schema-inference job.

Examples:
    python tools/run_query.py agg_pricing_summary --sf /root/testdata/sf0.01
    python tools/run_query.py llm_knn_ivf --explain
    python tools/run_query.py --list --tag streaming
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query", nargs="?", help="query id (see --list)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--explain", action="store_true", help="print the final physical plan")
    ap.add_argument("--oracle", action="store_true", help="print the oracle SQL")
    ap.add_argument("--list", action="store_true", dest="list_all")
    ap.add_argument("--tag", default=None, help="filter --list by tag")
    ap.add_argument("-n", type=int, default=20, help="rows to show")
    args = ap.parse_args()

    from streamline_hybrid_engine_spark.registry import all_queries

    qs = all_queries()
    if args.list_all or not args.query:
        for name in sorted(qs):
            q = qs[name]
            if args.tag and args.tag not in q.tags:
                continue
            kind = "oracle" if q.oracle else "rows-only"
            print(f"{name:45s} [{kind}] {','.join(q.tags)}")
        return 0

    if args.query not in qs:
        print(f"unknown query: {args.query} (use --list)", file=sys.stderr)
        return 2
    q = qs[args.query]
    if args.oracle:
        print(q.oracle or "(rows-only — no oracle)")
        return 0

    from streamline_hybrid_engine_spark.session import get_session

    spark = get_session(f"run:{args.query}")
    sc = spark.sparkContext
    group = f"run-{args.query}"
    sc.setJobGroup(group, group)
    t0 = time.time()
    try:
        df = q.fn(spark, args.sf)
        rows = df.collect()
    finally:
        sc._jsc.clearJobGroup()
    elapsed = time.time() - t0
    if args.explain:
        # after the collect, so adaptive execution shows its final plan
        df.explain("formatted")
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed async
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    print(" | ".join(df.columns))
    for r in rows[: args.n]:
        print(" | ".join(map(str, r)))
    print(f"[{len(rows)} rows, {elapsed:.2f}s, {n_jobs} Spark jobs, sf={args.sf}]")
    return 0


if __name__ == "__main__":
    sys.exit(main())

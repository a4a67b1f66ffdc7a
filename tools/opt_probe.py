#!/usr/bin/env python
"""Optimization probe (r12): isolate single queries per guide §1 —
noop-sink timing (computation only, no driver conversion), min/median
of N runs in ONE session, jobs labeled for the UI, and the formatted
plan dumped to plans/r12/.

Usage:
    python tools/opt_probe.py q1_pricing_summary substring_dedup_summary
    python tools/opt_probe.py --runs 5 --plans-suffix before substring_dedup_summary
    python tools/opt_probe.py --all            # every bench headliner

The bench harness (bench.py) stays the driver-contract measurement;
this probe exists so before/after comparisons of a single operator
don't ride on a 32-query sweep of a noisy shared host.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatamlteamrepo_spark import get_spark
from bigdatamlteamrepo_spark.plans.checks import formatted_plan
from bigdatamlteamrepo_spark.queries import BENCH_SET, QUERIES

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"),
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true", help="all bench headliners")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument(
        "--plans-suffix",
        default=None,
        help="dump formatted plan to plans/r12/<name>_<suffix>.txt",
    )
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="k=v",
        help="extra session conf (repeatable) for config A/B probes",
    )
    args = ap.parse_args()
    names = list(BENCH_SET) if args.all else args.names

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app_name="opt-probe-r12", extra_conf=extra or None)
    sc = spark.sparkContext

    if args.plans_suffix:
        os.makedirs(PLANS_DIR, exist_ok=True)

    results: dict[str, tuple[float, float]] = {}
    for name in names:
        fn = QUERIES[name]
        # warm-up: JIT, codegen, parquet footers
        sc.setJobDescription(f"warmup: {name}")
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        runs = []
        for i in range(args.runs):
            sc.setJobDescription(f"measure[{i}]: {name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        results[name] = (runs[0], runs[len(runs) // 2])
        print(
            f"{name:40s} min={runs[0]:6.2f}  med={runs[len(runs) // 2]:6.2f}"
            f"  all={['%.2f' % r for r in runs]}",
            flush=True,
        )
        if args.plans_suffix:
            df = fn(spark, args.sf)
            # execute so the AQE-final plan is captured, then dump THIS
            # frame's plan (the r18 sf10-harness lesson: stringify the
            # executed frame, never a fresh twin)
            df.write.format("noop").mode("overwrite").save()
            with open(
                os.path.join(PLANS_DIR, f"{name}_{args.plans_suffix}.txt"), "w"
            ) as f:
                f.write(formatted_plan(df))
    sc.setJobDescription(None)
    print("TOTAL min:", round(sum(v[0] for v in results.values()), 2))
    spark.stop()


if __name__ == "__main__":
    main()

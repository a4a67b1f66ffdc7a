#!/usr/bin/env python
"""sf10 (100× bench-SF) walls for the five heaviest headliners
(VERDICT_r11 #7): SCALING.md previously topped out at sf1/80 k docs for
these families; this closes the remaining extrapolation gap with a
measured 100×-data point (~60 M lineitem rows / 500 k docs).

The fixture reuses tools/sf1_scaling.py's distribution-matched recipe
(same closed vocabulary + Zipf weights, phrase-pool repeated-span rate,
planted exact-dup rate, fitted basket histogram) with SCALE=100 and a
fresh seed-independent dir.  Growth is reported sf1 → sf10 (a clean 10×
step between two fixtures built by the SAME generator) plus the plan's
Exchange-count delta (0 = shape is data-size-invariant).

Run: python tools/sf10_walls.py            (generate + measure)
     python tools/sf10_walls.py --gen-only
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tools.sf1_scaling as gen  # noqa: E402

SF10_DIR = "/tmp/spark-graft-sf10"

#: VERDICT_r11 #7's five heaviest headliners
NAMES = [
    "neardup_dedup_summary",
    "substring_dedup_summary",
    "doc_lm_perplexity_kn",
    "doc_tfidf_top_terms",
    "part_copurchase_communities",
]


def main() -> None:
    # build the sf1 fixture first (unchanged recipe), then retarget the
    # generator at 100×
    gen.generate()
    gen.SCALE = 100
    sf1_dir, gen.SF1_DIR = gen.SF1_DIR, SF10_DIR
    gen.generate()
    gen.SF1_DIR = sf1_dir
    if "--gen-only" in sys.argv:
        return

    from bigdatamlteamrepo_spark import get_spark
    from bigdatamlteamrepo_spark.queries.registry import QUERIES

    rows = []
    for name in NAMES:
        fn = QUERIES[name]
        rec = {"query": name}
        for label, d in (("sf1", sf1_dir), ("sf10", SF10_DIR)):
            # cold session per cell, engine conf (16g driver — the
            # NOTES_r17 OOM lesson); full collect()
            # (count() lets Catalyst prune cardinality-neutral
            # subtrees, see tools/sf1_scaling.py)
            spark = get_spark(app_name=f"sf10-{name}-{label}")
            spark.sparkContext.setLogLevel("ERROR")
            spark.range(1_000_000).selectExpr("sum(id)").collect()
            t0 = time.time()
            df = fn(spark, d)  # construction (incl. eager truncates) timed
            n = len(df.collect())
            wall = time.time() - t0
            # plan of the SAME executed frame, AFTER the action — the
            # AQE-final plan, with no second construction/execution
            # (a fresh fn() call would re-run multi-minute eager
            # checkpoint stages just to stringify a pre-AQE tree)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rec[label] = wall
            rec[f"{label}_rows"] = n
            rec[f"{label}_exchanges"] = plan.count("Exchange ")
            spark.stop()
            print(
                f"  {name} @ {label}: {wall:7.1f}s, {n} rows, "
                f"{rec[f'{label}_exchanges']} exchanges",
                flush=True,
            )
        rec["growth"] = rec["sf10"] / rec["sf1"]
        rows.append(rec)

    print("\n| query | sf1 wall | sf10 wall | growth at 10× data | Δexch |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['query']} | {r['sf1']:.1f} s | {r['sf10']:.1f} s "
            f"| {r['growth']:.1f}× | "
            f"{r['sf10_exchanges'] - r['sf1_exchanges']:+d} |"
        )


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Regenerate PLANS.md: the executed physical plan of every bench query
at sf0.1 — the evidence that each plan is the one we'd want at scale
(pushdown at the scan, broadcast dims, partial agg, codegen, no Python
UDFs in relational paths).

Run: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatamlteamrepo_spark import get_spark
from bigdatamlteamrepo_spark.plans.checks import formatted_plan
from bigdatamlteamrepo_spark.queries import BENCH_SET, QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = get_spark(app_name="plan-dump")
    out = [
        "# PLANS — executed physical plans: bench + near-dup + pipeline tiers (sf0.1)",
        "",
        "Auto-generated by `tools/dump_plans.py`; regenerate after plan-",
        "affecting changes.  Things to check per plan: `PushedFilters` at",
        "the scan, `ReadSchema` pruned to used columns, `BroadcastHashJoin`",
        "for dims, partial→final HashAggregate pairs, no BatchEvalPython.",
        "Near-dup plans additionally: every pair join is a hash equi-join",
        "on band/fingerprint/cell keys.  BroadcastNestedLoopJoin appears",
        "ONLY where a broadcast side is constant-size:",
        "knn_cosine_topk's deliberate 5-query baseline, the single-row",
        "scalar aggregates in bloom_semijoin_orders / q11 (global",
        "threshold) / the funnel's three stage counts, and the 8-row anchor",
        "tables the voronoi/IVFPQ assignments cross-join (the documented",
        "n_anchors-fold row-expansion device) — all safe at any corpus",
        "scale.",
        "",
    ]
    #: near-dup tier: dumped so the no-cartesian / banded-equi-join
    #: evidence is reviewable next to the bench plans
    NEARDUP_SET = [
        "ngram_jaccard_pairs",
        "neardup_cross_source",
        "winnowing_neardup_pairs",
        "simhash_neardup_pairs",
        "embedding_neardup_pairs",
        "embedding_neardup_lsh",
    ]
    #: round-3 training-pipeline + shard-planning tier
    PIPELINE_SET = [
        "doc_quality_filter",
        "doc_pii_scan",
        "doc_mixture_sample",
        "doc_shard_assignment",
        # skew-split pack: the data-scale cumsum window must show
        # partitionBy (source, bucket), with only the tiny bucket-totals
        # window keyed by source alone
        "doc_pack_plan_bucketed",
        "vocab_coverage_by_lang",
        "q11_important_stock",
        "q20_dominant_supplier",
    ]
    #: sketch tier: the aggregation shapes ARE the scale claim (map-side
    #: partial register/counter aggs, broadcast bitmap, no raw-value
    #: distinct shuffles)
    SKETCH_SET = [
        "hll_orders_by_flag",
        "hll_hourly_users",
        "cms_heavy_suppliers",
        "bloom_semijoin_orders",
        "pagerank_nation_trade",
    ]
    #: round-5 additions: incremental/prefix dedup (band + prefix-token
    #: equi-joins, no cartesian), corpus-dup profile (df agg + join-back),
    #: PQ (broadcast codebook joins, windowed argmin encode), funnel
    #: (user_id-keyed conditional-min chain)
    R5_SET = [
        "neardup_incremental_lsh",
        "neardup_pairs_prefix_filter",
        "doc_shared_shingle_stats",
        "per_source_doc_caps",
        "ann_pq_adc_topk",
        "ann_ivfpq_topk",
        "events_funnel_view_click_purchase",
        "events_retention_cohorts",
        "events_value_hist_quantiles",
    ]
    #: round-6 additions: curation/sketch/capstone tier — ANN semdedup
    #: (anchor cross-join collapsed by max_by hash-agg), quantile sketch
    #: (O(k)-row windows), b-bit estimator (signature equi-joins), and
    #: the end-to-end corpus-build accounting (one join-free rollup)
    #: round-12 addition: the interval-overlap face (binned equi-join,
    #: no nested-loop)
    R12_SET = [
        "session_burst_overlap",
    ]
    R6_SET = [
        "embedding_semdedup_ann_summary",
        "events_value_quantile_sketch",
        "bbit_minhash_jaccard_pairs",
        # corpus_build_summary omitted: its registered form returns the
        # materialized per-source report (scan-only plan); each stage's
        # plan is reviewable via its component query above.
        # passage_neardup_pairs / source_overlap_matrix / source_overlap_kmv
        # are omitted for the same reason: they return checkpointed
        # frames; tests/test_curation.py::test_curation_plans_no_cartesian
        # gates the join trees under the checkpoints
        "doc_ngram_novelty",
        "diversity_sample_lsh",
    ]
    #: round-4 additions: passage dedup (hash-keyed df join-back),
    #: tfidf (term-df join + per-doc window), weighted sample
    #: (TakeOrdered), semdedup (blocked pairs -> CC), catalog ANALYZE
    R4_SET = [
        "passage_dedup_summary",
        "doc_tfidf_top_terms",
        "doc_weighted_sample",
        "embedding_semdedup_summary",
        "catalog_column_stats",
        "events_value_mad_outliers",
        "customer_rfm_segments",
    ]
    for name in BENCH_SET + NEARDUP_SET + PIPELINE_SET + SKETCH_SET + R5_SET + R4_SET + R6_SET + R12_SET:
        df = QUERIES[name](spark, SF_DIR)
        df.collect()  # finalize AQE
        plan = formatted_plan(df)
        # keep the tree + scan details; drop the verbose per-node I/O lists
        lines = []
        skipping = False
        for ln in plan.splitlines():
            if re.match(r"^\(\d+\) ", ln):
                node = ln.strip()
                skipping = not any(
                    k in node for k in ("Scan", "Join", "Exchange", "Aggregate", "Window", "Sort")
                )
                if not skipping:
                    lines.append("")
                    lines.append(ln)
                continue
            if skipping:
                continue
            if any(
                key in ln
                for key in (
                    "PushedFilters", "ReadSchema", "Keys", "Functions",
                    "Join condition", "Left keys", "Right keys", "Arguments",
                    "Condition",
                )
            ):
                lines.append(ln)
        tree_end = plan.find("\n\n")
        tree = plan[:tree_end] if tree_end > 0 else plan
        out += [f"## {name}", "", "```", tree, *lines, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(BENCH_SET) + len(NEARDUP_SET) + len(PIPELINE_SET) + len(SKETCH_SET) + len(R5_SET) + len(R4_SET) + len(R6_SET) + len(R12_SET)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()

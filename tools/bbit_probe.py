#!/usr/bin/env python
"""Measure the INDEPENDENT-family b-bit prefilter (VERDICT_r7 #8).

SCALING.md "b-bit verify prefilter" recorded the r07 negative result
(same-hash 24-remnant prefilter removes ~0% after banding — selection
bias) and the condition under which the tier earns its keep: an
independent >= 100-remnant family probing a persisted sketch.  This
probe builds exactly that (text_dedup.bbit_sketch_frame, 128 hashes
from an unrelated PRNG seed, 2-bit remnants packed into eight 32-bit
words) and measures:

1. the operating characteristic on a CONSTRUCTED corpus with known
   pairwise shingle-Jaccard (keep-fraction per J bucket of the
   independent 128-hash prefilter), and
2. end-to-end behavior on the driver corpus through real banding:
   true-pair loss (must be 0 at the default threshold on this corpus),
   candidate reduction, and the wall-time split
   (sketch build + prefilter + verify-survivors  vs  verify-all).

Usage: python tools/bbit_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bigdatamlteamrepo_spark import get_spark
from bigdatamlteamrepo_spark.queries.text_dedup import (
    _pair_jaccard,
    _shingle_sets,
    bbit_independent_prefilter,
    bbit_sketch_frame,
    doc_shingle_sets,
    lsh_candidate_pairs,
)

#: tokens per constructed doc; pairs share a K-token prefix so the
#: 3-shingle Jaccard is (K-2) / (2*(N-2) - (K-2)) exactly
_N_TOK = 60
#: prefix lengths sweeping J ~ 0.10 .. 0.58
_KS = (13, 21, 29, 35, 41, 47)
_PAIRS_PER_K = 400


def _constructed(spark):
    """(docs, pairs): per prefix length K, _PAIRS_PER_K doc pairs with
    token vocabularies disjoint across pairs (no cross-pair overlap)."""
    rows, pairs = [], []
    did = 0
    for ki, k in enumerate(_KS):
        for p in range(_PAIRS_PER_K):
            tag = f"{ki}_{p}"
            shared = [f"s{tag}_{j}" for j in range(k)]
            a = shared + [f"a{tag}_{j}" for j in range(_N_TOK - k)]
            b = shared + [f"b{tag}_{j}" for j in range(_N_TOK - k)]
            rows.append((did, " ".join(a)))
            rows.append((did + 1, " ".join(b)))
            pairs.append((did, did + 1, k))
            did += 2
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame(pairs, "doc_a long, doc_b long, k int")
    return docs, cand


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="bbit-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- part 1: operating characteristic on known-J pairs ----------
    docs, cand = _constructed(spark)
    sets = doc_shingle_sets(docs).persist()
    sets.count()
    sk = bbit_sketch_frame(sets, "s").persist()
    kept_ind = {
        (r.doc_a, r.doc_b)
        for r in bbit_independent_prefilter(
            cand.select("doc_a", "doc_b"), sk
        ).collect()
    }
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _pair_jaccard(
            cand.select("doc_a", "doc_b"), sets, 0.0
        ).collect()
    }
    print("\n== operating characteristic (constructed corpus) ==")
    print(f"{'K':>3} {'J':>6} {'n':>5} {'keep_ind128':>11}")
    for ki, k in enumerate(_KS):
        ps = [
            (r.doc_a, r.doc_b)
            for r in cand.filter(F.col("k") == k).collect()
        ]
        j = sum(jac[p] for p in ps) / len(ps)
        ki_frac = sum(p in kept_ind for p in ps) / len(ps)
        print(f"{k:>3} {j:>6.3f} {len(ps):>5} {ki_frac:>11.3f}")

    # ---- part 2: driver corpus through real banding -----------------
    print(f"\n== driver corpus ({sf_dir}) ==")
    dsets = _shingle_sets(spark, sf_dir).persist()
    dsets.count()
    dcand = lsh_candidate_pairs(spark, sf_dir, sets=dsets)
    dcand = dcand.persist()
    n_cand = dcand.count()

    t0 = time.perf_counter()
    true_pairs = {
        (r.doc_a, r.doc_b)
        for r in _pair_jaccard(dcand, dsets, 0.5).select(
            "doc_a", "doc_b"
        ).collect()
    }
    t_verify_all = time.perf_counter() - t0

    t0 = time.perf_counter()
    dsk = bbit_sketch_frame(dsets, "s").persist()
    dsk.count()
    t_sketch = time.perf_counter() - t0

    t0 = time.perf_counter()
    surv = bbit_independent_prefilter(dcand, dsk).persist()
    n_surv = surv.count()
    t_pre = time.perf_counter() - t0

    t0 = time.perf_counter()
    true_after = {
        (r.doc_a, r.doc_b)
        for r in _pair_jaccard(surv, dsets, 0.5).select(
            "doc_a", "doc_b"
        ).collect()
    }
    t_verify_surv = time.perf_counter() - t0

    lost = true_pairs - true_after
    print(f"candidates:            {n_cand}")
    print(f"after ind128 prefilter: {n_surv}  (dropped {n_cand - n_surv})")
    print(f"true pairs (J>=0.5):   {len(true_pairs)}, lost by prefilter: {len(lost)}")
    print(f"verify-all wall:       {t_verify_all:.2f}s")
    print(
        f"sketch+pre+verify:     {t_sketch:.2f} + {t_pre:.2f} + "
        f"{t_verify_surv:.2f} = {t_sketch + t_pre + t_verify_surv:.2f}s"
    )
    spark.stop()


if __name__ == "__main__":
    main()

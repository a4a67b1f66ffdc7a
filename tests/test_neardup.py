"""Near-dup tier: scale-safe defaults verified against brute-force
baselines.

Pins the round-2 redesign guarantees:
  * ngram_jaccard_pairs (LSH candidates + verify) returns EXACTLY the
    brute-force all-pairs result at the registered threshold — the
    banding s-curve leaves measured recall 1.0 on the corpus;
  * embedding_neardup_pairs' triangle-inequality block pruning is
    lossless (also pinned vs the DuckDB oracle in test_oracle_parity);
  * embedding_neardup_lsh recall vs exact ≥ 0.95 at the driver SFs;
  * SimHash 4×16-bit banding is COMPLETE for Hamming ≤ 3 (pigeonhole),
    checked against an all-pairs fingerprint comparison;
  * none of the registered near-dup plans contains a cartesian /
    broadcast-nested-loop stage.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.operators.dedup import (
    embedding_neardup_pairs,
    simhash_fingerprints,
)
from bigdatamlteamrepo_spark.queries.extensions import (
    _LSH_THRESHOLD,
    embedding_neardup_lsh,
)
from bigdatamlteamrepo_spark.queries.text_dedup import (
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_exact,
)


def test_ngram_jaccard_lsh_matches_exact(spark, sf_dir):
    lsh = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs_exact(spark, sf_dir).collect()
    }
    assert len(exact) > 0  # non-vacuous
    assert set(lsh) <= set(exact)  # verify step guarantees precision 1.0
    # 24-hash/6-band config: candidate set == exact pair set measured at
    # sf0.001, sf0.01 AND sf0.1 (the old 16/4 config missed 2/256 at
    # sf0.1 on the s-curve tail)
    assert lsh == exact


import os as _os

import pytest as _pytest


@_pytest.mark.skipif(
    _os.environ.get("SPARK_GRAFT_RUN_SLOW") != "1",
    reason="sf0.1 sweep (~80k docs); set SPARK_GRAFT_RUN_SLOW=1",
)
def test_ngram_jaccard_lsh_matches_exact_sf01(spark):
    """VERDICT r2 item 10: the 24/6 LSH == exact equality at sf0.1,
    previously a manual NOTES-recorded run, now slow-gated CI — a future
    config change cannot silently reopen the s-curve recall gap at the
    scale where the 16/4 config was measured to miss pairs."""
    sf01 = "/root/testdata/sf0.1"
    if not _os.path.isdir(sf01):
        _pytest.skip("sf0.1 fixtures absent")
    lsh = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(spark, sf01).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs_exact(spark, sf01).collect()
    }
    assert len(exact) > 100
    assert lsh == exact


def test_embedding_lsh_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    E = np.array([r.embedding for r in rows], dtype=np.float64)
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    C = N @ N.T
    iu = np.triu_indices(len(ids), 1)
    mask = C[iu] >= _LSH_THRESHOLD
    exact = {
        tuple(sorted((int(ids[i]), int(ids[j]))))
        for i, j in zip(iu[0][mask], iu[1][mask])
    }
    got = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in embedding_neardup_lsh(spark, sf_dir).collect()
    }
    assert got <= exact or len(got - exact) <= 1  # verify step bounds FP noise
    assert len(exact) > 0
    assert len(got & exact) / len(exact) >= 0.95


def test_embedding_blocked_exact_is_lossless(spark):
    """Clustered fixture where pruning actually fires: blocked result
    must still equal brute force."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 16)) * 4
    rows = []
    for i in range(200):
        v = centers[i % 4] + rng.normal(scale=0.3, size=16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(emb, threshold=0.9, n_cells=4).collect()
    }
    E = np.array([r[1] for r in rows])
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    C = N @ N.T
    iu = np.triu_indices(len(rows), 1)
    mask = C[iu] >= 0.9
    exact = {(int(i), int(j)) for i, j in zip(iu[0][mask], iu[1][mask])}
    assert got == exact
    assert len(exact) > 100  # intra-cluster pairs exist


def test_embedding_blocking_survives_adversarial_outliers(spark):
    """The r03 verdict finding: with a MAX-radius per cell, one far
    outlier member inflates ρ and the block grid degenerates toward all
    K² pairs.  The quantile-radius + spill-tier design must keep the
    core grid near-diagonal on an outlier-salted corpus while staying
    exactly lossless."""
    rng = np.random.default_rng(7)
    n_clusters, per_cluster, dim = 8, 50, 16
    centers = rng.normal(size=(n_clusters, dim)) * 4
    rows = []
    i = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + rng.normal(scale=0.2, size=dim)
            rows.append((i, [float(x) for x in v]))
            i += 1
        # one adversarial outlier per cluster: a vector pointing in a
        # fresh random direction (after unit-normalization it lands far
        # from every cluster on the sphere)
        rows.append((i, [float(x) for x in rng.normal(size=dim) * 8]))
        i += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stats: dict = {}
    got = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(
            emb, threshold=0.9, n_cells=n_clusters, prune_stats=stats
        ).collect()
    }
    # lossless vs brute force
    E = np.array([r[1] for r in rows])
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    C = N @ N.T
    iu = np.triu_indices(len(rows), 1)
    mask = C[iu] >= 0.9
    exact = {(int(a), int(b)) for a, b in zip(iu[0][mask], iu[1][mask])}
    assert got == exact
    assert len(exact) > 1000  # intra-cluster pairs exist
    # the core grid must NOT degenerate: clusters are well separated on
    # the sphere, so with outliers exiled to the spill tier the grid
    # stays near-diagonal (≪ K² = 64)
    assert stats["grid_pairs"] <= 2 * stats["n_cells"], stats
    # spill tier is the quantile complement, not the corpus
    assert stats["n_spill"] <= 0.15 * stats["n_rows"], stats


def test_embedding_auto_cells_scale_with_corpus(spark):
    """n_cells=None derives K from the corpus size (floor 16, target
    _CELL_TARGET_ROWS rows/cell) instead of a fixed toy constant."""
    from bigdatamlteamrepo_spark.operators.dedup import _CELL_TARGET_ROWS

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stats: dict = {}
    embedding_neardup_pairs(emb, threshold=0.99, prune_stats=stats).collect()
    assert stats["n_cells"] == 16  # small corpus → floor
    # the sizing rule itself (no giant fit needed to check the formula)
    assert max(16, min(4096, (10**9) // _CELL_TARGET_ROWS)) == 4096


def test_simhash_banding_complete_for_hamming_3(spark, sf_dir):
    from bigdatamlteamrepo_spark.operators.dedup import simhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    fps = simhash_fingerprints(docs).collect()
    lo = {r.doc_id: r.sh_lo for r in fps}
    hi = {r.doc_id: r.sh_hi for r in fps}
    ids = sorted(lo)
    exact = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            ham = bin((lo[a] ^ lo[b])).count("1") + bin((hi[a] ^ hi[b])).count("1")
            if ham <= 3:
                exact.add((a, b))
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    assert got == exact


def test_lsh_candidates_same_from_raw_or_sets(spark, sf_dir):
    # MinHash over the distinct shingle set must equal MinHash over the
    # raw shingle list (min is duplicate-insensitive) — the invariant
    # that lets ngram_jaccard_pairs share one tokenize+shingle pass
    from bigdatamlteamrepo_spark.queries.text_dedup import (
        _shingle_sets,
        lsh_candidate_pairs,
    )

    raw = {
        (r.doc_a, r.doc_b) for r in lsh_candidate_pairs(spark, sf_dir).collect()
    }
    sets = _shingle_sets(spark, sf_dir).localCheckpoint(eager=True)
    from_sets = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(spark, sf_dir, sets=sets).collect()
    }
    assert raw == from_sets


def test_lsh_candidates_from_subset_sets_stay_in_subset(spark, sf_dir):
    # a batch/survivor slice of the shingle sets yields exactly the
    # corpus candidates whose two docs both lie in the slice — never
    # the full corpus's bands
    from bigdatamlteamrepo_spark.queries.text_dedup import (
        _shingle_sets,
        lsh_candidate_pairs,
    )

    full = {
        (r.doc_a, r.doc_b) for r in lsh_candidate_pairs(spark, sf_dir).collect()
    }
    subset = _shingle_sets(spark, sf_dir).filter(F.col("doc_id") % 3 == 0)
    got = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(spark, sf_dir, sets=subset).collect()
    }
    want = {(a, b) for a, b in full if a % 3 == 0 and b % 3 == 0}
    assert want and len(want) < len(full)
    assert got == want


def test_neardup_plans_have_no_cartesian(spark, sf_dir):
    from bigdatamlteamrepo_spark.queries import QUERIES

    for name in (
        "ngram_jaccard_pairs",
        "neardup_pairs_lsh",
        "neardup_cross_source",
        "embedding_neardup_pairs",
        "embedding_neardup_lsh",
        "simhash_neardup_pairs",
    ):
        plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


# --------------------------------------------------------------------------
# b-bit MinHash estimator (Li & Konig 2010): accuracy + two-tier filter
# completeness vs the exact verified Jaccard.
# --------------------------------------------------------------------------


def test_bbit_minhash_estimator_bounds(spark, sf_dir):
    """2-bit/24-hash estimates on LSH candidates: mean abs error vs the
    exact shingle Jaccard within 0.1 (measured 0.035), max within 0.3
    (measured 0.13), and NO verified >= 0.5 pair falls below the 0.2
    pre-filter bar — the property that lets the compressed index gate
    the exact-verify stage without losing true near-dups."""
    from bigdatamlteamrepo_spark.queries import QUERIES

    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in QUERIES["bbit_minhash_jaccard_pairs"](spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["ngram_jaccard_pairs"](spark, sf_dir).collect()
    }
    assert set(exact) <= set(est)  # same candidates, estimate unfiltered
    errs = [abs(est[p] - exact[p]) for p in exact]
    assert sum(errs) / len(errs) <= 0.1, sum(errs) / len(errs)
    assert max(errs) <= 0.3, max(errs)
    assert all(est[p] >= 0.2 for p in exact), min(est[p] for p in exact)


def test_bbit_independent_prefilter_operating_characteristic(spark):
    """The independent 128-hash 2-bit prefilter (VERDICT_r7 #8,
    SCALING.md r08 follow-up) must annihilate low-J junk while keeping
    boundary true pairs — the discrimination the correlated 24-remnant
    variant structurally cannot provide.  Constructed pairs with exact
    known shingle-Jaccard; thresholds loose enough to be stable under
    the binomial noise of 60 pairs per bucket."""
    from bigdatamlteamrepo_spark.queries.text_dedup import (
        _pair_jaccard,
        bbit_independent_prefilter,
        bbit_sketch_frame,
        doc_shingle_sets,
    )

    n_tok, per_k = 60, 60
    rows, pairs = [], {}
    did = 0
    for ki, k in enumerate((13, 47)):  # J ~ 0.105 and ~ 0.634
        for p in range(per_k):
            tag = f"{ki}_{p}"
            shared = [f"s{tag}_{j}" for j in range(k)]
            a = shared + [f"a{tag}_{j}" for j in range(n_tok - k)]
            b = shared + [f"b{tag}_{j}" for j in range(n_tok - k)]
            rows += [(did, " ".join(a)), (did + 1, " ".join(b))]
            pairs.setdefault(k, []).append((did, did + 1))
            did += 2
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame(
        [p for ps in pairs.values() for p in ps], "doc_a long, doc_b long"
    )
    sets = doc_shingle_sets(docs)
    sk = bbit_sketch_frame(sets, "s")
    kept = {
        (r.doc_a, r.doc_b)
        for r in bbit_independent_prefilter(cand, sk).collect()
    }
    # J ~ 0.105: essentially all dropped (measured 0.0% kept)
    low_kept = sum(p in kept for p in pairs[13])
    assert low_kept <= 3, low_kept
    # J ~ 0.634: every pair safely above the verify threshold survives
    assert all(p in kept for p in pairs[47])
    # sanity: the constructed Jaccards are where we think they are
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _pair_jaccard(cand, sets, 0.0).collect()
    }
    assert abs(sum(jac[p] for p in pairs[13]) / per_k - 0.105) < 0.02
    assert abs(sum(jac[p] for p in pairs[47]) / per_k - 0.634) < 0.02


def test_bbit_independent_prefilter_lossless_on_driver_corpus(spark, sf_dir):
    """On the driver corpus every banding candidate is a true near-dup
    (measured); the independent prefilter must keep all of them."""
    from bigdatamlteamrepo_spark.queries.text_dedup import (
        _shingle_sets,
        bbit_independent_prefilter,
        bbit_sketch_frame,
        lsh_candidate_pairs,
    )

    sets = _shingle_sets(spark, sf_dir)
    cand = lsh_candidate_pairs(spark, sf_dir, sets=sets)
    want = {(r.doc_a, r.doc_b) for r in cand.collect()}
    sk = bbit_sketch_frame(sets, "s")
    kept = {
        (r.doc_a, r.doc_b)
        for r in bbit_independent_prefilter(cand, sk).collect()
    }
    assert kept == want

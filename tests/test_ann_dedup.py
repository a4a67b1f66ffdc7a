"""ANN + SimHash extensions: recall against the exact baseline on a
planted-cluster fixture; structural checks on driver tables."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.operators.dedup import simhash_neardup_pairs
from bigdatamlteamrepo_spark.operators.similarity import (
    rp_lsh_banded_topk,
    rp_lsh_topk,
)
from bigdatamlteamrepo_spark.functions.vectors import cosine_similarity


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """300 vectors in 6 tight clusters (dim 32) — true neighbors are
    intra-cluster, so a sane ANN index achieves high recall."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(6, 32)) * 3
    rows = []
    for i in range(300):
        c = i % 6
        v = centers[c] + rng.normal(scale=0.15, size=32)
        rows.append((i, [float(x) for x in v], c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()


def _brute_topk(spark, emb, k=10):
    q = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    from pyspark.sql import Window

    sim = cosine_similarity(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _recall(approx_rows, exact_rows):
    ex, ap = {}, {}
    for r in exact_rows:
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx_rows:
        ap.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(ex[q] & ap.get(q, set())) for q in ex)
    return hits / sum(len(v) for v in ex.values())


def test_rp_lsh_recall(spark, clustered_emb):
    exact = _brute_topk(spark, clustered_emb).collect()
    q = clustered_emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    approx = rp_lsh_topk(
        clustered_emb, q, k=10, dim=32, n_planes=4, seed=42, exclude_self=True
    ).collect()
    assert _recall(approx, exact) >= 0.8
    # ranks well-formed
    for r in approx:
        assert 1 <= r.rank <= 10


def test_rp_lsh_banded_recall(spark, clustered_emb):
    """Multi-band amplification beats the single-bucket sketch."""
    exact = _brute_topk(spark, clustered_emb).collect()
    q = clustered_emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    approx = rp_lsh_banded_topk(
        clustered_emb, q, k=10, dim=32, planes_per_band=4, n_bands=8,
        seed=42, exclude_self=True,
    ).collect()
    assert _recall(approx, exact) >= 0.9


def test_simhash_on_documents(spark, sf_dir):
    from bigdatamlteamrepo_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_neardup_pairs(docs, max_hamming=7).collect()
    for r in pairs:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= 7
    # deterministic
    again = simhash_neardup_pairs(docs, max_hamming=7).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(r.doc_a, r.doc_b) for r in again}


def test_simhash_identical_texts_hamming_zero(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words entirely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_neardup_pairs(df, max_hamming=7).collect()}
    assert pairs.get((0, 1)) == 0


# --------------------------------------------------------------------------
# SemDeDup via ANN candidate stages (voronoi cells / persisted IVF-PQ
# index): recall vs the exact pair operator + refinement property.
# --------------------------------------------------------------------------


def _exact_pairs(emb, threshold):
    from bigdatamlteamrepo_spark.functions.vectors import cosine_similarity

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine_similarity(F.col("va"), F.col("vb")).alias("c")
        )
        .filter(F.col("c") >= threshold)
        .collect()
    }


def test_semdedup_voronoi_recall_on_clusters(spark, clustered_emb):
    """With cell granularity matching the semantic structure (6 anchors
    over 6 tight clusters), every true near-dup pair (cos >= 0.9 ==
    intra-cluster here) is within-cell: recall 1.0 — the SemDeDup
    premise that near-identical vectors share a coarse cell."""
    from bigdatamlteamrepo_spark.queries.extensions import semdedup_voronoi_pairs

    exact = _exact_pairs(clustered_emb, 0.9)
    assert len(exact) > 1000  # 6 cliques of 50 -> 7350 pairs
    ann = {
        (r.id_a, r.id_b)
        for r in semdedup_voronoi_pairs(
            clustered_emb, n_anchors=6, threshold=0.9
        ).collect()
    }
    assert exact <= ann and ann <= exact  # recall AND precision 1.0


def test_semdedup_from_index_collapses_clusters(spark, clustered_emb, tmp_path):
    """Persisted-index composition: 6-cell IVF-PQ index -> within-cell
    pairs at cos >= 0.9 -> components.  Each tight cluster is a clique
    in one cell, so every label keeps exactly 1 representative."""
    from bigdatamlteamrepo_spark.operators.pq import (
        build_ivfpq_index,
        semdedup_from_index,
    )

    idx = str(tmp_path / "ivfpq-sem")
    # dim-32 fixture -> 4 subspaces of 8 (the engine default assumes
    # the driver corpus's dim 64)
    build_ivfpq_index(clustered_emb, idx, n_cells=6, sub=8, seed=42)
    summ = {
        r.label: (r.n_vecs, r.n_kept, r.n_removed)
        for r in semdedup_from_index(
            spark, idx, 0.9, clustered_emb.select("vec_id", "label")
        ).collect()
    }
    assert set(summ) == set(range(6))
    for label, (n_vecs, n_kept, n_removed) in summ.items():
        assert (n_vecs, n_kept, n_removed) == (50, 1, 49), (label, summ[label])


def test_semdedup_ann_is_refinement_of_exact(spark, sf_dir):
    """On the ADVERSARIAL near-uniform driver corpus (threshold pairs
    ~70 degrees apart — the case where no coarse quantizer can be
    complete), the ANN variant's pairs must still be a SUBSET of the
    exact operator's (within-cell + same verify => no false pairs), so
    its components refine the exact ones and it never removes MORE:
    total kept_ann >= kept_exact."""
    from bigdatamlteamrepo_spark.queries import QUERIES

    ann = {
        r.label: (r.n_kept, r.n_removed)
        for r in QUERIES["embedding_semdedup_ann_summary"](spark, sf_dir).collect()
    }
    exact = {
        r.label: (r.n_kept, r.n_removed)
        for r in QUERIES["embedding_semdedup_summary"](spark, sf_dir).collect()
    }
    assert set(ann) == set(exact)
    assert sum(k for k, _ in ann.values()) >= sum(k for k, _ in exact.values())


def test_prefix_rerank_recall(spark, clustered_emb):
    """Matryoshka prefix-rerank (dim-16 candidates, full-dim rerank):
    recall vs exact on the clustered corpus, and exactness when the
    candidate pool covers the corpus."""
    from bigdatamlteamrepo_spark.operators.similarity import prefix_rerank_topk

    exact = _brute_topk(spark, clustered_emb).collect()
    q = clustered_emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    approx = prefix_rerank_topk(
        clustered_emb, q, k=10, prefix_dim=16, candidates=30, exclude_self=True
    ).collect()
    assert _recall(approx, exact) >= 0.9
    # candidates >= corpus size -> stage 1 prunes nothing: EXACT result
    n = clustered_emb.count()
    full = prefix_rerank_topk(
        clustered_emb, q, k=10, prefix_dim=16, candidates=n, exclude_self=True
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in full} == {
        (r.query_id, r.neighbor_id) for r in exact
    }

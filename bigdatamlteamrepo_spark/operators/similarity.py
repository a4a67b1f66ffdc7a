"""Approximate nearest-neighbor search — the scale path beyond the
brute-force cosine baseline (queries/similarity.py).

Every variant is a UDF-free DataFrame plan with an exact cosine re-rank
of its candidates, and each backs a registered face:

  * **Random-hyperplane LSH** (:func:`rp_lsh_topk`): sign-bit sketch of
    the corpus against ``n_planes`` deterministic hyperplanes → bucket
    equi-join → exact cosine re-rank within buckets.  Hyperplane
    components are drawn driver-side from a seeded numpy
    ``default_rng`` and embedded as plan literals (reproducible, no
    executor state) so the sketch is a pure column expression; at
    100 TB the corpus side is one scan + one shuffle on bucket keys.
    :func:`rp_lsh_banded_topk` ORs ``n_bands`` shorter sketches to buy
    recall that one 2^planes bucket cannot reach.
  * **Voronoi cells** (:func:`voronoi_topk`): IVF-flat with data-defined
    anchors — probe the ``n_probe`` nearest anchors, re-rank inside the
    probed cells.  The trained IVF-PQ index lives in operators/pq.py.
  * **Prefix re-rank** (:func:`prefix_rerank_topk`): Matryoshka-style
    shortlist on the first ``prefix_dim`` components, then exact
    full-dimension re-rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.functions.vectors import cosine_similarity, dot


def hyperplane_values(dim: int, plane: int, seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane as plain floats.

    Components drawn uniform[-1, 1) from ``numpy.default_rng`` seeded by
    (plane, seed) — computed driver-side once (dim × n_planes scalars)
    and embedded as literals in the Spark plan AND in the DuckDB oracle
    SQL, so both engines evaluate identical sign tests.  (Python's
    ``hash`` of an int tuple is salt-free, hence reproducible.)
    """
    import numpy as np

    rng = np.random.default_rng(abs(hash((plane, seed))) % (2**32))
    return [float(v) for v in rng.uniform(-1.0, 1.0, size=dim)]


def _hyperplane(dim: int, plane: int, seed: int):
    """:func:`hyperplane_values` as a literal array column."""
    return F.array(*[F.lit(v) for v in hyperplane_values(dim, plane, seed)])


def rp_band_keys(
    vec_col, dim: int, planes_per_band: int, n_bands: int, seed: int = 42
):
    """Banded sign-bit LSH keys → array<string>[n_bands].

    Band *b* concatenates the sign bits of planes [b·r, b·r+r) behind a
    band-index prefix, so keys only collide within a band.  Vectors
    sharing ≥1 band key are near-dup candidates (amplified LSH: collision
    probability 1-(1-p^r)^B for per-plane agreement p = 1 - θ/π).
    """
    keys = []
    for band in range(n_bands):
        parts = [F.lit(f"{band}#")]
        for j in range(planes_per_band):
            plane = _hyperplane(dim, band * planes_per_band + j, seed)
            parts.append(
                F.when(dot(vec_col, plane) >= 0, F.lit("1")).otherwise(F.lit("0"))
            )
        keys.append(F.concat(*parts))
    return F.array(*keys)


def rp_band_candidate_pairs(
    emb: DataFrame,
    dim: int = 64,
    planes_per_band: int = 4,
    n_bands: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 RP-LSH band —
    the banding equi-join that replaces an all-pairs cross product."""
    bands = emb.select(
        F.col(id_col).alias("vid"),
        F.explode(
            rp_band_keys(F.col(vec_col), dim, planes_per_band, n_bands, seed)
        ).alias("band"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )


def rp_lsh_banded_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    planes_per_band: int = 4,
    n_bands: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Multi-band RP-LSH top-k: candidates share ANY of ``n_bands`` band
    keys (amplified OR-construction), then exact cosine re-rank.

    Recall 1-(1-p^r)^B rises with bands at the cost of candidate volume
    — the knob to hit a recall target that a single 2^planes bucket
    (:func:`rp_lsh_topk`) cannot reach on weakly-clustered data.  Plan:
    explode to n_bands rows/side, equi-join on the band key, dedup
    (query, neighbor), window top-k — all linear-shuffle stages.
    """
    # ids-only band join → distinct pairs FIRST, then one cosine per
    # surviving pair (a pair sharing all B bands would otherwise get its
    # re-rank fold evaluated B times before dedup)
    corpus_bands = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(
            rp_band_keys(F.col(vec_col), dim, planes_per_band, n_bands, seed)
        ).alias("band"),
    )
    q_bands = queries.select(
        "query_id",
        F.explode(
            rp_band_keys(F.col("q_emb"), dim, planes_per_band, n_bands, seed)
        ).alias("band"),
    )
    pairs = corpus_bands.join(F.broadcast(q_bands), "band").select(
        "query_id", "neighbor_id"
    )
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    pairs = pairs.distinct()
    corpus = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_emb"))
    q = queries.select("query_id", "q_emb")
    sim = cosine_similarity(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        pairs.join(F.broadcast(q), "query_id")
        .join(corpus, "neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rp_signature(vec_col, dim: int, n_planes: int = 16, seed: int = 42):
    """Sign-bit LSH bucket id (long) for a vector column."""
    sig = None
    for p in range(n_planes):
        plane = _hyperplane(dim, p, seed)
        bit = F.when(dot(vec_col, plane) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = F.shiftleft(bit, p)
        sig = term if sig is None else sig.bitwiseOR(term)
    return sig


def prefix_rerank_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    prefix_dim: int = 16,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Two-stage ANN via PREFIX-dimension truncation (the Matryoshka /
    MRL trick, Kusupati et al. 2022, arXiv:2205.13147): stage 1 ranks
    every corpus vector by cosine over only the first ``prefix_dim``
    components and keeps the top ``candidates``; stage 2 re-ranks those
    survivors by exact full-dimension cosine and emits the top ``k``.

    The 100 TB story: with embeddings stored dim-sliced (prefix columns
    first), stage 1 reads ``prefix_dim/dim`` of the bytes and does that
    fraction of the multiply-adds — a 4× cheaper scan at 16/64 — while
    stage 2 touches only ``candidates`` full vectors per query.  Every
    step is a deterministic sequential fold, so the whole operator is
    SQL-expressible and value-hash-checked (unlike learned quantizers).
    Recall loss vs exact is measured, not guessed:
    ``embedding_prefix_dim_fidelity`` carries the cosine-distortion
    audit and tests/test_ann_dedup.py pins recall.
    """
    pre = F.slice(F.col(vec_col), 1, prefix_dim)
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        pre.alias("c_pre"),
    )
    qs = queries.select(
        "query_id", "q_emb", F.slice(F.col("q_emb"), 1, prefix_dim).alias("q_pre")
    )
    joined = corpus.crossJoin(F.broadcast(qs))
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    pre_sim = cosine_similarity(F.col("c_pre"), F.col("q_pre"))
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("pre_sim"), F.asc("neighbor_id")
    )
    cand = (
        joined.select("query_id", "neighbor_id", "q_emb", "c_emb", pre_sim.alias("pre_sim"))
        .withColumn("pre_rank", F.row_number().over(w1))
        .filter(F.col("pre_rank") <= candidates)
    )
    sim = cosine_similarity(F.col("q_emb"), F.col("c_emb"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        cand.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= k)
    )


def rp_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share the full sign sketch bucket.

    ``n_planes`` trades recall for candidate-set size (2^planes buckets).
    Queries carry columns (query_id, q_emb).  Set ``exclude_self=True``
    only when queries are drawn from the corpus id space (drops
    neighbor_id == query_id); external query sets must leave it False or
    an id collision silently loses a (possibly top-1) neighbor.
    """
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        rp_signature(F.col(vec_col), dim, n_planes, seed).alias("bucket"),
    )
    q = queries.select(
        "query_id", "q_emb", rp_signature(F.col("q_emb"), dim, n_planes, seed).alias("bucket")
    )
    sim = cosine_similarity(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    joined = corpus.join(F.broadcast(q), "bucket")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    return (
        joined.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def voronoi_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_anchors: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-flat ANN with DATA-DEFINED anchors: the first ``n_anchors``
    corpus vectors partition the space into Voronoi cells (by cosine,
    ties to the lower anchor id); queries probe the ``n_probe`` nearest
    anchors and re-rank exactly inside probed cells.

    Unlike a fitted quantizer (the KMeans coarse cells of
    operators/pq.build_ivfpq_index), every step is a deterministic
    expression over the data itself — no fitted model —
    so the whole query is SQL-expressible and value-hash-checkable.
    Assignment is one scan with a broadcast anchor table (n_anchors×
    row expansion through the cross join, pruned back by the top-1
    window: fine for hundreds-to-thousands of anchors, which is also
    the regime where cell pruning pays).
    """
    anchors = emb.filter(F.col(id_col) < n_anchors).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("a_emb")
    )
    asim = cosine_similarity(F.col("c_emb"), F.col("a_emb"))
    corpus = (
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_emb"))
        .crossJoin(F.broadcast(anchors))
        .select("neighbor_id", "c_emb", "cell", asim.alias("a_sim"))
    )
    wc = Window.partitionBy("neighbor_id").orderBy(F.desc("a_sim"), F.asc("cell"))
    assigned = (
        corpus.withColumn("r", F.row_number().over(wc))
        .filter(F.col("r") == 1)
        .select("neighbor_id", "c_emb", "cell")
    )

    qsim = cosine_similarity(F.col("q_emb"), F.col("a_emb"))
    qc = queries.crossJoin(F.broadcast(anchors)).select(
        "query_id", "q_emb", "cell", qsim.alias("a_sim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("a_sim"), F.asc("cell"))
    probed = qc.withColumn("r", F.row_number().over(wq)).filter(
        F.col("r") <= n_probe
    )

    sim = cosine_similarity(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    joined = assigned.join(
        F.broadcast(probed.select("query_id", "q_emb", "cell")), "cell"
    )
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    return (
        joined.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )

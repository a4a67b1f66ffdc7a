"""Similarity search over the ``embeddings`` corpus (array<float>).

Brute-force cosine top-k is the exactness baseline: broadcast the
(small) query set against the corpus, compute cosine as a sequential
expression fold (functions/vectors.py — no UDF), rank per query with a
window.  At 100 TB the corpus side stays partitioned and the query side
is broadcast, so the scan is embarrassingly parallel; the top-k window
shuffles only (query_id, candidate) pairs that survive, and an IVF/LSH
bucketed variant (operators/similarity.py) bounds the candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.functions.numeric import dsum
from bigdatamlteamrepo_spark.functions.vectors import (
    cosine_similarity,
    dot_expr,
    l2_norm,
    norm_expr,
)
from bigdatamlteamrepo_spark.queries.registry import query

_N_QUERIES = 5
_TOP_K = 10

_COS_SQL = (
    f"({dot_expr('q.embedding', 'c.embedding')} / "
    f"({norm_expr('q.embedding')} * {norm_expr('c.embedding')}))"
)


@query(
    "knn_cosine_topk",
    oracle=f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_COS_SQL} AS cosine_sim
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
         ) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= {_TOP_K}
""",
    bench=True,
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cand = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    sim = cosine_similarity(F.col("q_emb"), F.col("embedding"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        cand.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
    )


@query(
    "embedding_label_stats",
    oracle=f"""
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(CAST({norm_expr('embedding')} AS DECIMAL(30,9))) AS DOUBLE)
         / COUNT(*) AS avg_norm,
       MIN(vec_id) AS min_vec_id
FROM embeddings
GROUP BY label
""",
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (dsum(norm, 9) / F.count(F.lit(1))).alias("avg_norm"),
        F.min("vec_id").alias("min_vec_id"),
    )


@query(
    "embedding_label_centroids",
    oracle="""
WITH e AS (
  SELECT label, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
)
SELECT label, dim,
       CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(30,9))) AS DOUBLE)
         / COUNT(*) AS centroid_val,
       COUNT(*) AS n_vecs
FROM e
GROUP BY label, dim
""",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).withColumnsRenamed({"pos": "dim", "col": "v"})
    return ex.groupBy("label", "dim").agg(
        (dsum("v", 9) / F.count(F.lit(1))).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# --------------------------------------------------------------------------
# Exact covariance statistics — the whitening/PCA preprocessing pass of
# the ANN tier, with integer-exact accumulation.
#
# Components are quantized to micro units (float32 inputs → exact in
# double → exact BIGINT), so the sufficient statistics S_i = Σx_i and
# P_ij = Σx_i·x_j are plain integer sums — associative, partitioning-
# proof, hash-stable.  The covariance itself is re-derived row-locally
# as a double from the exact integers (identical IEEE expression in
# both engines; no rounding, so no rational-tie hazard).  MLlib's PCA
# (ml/clustering.py, M8) consumes the same moments internally; this
# query is the oracle-checkable face of that computation.
# --------------------------------------------------------------------------

#: leading dimensions profiled (36 (i,j) pairs; full-width in
#: production is the same plan with d(d+1)/2 output rows)
_COV_DIMS = 8


def _cov_oracle() -> str:
    qx = "CAST(round(CAST(embedding[{k}] AS DOUBLE) * 1000000) AS BIGINT)"
    agg = ["COUNT(*) AS n_vecs"]
    for i in range(_COV_DIMS):
        agg.append(f"CAST(SUM({qx.format(k=i + 1)}) AS BIGINT) AS s_{i}")
    for i in range(_COV_DIMS):
        for j in range(i, _COV_DIMS):
            agg.append(
                f"CAST(SUM({qx.format(k=i + 1)} * {qx.format(k=j + 1)}) "
                f"AS BIGINT) AS p_{i}_{j}"
            )
    rows = []
    for i in range(_COV_DIMS):
        for j in range(i, _COV_DIMS):
            rows.append(
                f"SELECT {i} AS dim_i, {j} AS dim_j, n_vecs, "
                f"s_{i} AS s_i, s_{j} AS s_j, p_{i}_{j} AS p_sum, "
                f"(CAST(p_{i}_{j} AS DOUBLE) "
                f" - CAST(s_{i} AS DOUBLE) * CAST(s_{j} AS DOUBLE)"
                f" / CAST(n_vecs AS DOUBLE)) / CAST(n_vecs AS DOUBLE) / 1e12"
                f" AS cov FROM a"
            )
    return f"WITH a AS (SELECT {', '.join(agg)} FROM embeddings)\n" + (
        "\nUNION ALL ".join(rows)
    )


@query("embedding_covariance_stats", oracle=_cov_oracle())
def embedding_covariance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance moments of the leading embedding
    dimensions in ONE aggregation pass (n, Σx_i, Σx_i·x_j as exact
    micro-unit BIGINTs, covariance re-derived row-locally).  The input
    to a whitening rotation or on-the-fly PCA — and proof the engine
    can run exact distributed linear-algebra statistics.

    Moments accumulate in DECIMAL(38,0) (``operators/stats.py::
    moment_aggs``, the shared definition with whitening_transform): a
    plain BIGINT sum of the ~1e12-magnitude per-row products overflows
    around ~9e6 same-signed rows, far below production corpus sizes;
    DECIMAL raises the bound to ~1e26 rows and mirrors DuckDB, whose
    SUM(BIGINT) already widens to HUGEINT before the oracle's final
    BIGINT cast."""
    from bigdatamlteamrepo_spark.operators.stats import moment_aggs

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.agg(*moment_aggs("embedding", _COV_DIMS))
    parts = []
    for i in range(_COV_DIMS):
        for j in range(i, _COV_DIMS):
            nd = F.col("n_vecs").cast("double")
            cov = (
                F.col(f"p_{i}_{j}").cast("double")
                - F.col(f"s_{i}").cast("double")
                * F.col(f"s_{j}").cast("double")
                / nd
            ) / nd / F.lit(1e12)
            parts.append(
                a.select(
                    F.lit(i).alias("dim_i"),
                    F.lit(j).alias("dim_j"),
                    "n_vecs",
                    F.col(f"s_{i}").alias("s_i"),
                    F.col(f"s_{j}").alias("s_j"),
                    F.col(f"p_{i}_{j}").alias("p_sum"),
                    cov.alias("cov"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --------------------------------------------------------------------------
# Contrastive-training pair mining: for each anchor, the hardest
# positives (same label, most similar — the pairs a metric learner must
# keep together) and the hardest negatives (different label, most
# similar — the pairs it must push apart).  Mining against the WHOLE
# corpus per anchor is the exactness baseline; production mining at
# 100 TB runs each training minibatch's anchors against the IVF-PQ
# index (operators/pq.build_ivfpq_index) and exact-re-ranks the
# survivors — this brute-force face is that path's recall oracle, the
# same relationship knn_cosine_topk has to ann_ivfpq_topk.
# --------------------------------------------------------------------------

_N_ANCHORS = 8
_N_POS = 3
_N_NEG = 5
_TRIPLET_MARGIN = 0.05


@query(
    "embedding_hard_negatives",
    oracle=f"""
WITH pairs AS (
  SELECT q.vec_id AS anchor_id,
         c.vec_id AS neighbor_id,
         CASE WHEN c.label = q.label THEN 'pos' ELSE 'neg' END AS kind,
         {_COS_SQL} AS cosine_sim
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_N_ANCHORS}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY anchor_id, kind
           ORDER BY cosine_sim DESC, neighbor_id
         ) AS rank
  FROM pairs
)
SELECT anchor_id, neighbor_id, kind, rank, cosine_sim
FROM ranked
WHERE (kind = 'pos' AND rank <= {_N_POS})
   OR (kind = 'neg' AND rank <= {_N_NEG})
""",
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hardest-positive / hardest-negative mining for the anchor set
    (``vec_id < 8``): per anchor, the top-3 most-cosine-similar
    same-label vectors (``kind = 'pos'``) and the top-5 most-similar
    different-label vectors (``kind = 'neg'``), ranked within kind.

    Plan: the anchor set is minibatch-sized and broadcast, so the
    corpus scan is embarrassingly parallel — each partition scores its
    vectors against every anchor row-locally (sequential-fold cosine,
    no UDF) and only (anchor, kind)-ranked survivors shuffle for the
    window.  Nothing about the plan changes with corpus size; at
    100 TB the candidate stage swaps to the IVF-PQ index (see module
    note) with this exact face as its recall pin."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("a_emb"),
        F.col("label").alias("a_label"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "label"
    )
    sim = cosine_similarity(F.col("a_emb"), F.col("embedding"))
    kind = F.when(F.col("label") == F.col("a_label"), "pos").otherwise("neg")
    w = Window.partitionBy("anchor_id", "kind").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        cand.join(
            F.broadcast(anchors), F.col("neighbor_id") != F.col("anchor_id")
        )
        .select(
            "anchor_id",
            "neighbor_id",
            kind.alias("kind"),
            sim.alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(
            ((F.col("kind") == "pos") & (F.col("rank") <= _N_POS))
            | ((F.col("kind") == "neg") & (F.col("rank") <= _N_NEG))
        )
        .select("anchor_id", "neighbor_id", "kind", "rank", "cosine_sim")
    )


@query(
    "triplet_margin_stats",
    oracle=f"""
WITH pairs AS (
  SELECT q.vec_id AS anchor_id, q.label AS label,
         CASE WHEN c.label = q.label THEN 'pos' ELSE 'neg' END AS kind,
         {_COS_SQL} AS cosine_sim,
         c.vec_id AS neighbor_id
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_N_ANCHORS}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY anchor_id, kind
           ORDER BY cosine_sim DESC, neighbor_id
         ) AS rank
  FROM pairs
),
mined AS (
  SELECT * FROM ranked
  WHERE (kind = 'pos' AND rank <= {_N_POS})
     OR (kind = 'neg' AND rank <= {_N_NEG})
),
per_anchor AS (
  SELECT anchor_id, label,
         MIN(CASE WHEN kind = 'pos' THEN cosine_sim END) AS hardest_pos,
         MAX(CASE WHEN kind = 'neg' THEN cosine_sim END) AS hardest_neg
  FROM mined GROUP BY anchor_id, label
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_anchors,
       CAST(SUM(CASE WHEN hardest_neg > hardest_pos - {_TRIPLET_MARGIN}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_margin_violations,
       MIN(hardest_pos - hardest_neg) AS min_margin
FROM per_anchor
GROUP BY label
""",
)
def triplet_margin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label audit of the mined triplets: how many anchors violate
    the triplet margin (their hardest in-corpus negative sits within
    0.05 cosine of their hardest mined positive) and the worst margin.
    A metric-learning curator reads this BEFORE training: labels whose
    anchors all violate are the ones the current embedding cannot
    separate.

    Only order statistics (min/max) leave the float domain — no float
    summation, so the result is reduction-order-free.  Same broadcast
    scan as :func:`embedding_hard_negatives`; the rollup key (label)
    is constant-cardinality."""
    mined = embedding_hard_negatives(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"), "label"
    )
    per_anchor = (
        mined.join(F.broadcast(labels), "anchor_id")
        .groupBy("anchor_id", "label")
        .agg(
            F.min(
                F.when(F.col("kind") == "pos", F.col("cosine_sim"))
            ).alias("hardest_pos"),
            F.max(
                F.when(F.col("kind") == "neg", F.col("cosine_sim"))
            ).alias("hardest_neg"),
        )
    )
    viol = (
        F.col("hardest_neg") > F.col("hardest_pos") - F.lit(_TRIPLET_MARGIN)
    ).cast("int")
    return per_anchor.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        F.sum(viol).cast("bigint").alias("n_margin_violations"),
        F.min(F.col("hardest_pos") - F.col("hardest_neg")).alias("min_margin"),
    )


# --------------------------------------------------------------------------
# Geometric mislabel / out-of-distribution audit: every vector scored
# against its OWN label centroid and the nearest OTHER centroid.  A
# vector closer to another label's centroid than to its own is the
# confident-learning-style suspect an embedding-corpus curator reviews
# (mislabeled row, or a region where labels genuinely overlap); a
# vector far from EVERY centroid is OOD.  Centroids are label-count
# many (constant) and broadcast; each partition scores its vectors
# row-locally — the same shape as the anchor-mining scan.
# --------------------------------------------------------------------------


def _centroid_cos_sql(v: str, c: str) -> str:
    """DuckDB cosine between a float[] column and a DOUBLE[] centroid
    (same sequential list fold as functions/vectors.dot_expr)."""
    dot = (
        f"list_sum(list_transform(range(1, len({v}) + 1), "
        f"i -> CAST({v}[i] AS DOUBLE) * {c}[i]))"
    )
    nv = f"sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nc = f"sqrt(list_sum(list_transform({c}, x -> x * x)))"
    return f"CASE WHEN {nv} > 0 AND {nc} > 0 THEN {dot} / ({nv} * {nc}) END"


@query(
    "embedding_mislabel_scores",
    oracle=f"""
WITH e AS (
  SELECT label, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
),
c AS (
  SELECT label, dim,
         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*) AS cv
  FROM e GROUP BY label, dim
),
cent AS (
  SELECT label AS c_label, list(cv ORDER BY dim) AS c_vec FROM c GROUP BY label
),
sims AS (
  SELECT m.vec_id, m.label, cent.c_label,
         {_centroid_cos_sql('m.embedding', 'cent.c_vec')} AS sim
  FROM embeddings m CROSS JOIN cent
),
own AS (
  SELECT vec_id, label, sim AS own_sim FROM sims WHERE label = c_label
),
oth AS (
  SELECT vec_id, c_label AS best_other_label, sim AS best_other_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, c_label) AS rk
  FROM sims WHERE label <> c_label
)
SELECT own.vec_id, own.label,
       CAST(round(own.own_sim * 1000000) AS BIGINT) AS own_sim_micro,
       oth.best_other_label,
       CAST(round(oth.best_other_sim * 1000000) AS BIGINT)
         AS best_other_sim_micro,
       CAST(CASE WHEN oth.best_other_sim > own.own_sim
                 THEN 1 ELSE 0 END AS INT) AS mislabel_flag
FROM own JOIN oth ON own.vec_id = oth.vec_id AND oth.rk = 1
""",
)
def embedding_mislabel_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector (own-centroid cosine, best other-centroid cosine,
    mislabel flag).  ``mislabel_flag = 1`` when some other label's
    centroid is strictly more similar than the vector's own.

    Sims publish micro-quantized (×1e6 BIGINT, the sketch-tier
    convention): the raw doubles agree across engines to ~1 ulp, and
    at sf0.1 a handful of the 6,400 values straddled the comparator's
    1e-9 rounding boundary — ranking and the flag still use the full
    doubles.

    Determinism: centroid values are decimal-quantized means (the
    embedding_label_centroids discipline — bit-identical across
    engines and partitionings); every cosine is a fixed-order
    sequential fold; the best-other argmax tie-breaks on label.

    Plan at 100 TB: centroids are one grouped agg (label × dim rows,
    constant), collected into label-count broadcast arrays; the corpus
    scan scores each vector against all centroids row-locally and
    keeps a constant number of columns — no per-vector shuffle at
    all beyond the centroid agg."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).withColumnsRenamed({"pos": "dim", "col": "v"})
    c = ex.groupBy("label", "dim").agg(
        (dsum("v", 9) / F.count(F.lit(1))).alias("cv")
    )
    cent = c.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))),
            lambda s: s.cv,
        ).alias("c_vec")
    )
    sims = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "c_label",
        cosine_similarity(F.col("embedding"), F.col("c_vec")).alias("sim"),
    )
    own = sims.filter(F.col("label") == F.col("c_label")).select(
        "vec_id", "label", F.col("sim").alias("own_sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("c_label"))
    oth = (
        sims.filter(F.col("label") != F.col("c_label"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            F.col("c_label").alias("best_other_label"),
            F.col("sim").alias("best_other_sim"),
        )
    )
    return own.join(oth, "vec_id").select(
        "vec_id",
        "label",
        F.round(F.col("own_sim") * 1_000_000)
        .cast("bigint")
        .alias("own_sim_micro"),
        "best_other_label",
        F.round(F.col("best_other_sim") * 1_000_000)
        .cast("bigint")
        .alias("best_other_sim_micro"),
        (F.col("best_other_sim") > F.col("own_sim"))
        .cast("int")
        .alias("mislabel_flag"),
    )

"""Product quantization (PQ) for embedding columns — the compression
layer of billion-scale ANN (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011; the IVF-PQ layout FAISS uses).

A d-dim float vector is split into ``m`` subvectors; each subvector is
replaced by the id of its nearest codebook centroid.  With m=4 and
k=16 centroids a 64-dim float32 embedding (256 B) becomes four 4-bit
codes (2 B) — 128× smaller, which is what makes a 100 TB embedding
corpus scannable: the ADC (asymmetric distance computation) pass ranks
candidates reading ONLY the codes + one tiny codebook, and just the
surviving top-k rows fetch their full vectors for exact re-ranking.

Engine mapping (everything a pure expression — no UDF, no fitted
model):

  * codebooks are DATA-DERIVED anchors (the subvectors of the first
    ``k`` corpus vectors), the same device ann_voronoi_topk uses, so
    the DuckDB oracle reproduces them verbatim — no k-means object
    stands between the engines (a production deployment would swap in
    sampled k-means centroids; every downstream expression is
    unchanged);
  * encoding = explode (vector × subspace) → equi-join the ``k``
    centroids per subspace → windowed argmin (L2², centroid-id
    tie-break);
  * ADC = per-subspace partial dot(q_sub, centroid[code]) folded with
    per-subspace CONDITIONAL aggregates (exactly one non-null term per
    group), then summed in fixed column order — order-independent under
    shuffle, so scores are bit-deterministic;
  * re-rank = exact cosine on the ADC top-k only.

Shuffle profile at scale: codes table is m rows/vector (tiny); the ADC
join broadcasts queries × codebook (k·m rows); one groupBy on
(query_id, vec_id) whose width is m.  Nothing touches full vectors
until the final top-k equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.functions.vectors import cosine_similarity, dot, l2_sq
from bigdatamlteamrepo_spark.operators.checkpoint import truncate

#: subspace count, dims per subspace (m · sub = embedding dim)
PQ_M = 4
PQ_SUB = 16
#: centroids per subspace codebook
PQ_K = 16


def _subspaces(df: DataFrame, vec_col: str, id_out: str, sub_out: str, m: int, sub: int) -> DataFrame:
    """Explode (id, vector) → m rows of (id, s, subvector-slice)."""
    s = F.explode(F.array(*[F.lit(i) for i in range(m)])).alias("s")
    out = df.select(F.col(df.columns[0]).alias(id_out), F.col(vec_col).alias("__v"), s)
    return out.select(
        id_out, "s", F.slice("__v", F.col("s") * sub + 1, sub).alias(sub_out)
    )


def pq_codebooks(emb: DataFrame, k: int = PQ_K, m: int = PQ_M, sub: int = PQ_SUB) -> DataFrame:
    """(s, center_id, c_sub) — per-subspace codebook from the first k
    corpus vectors (deterministic, oracle-reproducible)."""
    anchors = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("center_id"), "embedding"
    )
    return _subspaces(anchors, "embedding", "center_id", "c_sub", m, sub)


def pq_codebooks_kmeans(
    emb: DataFrame,
    k: int = PQ_K,
    m: int = PQ_M,
    sub: int = PQ_SUB,
    sample_fraction: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """(s, center_id, c_sub) — per-subspace codebook from SAMPLED
    KMeans: the production-quality path (Jégou §III trains codebooks by
    k-means per subspace; FAISS does the same on a training sample).

    The first-k codebooks (:func:`pq_codebooks`) stay the ORACLE path —
    deterministic and DuckDB-reproducible — but their quality is an
    accident of id order; k-means codebooks minimize subspace
    quantization error and measurably lift ADC recall (SWEEP.md, "PQ
    codebook quality").  Every downstream expression (encode, ADC,
    re-rank) is unchanged — codebooks are just a (k·m)-row frame.

    ``sample_fraction`` bounds the fit set: at 100 TB you train on a
    ~1e6-vector sample (KMeans cost is per-fit-row; codebook quality
    saturates long before the corpus does), then encode the full corpus
    with the broadcast codebook."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = emb.select("vec_id", "embedding")
    cached = None
    if sample_fraction is not None:
        # cache the sample so the empty-probe and the m per-subspace
        # fits share one materialization (the sample is fit-set-sized
        # by construction — ~1e6 rows at 100 TB)
        cached = base.sample(
            withReplacement=False, fraction=sample_fraction, seed=seed
        ).persist()
        # a tiny corpus × tiny fraction can sample zero rows — MLlib
        # KMeans crashes on an empty fit; mirror the coarse-quantizer
        # guard in build_ivfpq_index: fall back to the full frame, and
        # clamp k to the fit-set size below.
        n_cap = cached.limit(k).count()
        if n_cap > 0:
            base = cached
        else:
            cached.unpersist()
            cached = None
            n_cap = base.limit(k).count()
    else:
        # limit(k) early-terminates the scan: the only fact the clamp
        # needs is min(|fit set|, k), never the full count
        n_cap = base.limit(k).count()
    if n_cap == 0:
        return emb.sparkSession.createDataFrame(
            [], "s int, center_id int, c_sub array<double>"
        )
    k = min(k, n_cap)
    vs = _subspaces(base, "embedding", "vec_id", "v_sub", m, sub).withColumn(
        "__v", array_to_vector(F.col("v_sub").cast("array<double>"))
    )
    rows = []
    # m independent small fits (m=4): each reads only its subspace slice
    for s in range(m):
        model = KMeans(
            k=k, seed=seed + s, featuresCol="__v", predictionCol="c"
        ).fit(vs.filter(F.col("s") == s))
        for i, c in enumerate(model.clusterCenters()):
            rows.append((s, i, [float(x) for x in c]))
    if cached is not None:
        cached.unpersist()
    return emb.sparkSession.createDataFrame(rows, "s int, center_id int, c_sub array<double>")


def pq_encode(
    emb: DataFrame, codebooks: DataFrame, m: int = PQ_M, sub: int = PQ_SUB
) -> DataFrame:
    """(vec_id, s, code) — nearest-centroid id per (vector, subspace).

    L2² argmin with centroid-id tie-break via ``min_by`` over
    struct(d2, center_id): a hash aggregation with map-side partial
    combine (combiner state = one struct per (vector, subspace))
    instead of a sort-based window — measured 1.6× faster at sf0.1 and
    the shape that scales (no per-group sort, k candidate rows fold to
    one before the shuffle).  Values identical to the windowed argmin:
    struct ordering compares d2 first, then centroid id.
    """
    vs = _subspaces(
        emb.select("vec_id", "embedding"), "embedding", "vec_id", "v_sub", m, sub
    )
    j = vs.join(F.broadcast(codebooks), "s").withColumn(
        "d2", l2_sq(F.col("v_sub"), F.col("c_sub"))
    )
    return j.groupBy("vec_id", "s").agg(
        F.min_by("center_id", F.struct(F.col("d2"), F.col("center_id"))).alias("code")
    )


def _adc_scored(part: DataFrame, queries: DataFrame, m: int) -> DataFrame:
    """(query_id, neighbor_id, adc_score, q_emb) from per-(query,
    vector, subspace) partial dots: one conditional agg per subspace
    (exactly one non-null input each, so per-group sum order cannot
    vary), then a FIXED-order chain of m additions — bit-deterministic
    under any shuffle, mirrored in the oracle.  Shared by the in-memory
    and persisted-index ADC paths."""
    aggs = []
    for i in range(m):
        aggs.append(F.sum(F.when(F.col("s") == i, F.col("pd"))).alias(f"pd{i}"))
        aggs.append(F.sum(F.when(F.col("s") == i, F.col("cn2"))).alias(f"cn{i}"))
    g = part.groupBy("query_id", "vec_id").agg(*aggs)
    adc_dot = F.col("pd0")
    recon2 = F.col("cn0")
    for i in range(1, m):
        adc_dot = adc_dot + F.col(f"pd{i}")
        recon2 = recon2 + F.col(f"cn{i}")
    qnorm = queries.select(
        "query_id",
        F.sqrt(dot(F.col("q_emb"), F.col("q_emb"))).alias("qn"),
        F.col("q_emb"),
    )
    return g.join(F.broadcast(qnorm), "query_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (adc_dot / (F.col("qn") * F.sqrt(recon2))).alias("adc_score"),
        "q_emb",
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = PQ_M,
    sub: int = PQ_SUB,
    n_centroids: int = PQ_K,
    exclude_self: bool = False,
    books: DataFrame | None = None,
) -> DataFrame:
    """Top-k by ADC score with exact-cosine re-rank values.

    Returns (query_id, neighbor_id, adc_score, cosine_sim, rank) where
    rank orders by (adc_score DESC, neighbor_id) — the ranking a
    code-only scan can produce — and cosine_sim is the exact value
    fetched for just these k rows (the re-rank read).

    ``books`` overrides the codebook frame: pass
    :func:`pq_codebooks_kmeans` output for the quality path; the
    default stays the oracle-reproducible first-k codebook.
    """
    if books is None:
        books = pq_codebooks(emb, n_centroids, m, sub)
    # single plan tree: codes feeds exactly one consumer, so no
    # materialization barrier is needed — the earlier localCheckpoint
    # here existed only to break the s-column ambiguity (codes derives
    # FROM books), which the aliases below solve without paying an
    # extra job (r09: 1.68 s → 1.47 s at sf0.1)
    codes = pq_encode(emb, books, m, sub)
    qs = _subspaces(
        queries.select("query_id", "q_emb"), "q_emb", "query_id", "q_sub", m, sub
    )
    # per-(query, vector, subspace) partial dot against the coded centroid
    c, b = codes.alias("c"), books.alias("b")
    part = (
        c.join(
            F.broadcast(b),
            (F.col("c.s") == F.col("b.s"))
            & (F.col("c.code") == F.col("b.center_id")),
        )
        .select("c.vec_id", "c.s", "b.c_sub")
        .join(F.broadcast(qs), "s")
        .select(
            "query_id",
            "vec_id",
            "s",
            dot(F.col("q_sub"), F.col("c_sub")).alias("pd"),
            l2_sq(F.col("c_sub"), F.array(*[F.lit(0.0)] * sub)).alias("cn2"),
        )
    )
    scored = _adc_scored(part, queries, m)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    top = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    # exact re-rank read: fetch full vectors for the k survivors only
    full = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return top.join(full, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        "adc_score",
        cosine_similarity(F.col("embedding"), F.col("q_emb")).alias("cosine_sim"),
        "rank",
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_anchors: int = 8,
    n_probe: int = 3,
    rerank: int = 30,
    m: int = PQ_M,
    sub: int = PQ_SUB,
    n_centroids: int = PQ_K,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF→PQ→exact-re-rank — the FAISS IVFPQ architecture as pure
    DataFrame algebra.

    Three pruning layers, each cutting the bytes the next one touches:

      1. **IVF**: data-defined Voronoi cells (first ``n_anchors``
         corpus vectors, cosine assignment, low-id tie-break — the
         same oracle-reproducibility device as voronoi_topk); a query
         reads only its ``n_probe`` nearest cells (~n_probe/n_anchors
         of the corpus).
      2. **PQ-ADC**: within probed cells, rank by quantized dot
         products reading ONLY the m-byte codes + broadcast codebook;
         keep the top ``rerank`` per query.
      3. **Exact re-rank**: fetch full vectors for the ``rerank``
         survivors only; final top-k by exact cosine.

    At 100 TB: the codes+cell table (a few bytes/vector) is the only
    thing scanned per query after the broadcast probes; full vectors
    are touched for rerank × queries rows.  Returns (query_id,
    neighbor_id, adc_score, cosine_sim, rank) with rank by exact
    cosine.
    """
    anchors = emb.filter(F.col("vec_id") < n_anchors).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("a_emb")
    )
    asim = cosine_similarity(F.col("c_emb"), F.col("a_emb"))
    corpus = (
        emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("c_emb"))
        .crossJoin(F.broadcast(anchors))
        .select("nid", "cell", asim.alias("a_sim"))
    )
    wc = Window.partitionBy("nid").orderBy(F.desc("a_sim"), F.asc("cell"))
    assigned = (
        corpus.withColumn("r", F.row_number().over(wc))
        .filter(F.col("r") == 1)
        .select(F.col("nid").alias("vec_id"), "cell")
    )

    books = pq_codebooks(emb, n_centroids, m, sub)
    codes = truncate(
        pq_encode(emb, books, m, sub)
        .join(assigned, "vec_id")
    )

    qsim = cosine_similarity(F.col("q_emb"), F.col("a_emb"))
    qc = queries.crossJoin(F.broadcast(anchors)).select(
        "query_id", "q_emb", "cell", qsim.alias("a_sim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("a_sim"), F.asc("cell"))
    probed = (
        qc.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select("query_id", "cell")
    )

    qs = _subspaces(
        queries.select("query_id", "q_emb"), "q_emb", "query_id", "q_sub", m, sub
    )
    part = (
        codes.join(F.broadcast(probed), "cell")
        .join(
            F.broadcast(books),
            (codes.s == books.s) & (codes.code == books.center_id),
        )
        .drop(books.s)
        # (query_id, s) both: the probe join already fixed the query —
        # joining on s alone would cross every query's subvectors in
        .join(F.broadcast(qs), ["query_id", "s"])
        .select(
            "query_id",
            "vec_id",
            "s",
            dot(F.col("q_sub"), F.col("c_sub")).alias("pd"),
            l2_sq(F.col("c_sub"), F.array(*[F.lit(0.0)] * sub)).alias("cn2"),
        )
    )
    scored = _adc_scored(part, queries, m)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    shortlist = scored.withColumn("ar", F.row_number().over(w_adc)).filter(
        F.col("ar") <= rerank
    )
    full = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    w_fin = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        shortlist.join(full, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_score",
            cosine_similarity(F.col("embedding"), F.col("q_emb")).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(w_fin).cast("int"))
        .filter(F.col("rank") <= k)
    )


def build_ivfpq_index(
    emb: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    m: int = PQ_M,
    sub: int = PQ_SUB,
    n_centroids: int = PQ_K,
    seed: int = 42,
    fit_sample_fraction: float | None = None,
    kmeans_codebooks: bool = True,
) -> None:
    """Persist a FAISS-style IVF-PQ index as a parquet layout:

      * ``centroids/``  — (cell, center): the coarse quantizer, K rows;
      * ``codebooks/``  — (s, center_id, c_sub): the PQ codebooks,
        k·m rows (sampled-KMeans by default, first-k for
        oracle-reproducible builds);
      * ``codes/``      — (vec_id, s, code) PARTITIONED BY cell: the
        m-byte-per-vector scan set;
      * ``vectors/``    — (vec_id, embedding) PARTITIONED BY cell: the
        re-rank read set.

    Build-once/query-many: both KMeans fits run a single time (on a
    sample at scale); every later query batch reads ONLY its probed
    ``cell=<k>/`` directories of codes AND vectors — partition pruning
    enforces that the ADC pass touches ~n_probe/n_cells of the code
    bytes and the re-rank touches full vectors for shortlist rows only.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = emb.withColumn(
        "__v", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    fit_set = (
        with_vec.sample(False, fit_sample_fraction, seed=seed)
        if fit_sample_fraction is not None
        else with_vec
    )
    n_fit = fit_set.count()
    if n_fit == 0:
        n_fit = with_vec.count()
        if n_fit == 0:
            raise ValueError("build_ivfpq_index: corpus is empty")
        fit_set = with_vec
    model = KMeans(
        k=min(n_cells, n_fit), seed=seed, featuresCol="__v", predictionCol="cell"
    ).fit(fit_set)
    emb.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, center array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(index_dir + "/centroids")

    books = (
        pq_codebooks_kmeans(
            emb, n_centroids, m, sub, sample_fraction=fit_sample_fraction, seed=seed
        )
        if kmeans_codebooks
        else pq_codebooks(emb, n_centroids, m, sub)
    )
    books.coalesce(1).write.mode("overwrite").parquet(index_dir + "/codebooks")

    assigned = model.transform(with_vec).select("vec_id", "embedding", "cell")
    (
        pq_encode(emb, books, m, sub)
        .join(assigned.select("vec_id", "cell"), "vec_id")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(index_dir + "/codes")
    )
    (
        assigned.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(index_dir + "/vectors")
    )


#: increment-table schemas for the streaming appender
#: (streaming/vectors.py): cell is a DATA column in increments, a
#: directory-partition value in the base — int in both, so the union
#: needs no casts
_PART_SCHEMAS = {
    "codes": "vec_id bigint, s int, code int, cell int",
    "vectors": "vec_id bigint, embedding array<float>, cell int",
}


def read_index_part(
    spark, index_dir: str, table: str, cells: list[int] | None = None
) -> DataFrame:
    """``codes`` / ``vectors`` rows across the partitioned base AND any
    streaming increments (``<table>_inc/b<ns>-<id>/`` subdirectories
    written by streaming/vectors.py).  Cell restriction prunes base
    ``cell=`` directories statically; increments carry cell as a data
    column sorted within files, so the same predicate prunes their row
    groups.  Missing base (stream-seeded index) or missing increments
    (batch-built index) are both fine; both missing raises."""
    from bigdatamlteamrepo_spark.streaming.ingest import (
        _exists,
        _join,
        _list_children,
    )

    parts = []
    base = _join(index_dir, table)
    if _exists(spark, base):
        parts.append(spark.read.parquet(base))
    inc_root = _join(index_dir, f"{table}_inc")
    if _exists(spark, inc_root):
        subs = sorted(c[1] for c in _list_children(spark, inc_root) if c[2])
        if subs:
            parts.append(
                spark.read.schema(_PART_SCHEMAS[table])
                .option("recursiveFileLookup", "true")
                .parquet(*subs)
            )
    if not parts:
        raise FileNotFoundError(
            f"no index table at {index_dir}/{table} (base or {table}_inc) — "
            "build_ivfpq_index or streaming/vectors.append_vectors_batch first"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if cells is not None:
        out = out.filter(F.col("cell").isin([int(c) for c in cells]))
    return out


def semdedup_from_index(
    spark,
    index_dir: str,
    threshold: float,
    labels: DataFrame,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) driven by a PERSISTED IVF-PQ index
    (:func:`build_ivfpq_index`): candidate pairs are WITHIN-CELL pairs
    of the index's ``vectors/`` layout — the paper's own algorithm,
    where the coarse quantizer bounds the pairwise stage to
    Σ|cell|²/2 instead of n²/2 — verified by exact cosine, clustered by
    connected components, reported per label.

    At 100 TB this is the composition a production dedup runs: the
    index is built ONCE (sampled KMeans fits), each ``cell=<k>/``
    directory is an independent pairwise unit (partition-pruned scan,
    embarrassingly parallel across cells), and ``n_cells`` is the
    recall/cost knob — more cells mean cheaper cells but more
    cross-cell near-dup pairs missed (recall pinned vs the exact
    operator in tests/test_ann_dedup.py).

    ``labels``: (vec_id, label) frame for the per-label rollup (kept
    separate — the index stores geometry, not metadata)."""
    from bigdatamlteamrepo_spark.operators.dedup import (
        semdedup_label_rollup,
        within_cell_cosine_pairs,
    )
    from bigdatamlteamrepo_spark.operators.graph import connected_components

    vecs = read_index_part(spark, index_dir, "vectors")
    pairs = truncate(within_cell_cosine_pairs(vecs, threshold))
    comp = connected_components(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b"
    )
    return semdedup_label_rollup(labels, comp)


def ivfpq_index_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    rerank: int = 30,
    m: int = PQ_M,
    sub: int = PQ_SUB,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k against a persisted IVF-PQ index (:func:`build_ivfpq_index`).

    Probed cell ids are computed against the tiny centroid table and
    collected driver-side (metadata-sized: ≤ n_probe × |queries| ints),
    then pushed into BOTH the codes scan and the vectors scan as static
    partition filters — only probed ``cell=`` directories are listed
    and read.  ADC ranking reads codes + the broadcast codebook only;
    full vectors are fetched for the ``rerank`` shortlist, and the
    final top-k orders by exact cosine.
    """
    centroids = spark.read.parquet(index_dir + "/centroids")
    books = spark.read.parquet(index_dir + "/codebooks")
    qc = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "q_emb",
        "cell",
        cosine_similarity(
            F.col("q_emb").cast("array<double>"), F.col("center")
        ).alias("c_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("cell"))
    probed = truncate(  # reused for codes join + cell list
        qc.withColumn("p", F.row_number().over(wq))
        .filter(F.col("p") <= n_probe)
        .select("query_id", "cell")
    )
    cells = sorted({r.cell for r in probed.select("cell").distinct().collect()})

    codes = read_index_part(spark, index_dir, "codes", cells)
    qs = _subspaces(
        queries.select("query_id", "q_emb"), "q_emb", "query_id", "q_sub", m, sub
    )
    part = (
        codes.join(F.broadcast(probed), "cell")
        .join(
            F.broadcast(books),
            (codes.s == books.s) & (codes.code == books.center_id),
        )
        .drop(books.s)
        .join(F.broadcast(qs), ["query_id", "s"])
        .select(
            "query_id",
            "vec_id",
            "s",
            dot(F.col("q_sub"), F.col("c_sub")).alias("pd"),
            l2_sq(F.col("c_sub"), F.array(*[F.lit(0.0)] * sub)).alias("cn2"),
        )
    )
    scored = _adc_scored(part, queries, m)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    shortlist = scored.withColumn("ar", F.row_number().over(w_adc)).filter(
        F.col("ar") <= rerank
    )
    full = read_index_part(spark, index_dir, "vectors", cells).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    w_fin = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        shortlist.join(full, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_score",
            cosine_similarity(F.col("embedding"), F.col("q_emb")).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(w_fin).cast("int"))
        .filter(F.col("rank") <= k)
    )

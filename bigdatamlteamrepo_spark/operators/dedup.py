"""Deduplication operator family (LLM-pipeline extension tier).

Four tiers, each a pure DataFrame plan:
  * exact           — md5 groupBy (queries/text_dedup.py)
  * MinHash + LSH   — portable md5 minhash → band join (queries/text_dedup.py)
  * SimHash         — 64-bit sign-sum fingerprint, 4×16-bit banding (here)
  * embedding-cosine near-dup — exact threshold pairs via KMeans-cell
    blocking with triangle-inequality pruning (here), plus the RP-LSH
    candidates-then-verify variant (queries/extensions.py)

SimHash design: per token, the first 16 hex chars of ``md5(token)``
supply 64 bits (two 32-bit words, portable to the DuckDB oracle via
``('0x' || hex)::BIGINT``); fingerprint bit *b* is 1 iff the majority of
tokens have bit *b* set.  Everything is one explode + one groupBy: the
64 conditional sums compile to a single hash-aggregate pass — no UDFs,
no driver state.  Near-dup candidates = fingerprints equal on at least
one of four 16-bit bands, which by pigeonhole is COMPLETE for Hamming
distance ≤ 3 (the standard 64-bit/4-band guarantee); candidates are then
exact-Hamming filtered.  Bucket keyspace is 4 × 2^16 ≈ 262k per band
*slice*, and unlike a fixed 2×16-bit split of a 32-bit fingerprint the
64-bit space keeps within-bucket populations from saturating as the
corpus grows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.functions.text import tokenize
from bigdatamlteamrepo_spark.operators.checkpoint import truncate

_WORD_BITS = 32


def _hex_word(tok: Column, start: int) -> Column:
    """32-bit word from md5 hex chars [start, start+8) as a long."""
    return F.conv(F.substring(F.md5(tok), start, 8), 16, 10).cast("long")


def _vote_word(word: Column, prefix: str) -> list[Column]:
    """±1 majority-vote sums for each of a word's 32 bits."""
    return [
        F.sum(
            F.when(F.shiftright(word, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"{prefix}{b}")
        for b in range(_WORD_BITS)
    ]


def _assemble(prefix: str) -> Column:
    """Pack 32 vote columns into a 32-bit fingerprint word (long)."""
    fp = None
    for b in range(_WORD_BITS):
        bit = F.when(F.col(f"{prefix}{b}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseOR(term)
    return fp


def simhash_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sh_lo, sh_hi) — 64-bit SimHash as two 32-bit words.

    Duplicate tokens intentionally count with multiplicity (standard
    SimHash weighting by term frequency).  md5-derived bits keep the
    fingerprint bit-for-bit reproducible in the DuckDB oracle.
    """
    toks = docs.select(id_col, F.explode(tokenize(text_col)).alias("tok"))
    toks = toks.withColumn("w1", _hex_word(F.col("tok"), 1)).withColumn(
        "w2", _hex_word(F.col("tok"), 9)
    )
    agg = toks.groupBy(id_col).agg(
        *_vote_word(F.col("w1"), "lo"), *_vote_word(F.col("w2"), "hi")
    )
    return agg.select(id_col, _assemble("lo").alias("sh_lo"), _assemble("hi").alias("sh_hi"))


def simhash_neardup_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Candidate pairs via 16-bit banding + exact Hamming filter.

    The band count adapts to the radius so pigeonhole completeness
    always holds: 4×16-bit bands for ``max_hamming`` ≤ 3 (longer, more
    selective band keys), 8×8-bit for ≤ 7.  Radii past 7 are refused by
    the underlying banding (``hamming64_neardup_pairs``) rather than
    silently under-recalling — at 64-bit SimHash, Hamming > 7 is no
    longer "near-duplicate" territory anyway.  The exact Hamming filter
    runs on the raw band-join output BEFORE the distinct, so the
    shuffled dedup payload is only the surviving near-dup pairs, not
    the full candidate multiset.
    """
    fp = simhash_fingerprints(docs, text_col, id_col)
    return hamming64_neardup_pairs(
        fp,
        id_col,
        "sh_lo",
        "sh_hi",
        max_hamming,
        n_bands=4 if max_hamming <= 3 else 8,
    )


def hamming64_neardup_pairs(
    fp: DataFrame,
    id_col: str,
    lo_col: str,
    hi_col: str,
    max_hamming: int = 3,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs of ANY 64-bit fingerprint stored as two 32-bit
    words: equal-width banding + exact Hamming filter before the
    distinct.  By pigeonhole the banding is COMPLETE for
    ``max_hamming ≤ n_bands - 1``; the function refuses wider radii
    rather than silently under-recalling.  ``n_bands`` ∈ {4, 8}:
    4×16-bit is the text-SimHash config (Hamming ≤ 3); 8×8-bit covers
    the perceptual-image radius (lossy re-encodes drift more bits —
    sources/multimodal.image_phash_neardup_pairs uses ≤ 6) at the cost
    of shorter, busier band keys.  The shared engine under both."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding with {n_bands} bands is only complete for "
            f"Hamming <= {n_bands - 1}; got max_hamming={max_hamming}"
        )
    if n_bands == 4:
        band_cols = [
            F.col(lo_col).bitwiseAND(F.lit(0xFFFF)),
            F.shiftright(lo_col, 16).bitwiseAND(F.lit(0xFFFF)),
            F.col(hi_col).bitwiseAND(F.lit(0xFFFF)),
            F.shiftright(hi_col, 16).bitwiseAND(F.lit(0xFFFF)),
        ]
    elif n_bands == 8:
        band_cols = [
            F.shiftright(col, 8 * i).bitwiseAND(F.lit(0xFF))
            for col in (F.col(lo_col), F.col(hi_col))
            for i in range(4)
        ]
    else:
        raise ValueError(f"n_bands must be 4 or 8, got {n_bands}")
    bands = fp.select(
        id_col,
        lo_col,
        hi_col,
        F.posexplode(F.array(*band_cols)).alias("band_idx", "band"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(
        F.col(f"a.{lo_col}").bitwiseXOR(F.col(f"b.{lo_col}"))
    ) + F.bit_count(F.col(f"a.{hi_col}").bitwiseXOR(F.col(f"b.{hi_col}")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(out_a),
            F.col(f"b.{id_col}").alias(out_b),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


#: auto cell sizing: target member count per KMeans cell.  n_cells =
#: clamp(n / _CELL_TARGET_ROWS, 16, 4096): a 100 TB corpus gets
#: thousands of cells (each a bounded verify block), a test corpus
#: keeps 16.  4096² grid entries are still driver-trivial scalars.
_CELL_TARGET_ROWS = 4096
#: per-cell radius quantile: members beyond this distance quantile are
#: OUTLIERS routed to the spill tier instead of inflating the cell
#: radius (one far member would otherwise degenerate the block grid
#: toward all K² pairs — the r03 verdict finding).
_CELL_RADIUS_Q = 0.9


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    fit_sample_fraction: float | None = None,
    seed: int = 42,
    prune_stats: dict | None = None,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicates: all pairs with cosine ≥
    threshold — no candidate loss — via KMeans-cell blocking with
    triangle-inequality block pruning and an outlier spill tier.

    On unit-normalized vectors cos(a,b) ≥ t ⟺ ‖â−b̂‖ ≤ r = √(2−2t), so
    with each vector assigned to its nearest of ``n_cells`` centroids
    (fit on a sample — never feed a 100 TB corpus whole into iterative
    KMeans) and per-cell radii ρ, a block pair (X, Y) can contain a
    qualifying pair only if ‖c_X − c_Y‖ ≤ ρ_X + ρ_Y + r — every other
    block pair is provably empty and never joined.

    **Radius robustness**: ρ is the ``_CELL_RADIUS_Q`` member-distance
    QUANTILE, not the max — with a max radius a single outlier member
    inflates ρ and the grid degenerates toward all K² blocks.  Members
    beyond their cell's quantile radius (≤10% by construction) become
    the SPILL tier, verified exactly by per-ROW pruning instead of
    block pruning:

      * spill×core: a spill vector s can match a core member y of cell
        Y only if ‖s − c_Y‖ ≤ ρ_Y + r (triangle via ‖y − c_Y‖ ≤ ρ_Y);
        s is exploded over the K cell ids, equi-joined against the
        broadcast centroid table, distance-filtered, and only the
        surviving (s, cell) probes join into core members.
      * spill×spill: block-pruned like the core grid but with each
        cell's MAX member distance as the radius — even when outliers
        degenerate THAT grid to all K² pairs, only spill members ride
        it, so its join volume is bounded by the (≤10%)² spill
        fraction squared, never the corpus.

    All three tiers are hash equi-joins (no BroadcastNestedLoop /
    cartesian — pinned by tests/test_neardup.py's plan gate); the exact
    cosine verify runs only inside surviving blocks, and the union of
    the tiers is provably every qualifying pair exactly once (each
    vector belongs to exactly one tier and one cell).

    ``n_cells`` defaults to corpus-scaled (n / ``_CELL_TARGET_ROWS``,
    clamped to [16, 4096]) so cells stay bounded verify blocks as the
    corpus grows instead of ~n/16-row giants.

    Pruning power is data-dependent: clustered corpora (the real-world
    case) prune most of the K² grid; an adversarially uniform corpus
    prunes nothing — exact threshold joins on gapless data are
    inherently Ω(n²) comparisons, and the scale levers are this blocking
    plus the LSH candidates-then-verify variant
    (queries/extensions.py:embedding_neardup_lsh) when approximate
    recall is acceptable.

    ``prune_stats``: pass a dict to receive {n_rows, n_cells,
    grid_pairs, n_spill} — the observability hook the degeneracy test
    asserts on.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from bigdatamlteamrepo_spark.functions.vectors import cosine_similarity, l2_norm

    r = float(np.sqrt(max(0.0, 2.0 - 2.0 * threshold)))

    unit = F.transform(
        F.col(vec_col).cast("array<double>"), lambda x: x / F.col("__n")
    )
    normed = (
        emb.select(id_col, vec_col)
        .withColumn("__n", l2_norm(F.col(vec_col)))
        .filter(F.col("__n") > 0)  # zero vectors have NULL cosine — never qualify
        .withColumn("__unit", unit)
        .withColumn("__v", array_to_vector("__unit"))
    )
    # cache: feeds the KMeans fit (unless sampled), the count, the
    # radii agg, and the assigned frame below.  (At cluster scale, swap
    # for MEMORY_AND_DISK or accept one extra columnar scan.)
    normed = normed.cache()
    n = normed.count()
    if n == 0:
        # empty corpus → empty pair set (KMeans refuses an empty fit)
        id_t = emb.schema[id_col].dataType.simpleString()
        return emb.sparkSession.createDataFrame(
            [], f"id_a {id_t}, id_b {id_t}, cosine_sim double"
        )
    if n_cells is None:
        n_cells = int(max(16, min(4096, n // _CELL_TARGET_ROWS)))
    n_cells = max(1, min(n_cells, n))  # KMeans needs k ≤ n
    fit_set = (
        normed.sample(withReplacement=False, fraction=fit_sample_fraction, seed=seed)
        if fit_sample_fraction is not None
        else normed
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="__v", predictionCol="cell").fit(
        fit_set
    )
    centers = {i: np.asarray(c, dtype=float) for i, c in enumerate(model.clusterCenters())}
    centers_df = F.broadcast(
        emb.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in centers.items()],
            "cell int, center array<double>",
        )
    )

    dist_sq = F.aggregate(
        F.zip_with(F.col("__unit"), F.col("center"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    assigned = (
        model.transform(normed)
        .join(centers_df, "cell")
        .select(id_col, vec_col, "__unit", "cell", F.sqrt(dist_sq).alias("__d"))
        .cache()
    )
    # per-cell QUANTILE radius + MAX radius (K rows collected —
    # metadata-sized).  approx_percentile is estimation-grade, which is
    # fine: ρ only partitions rows into core/spill and sizes the grid —
    # the verify is exact either way, so the OUTPUT is identical for
    # any ρ.
    rad_rows = (
        assigned.groupBy("cell")
        .agg(
            F.percentile_approx("__d", _CELL_RADIUS_Q).alias("rho"),
            F.max("__d").alias("rho_max"),
        )
        .collect()
    )
    radii = {row["cell"]: row["rho"] for row in rad_rows}
    radii_max = {row["cell"]: row["rho_max"] for row in rad_rows}
    eps = 1e-9  # absorbs FP error in the driver-side centroid distances

    # split tiers: core stays block-pruned, spill gets row-level pruning
    radii_df = F.broadcast(
        emb.sparkSession.createDataFrame(
            [(c, float(x)) for c, x in radii.items()], "cell int, rho double"
        )
    )
    tiered = assigned.join(radii_df, "cell")
    core = tiered.filter(F.col("__d") <= F.col("rho") + eps)
    spill = tiered.filter(F.col("__d") > F.col("rho") + eps)

    grid = [
        (i, j)
        for i in centers
        for j in centers
        if i in radii and j in radii
        and float(np.linalg.norm(centers[i] - centers[j]))
        <= radii[i] + radii[j] + r + 3 * eps
    ]
    grid_df = F.broadcast(
        emb.sparkSession.createDataFrame(grid, "cell_a int, cell_b int")
    )

    sim = cosine_similarity(F.col("va"), F.col("vb"))
    a = core.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("cell").alias("cell_a")
    )
    b = core.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("cell").alias("cell_b")
    )
    core_pairs = (
        a.join(grid_df, "cell_a")
        .join(b, "cell_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
    )

    # spill×core: per-row centroid pruning — ‖s − c_Y‖ ≤ ρ_Y + r is
    # necessary for s to match ANY core member of Y (triangle ineq.).
    # The K-way probe fan-out is an explode + broadcast HASH join on
    # cell id (not a nested-loop): same row volume, plan-gate clean.
    s_cells = (
        spill.select(
            F.col(id_col).alias("sid"),
            F.col(vec_col).alias("sv"),
            F.col("__unit").alias("su"),
            F.explode(F.sequence(F.lit(0), F.lit(n_cells - 1))).alias("cell"),
        )
        .join(centers_df.join(radii_df, "cell"), "cell")
        .filter(
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("su"), F.col("center"), lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            )
            <= F.col("rho") + r + 2 * eps
        )
        .select("sid", "sv", "cell")
    )
    spill_core = (
        s_cells.join(
            core.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"), "cell"),
            "cell",
        )
        .select(
            F.least("sid", "cid").alias("id_a"),
            F.greatest("sid", "cid").alias("id_b"),
            cosine_similarity(F.col("sv"), F.col("cv")).alias("cosine_sim"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )

    # spill×spill: block-pruned on the MAX-radius grid.  Outliers can
    # degenerate THIS grid toward K² — but only spill members (≤(1−q)
    # of the corpus by construction) ride it, so the join volume is
    # bounded by the spill fraction squared, never the corpus squared.
    grid_max = [
        (i, j)
        for i in centers
        for j in centers
        if i in radii_max and j in radii_max
        and float(np.linalg.norm(centers[i] - centers[j]))
        <= radii_max[i] + radii_max[j] + r + 3 * eps
    ]
    grid_max_df = F.broadcast(
        emb.sparkSession.createDataFrame(grid_max, "cell_a int, cell_b int")
    )
    sa = spill.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("cell").alias("cell_a")
    )
    sb = spill.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("cell").alias("cell_b")
    )
    spill_pairs = (
        sa.join(grid_max_df, "cell_a")
        .join(sb, "cell_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
    )

    if prune_stats is not None:
        prune_stats["n_rows"] = normed.count()
        prune_stats["n_cells"] = n_cells
        prune_stats["grid_pairs"] = len(grid)
        prune_stats["grid_pairs_spill"] = len(grid_max)
        prune_stats["n_spill"] = spill.count()

    # Materialize the (output-sized) pair frame, then release the two
    # intermediate caches — repeated invocations in one session (the
    # registry sweep, the semdedup capstone) must not accumulate
    # executor storage.  truncate severs the lineage so the
    # returned frame never re-reads normed/assigned.
    out = truncate(
        core_pairs.unionByName(spill_core)
        .unionByName(spill_pairs)
        .filter(F.col("cosine_sim") >= threshold)
    )
    assigned.unpersist()
    normed.unpersist()
    return out


# ---------------------------------------------------------------------------
# SemDeDup shared stages: within-cell pairs + per-label rollup.  One
# definition for every coarse-quantizer composition — the voronoi-cell
# capstone (queries/extensions.py), the persisted IVF-PQ index path
# (operators/pq.py::semdedup_from_index) — so threshold/tie/rep
# semantics cannot drift between them.
# ---------------------------------------------------------------------------


def within_cell_cosine_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """(id_a, id_b, cosine_sim) — exact-cosine ≥ threshold pairs WITHIN
    each coarse cell of an assigned (id, vector, cell) frame.  The join
    key is the cell — the shuffle a layout already partitioned/bucketed
    by cell (the IVF-PQ ``vectors/`` convention) avoids entirely; the
    pairwise cost is Σ|cell|²/2, the SemDeDup tradeoff."""
    from bigdatamlteamrepo_spark.functions.vectors import cosine_similarity

    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col(cell_col).alias("cell"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col(cell_col).alias("cell"),
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_similarity(F.col("va"), F.col("vb")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def semdedup_label_rollup(labels: DataFrame, comp: DataFrame) -> DataFrame:
    """Per-label (n_vecs, n_kept, n_removed) from a (vec_id, label)
    frame and a connected-components labeling (node, component):
    unclustered vectors keep themselves; clustered ones keep the
    component min (rep = coalesce(component, vec_id))."""
    merged = labels.join(
        comp.select(F.col("node").alias("vec_id"), "component"),
        "vec_id",
        "left",
    ).withColumn("rep", F.coalesce("component", "vec_id"))
    return merged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum((F.col("vec_id") == F.col("rep")).cast("long")).alias("n_kept"),
        F.sum((F.col("vec_id") != F.col("rep")).cast("long")).alias(
            "n_removed"
        ),
    )

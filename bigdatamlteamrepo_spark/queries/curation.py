"""Corpus-curation tier: passage-granularity NEAR-dup detection,
first-occurrence n-gram novelty, cross-source n-gram containment, and
LSH-bucket diversity sampling.

These are the remaining curation decisions a training-data pipeline
makes after the document-level dedup tier (queries/text_dedup.py) and
the exact-passage tier (queries/passages.py):

* **passage_neardup_pairs** — document pairs sharing a near-duplicate
  passage, exact or fuzzy (quote/partial-overlap detection with
  doc-pair attribution).  Doc-level MinHash misses a 20-token quote
  inside two otherwise-different documents; the exact passage tier
  (passage_dedup_summary) reports per-source duplication but not WHICH
  doc pairs share content.  This is the standard candidates-then-verify
  LSH plan applied at passage granularity: per-passage MinHash (8
  hashes / 4 bands over the passage's 3-token shingles) → band
  equi-join → exact shingle-Jaccard verify → doc-pair rollup.  Exact
  passage matches collide in every band, so they are found with
  probability 1.  Boilerplate guard: a passage exactly repeated in D
  docs contributes ~D²/2 band-join candidates, so the DEFAULT path
  auto-caps band-bucket width from the bucket-width distribution
  (``max_bucket="auto"``, mirrored hash-for-hash in the oracle) —
  buckets wider than the cap are mass-duplicated passages the EXACT
  passage tier already accounts for at linear cost.  ``None`` keeps
  the lossless all-pairs behavior for bounded corpora.

* **doc_ngram_novelty** — per-document fraction of distinct 8-grams
  never seen in any LOWER-doc_id document ("attribute to first
  occurrence", the memorization-risk score RefinedWeb/Dolma style
  pipelines compute before sampling).  min(doc_id) per gram is
  order-free, so the score is deterministic under any partitioning.

* **source_overlap_audit** (the DEFAULT audit face) /
  **source_overlap_matrix** / **source_overlap_kmv** — ordered-pair
  8-gram containment |grams(a) ∩ grams(b)| / |grams(a)| between
  sources: the cross-dataset contamination audit run before mixing
  corpora (the asymmetric version of neardup_cross_source's pair
  counts).  The audit routes sketch-first: KMV/theta estimates flag
  pairs at ≥ 0.05, and the exact matrix runs only over the flagged
  sources — the exact self-join's shuffle carries every distinct gram
  in the corpus (measured superlinear, SCALING.md), so at 100 TB it
  runs only on the flagged slice.

* **diversity_sample_lsh** — one representative per RP-LSH sign-bucket
  of the embedding space: the cheap diversity downsample (SemDeDup's
  "keep one per semantic region" without the clustering fit).  Buckets
  are 8 sign bits of fixed pseudo-random hyperplanes — fully
  deterministic, index-free, and oracle-reproducible.

Scale shapes: every operator here is explode → hash-keyed groupBy
(map-side combine) → equi-join; nothing is quadratic in the corpus.
The passage LSH band join is governed by the s-curve exactly like the
document-level plan; the novelty/overlap gram tables are bounded by
DISTINCT grams (Zipf-collapsed); the diversity bucket agg is one
shuffle on a ≤2^planes-cardinality key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.functions.text import (
    ensure_tokens,
    UH_MOD,
    band_keys,
    shingles,
    tokenize,
    uh_constants,
)
from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.operators.sketches import (
    POW60,
    bottomk_cutoff_sql,
    bottomk_prefilter,
)
from bigdatamlteamrepo_spark.queries.registry import query
from bigdatamlteamrepo_spark.queries.text_dedup import _TOKENS_SQL, _with_tokens

#: passage width in tokens (matches queries/passages.py so the exact
#: and fuzzy passage tiers audit the same unit)
_PW = 20
#: MinHash config for passage signatures: passages carry only
#: ``_PW - 2`` 3-token shingles, so fewer hashes than the doc-level
#: 24/6 scheme suffice; 8 hashes / 4 bands of 2 puts the s-curve
#: midpoint 1-(1-j²)⁴ ≈ 0.5 at j ≈ 0.4 — below the 0.5 verify
#: threshold.  Candidate recall 1-(1-j²)⁴ is ≈ 0.68 at j = 0.5 and
#: reaches 0.77 around j ≈ 0.56; exact matches (j = 1) collide in
#: every band, recall 1 (pinned in tests).
_P_HASHES = 8
_P_BANDS = 4
#: exact shingle-Jaccard verify threshold (same as the doc-level tier)
_P_JACCARD = 0.5
#: ``max_bucket="auto"`` cap = max(floor, mult × mean bucket width).
#: Band-bucket widths are Zipf-shaped (mean ≈ 1-2 on natural corpora);
#: a bucket ≳ 8× the mean holds a passage mass-duplicated across docs —
#: exactly the content the EXACT passage tier deduplicates at linear
#: cost — so dropping it bounds candidate volume at ~n_buckets·cap²/2,
#: linear in the corpus (SCALING.md "Passage near-dup").  All-integer
#: derivation (bigint div), so the oracle mirrors it tie-free.
_AUTO_CAP_FLOOR = 16
_AUTO_CAP_MULT = 8

#: 8-gram granularity for novelty/containment (matches the
#: decontamination tier, queries/pipeline.py)
_NG = 8

#: RP-LSH diversity-sample config: 8 sign bits → ≤256 buckets; same
#: hyperplane family/seed as the ANN tier (operators/similarity.py)
_DIV_PLANES = 8
_DIV_DIM = 64
_DIV_SEED = 42


# --------------------------------------------------------------------------
# passage_neardup_pairs
# --------------------------------------------------------------------------

def _passage_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, pi, s) — per non-overlapping ``_PW``-token passage:
    its 1-based index and distinct 3-token shingle set.
    One expression-only pass; the ``size >= _PW`` filter guards the
    ascending ``sequence`` contract (sequence(1, 0) is DESCENDING)."""
    t = ensure_tokens(docs, "doc_id")
    p = (
        t.filter(F.size("toks") >= _PW)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(1), F.floor(F.size("toks") / _PW).cast("int")
                )
            ).alias("pi"),
        )
        .select(
            "doc_id",
            "pi",
            F.slice("toks", (F.col("pi") - 1) * _PW + 1, F.lit(_PW)).alias(
                "ptoks"
            ),
        )
    )
    return p.select(
        "doc_id",
        "pi",
        F.array_distinct(shingles(F.col("ptoks"), 3)).alias("s"),
    )


def passage_neardup_doc_pairs(
    docs: DataFrame,
    max_bucket: int | str | None = "auto",
) -> DataFrame:
    """Core of :func:`passage_neardup_pairs` over any (doc_id, text)
    frame — separated so property tests can drive generated corpora.

    Plan: ONE tokenize+chunk+shingle pass is persisted and feeds both
    the signature aggregation and the verify join (the
    ngram_jaccard_pairs discipline).  Signatures are a grouped MIN with
    map-side partial aggregation — only (passage, 8 longs) rows reach
    the shuffle; the band self-join is the linear-shuffle candidate
    step; the verify is an exact set-Jaccard on the two passages'
    shingle sets; the rollup bounds the output at doc-pair granularity.

    ``max_bucket``: the boilerplate-blowup valve.  A passage recurring
    in D documents makes a band bucket of width ~D, hence ~D²/2
    candidate pairs per band — measured quadratic candidate growth on
    corpora with recurring boilerplate (SCALING.md, "Passage near-dup").
    The DEFAULT ``"auto"`` derives the cap from the corpus itself —
    ``max(_AUTO_CAP_FLOOR, _AUTO_CAP_MULT × mean bucket width)``, pure
    bigint arithmetic so the oracle mirrors it tie-free — and drops
    band rows in wider buckets BEFORE the self-join: those passages
    are mass duplicates the EXACT passage tier (passage_dedup_summary)
    already accounts for at linear cost.  An int pins the cap
    explicitly; ``None`` disables it (lossless all-pairs — bounded
    corpora only).

    The shared passage-set and band stages are LAZY lineage cuts
    (``truncate``) — the auto-cap's bounded collect is the first action
    and fills both in one job, where the r12 persist + eager-output
    chain paid separate fill and copy barriers (r13; interleaved A/B at
    sf0.1: 1.97 → 1.75 s min, 2.10 → 1.88 s med, value-identical).
    Checkpointed blocks are released by the ContextCleaner when the
    returned frame is dropped (the graph-operator discipline), so
    repeated invocations still cannot accumulate unbounded executor
    storage.
    """
    psets = truncate(_passage_sets(docs), eager=False)

    ex = psets.select("doc_id", "pi", F.explode("s").alias("sh"))
    hx = F.md5("sh")
    words = ex.select(
        "doc_id",
        "pi",
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("w1"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("w2"),
    )
    consts = uh_constants(_P_HASHES)
    sig = words.groupBy("doc_id", "pi").agg(
        *[
            F.min(
                (F.lit(a) * F.col("w1") + F.lit(b) * F.col("w2") + F.lit(c))
                % F.lit(UH_MOD)
            ).alias(f"m{i}")
            for i, (a, b, c) in enumerate(consts)
        ]
    )
    mh = F.array(*[F.col(f"m{i}") for i in range(_P_HASHES)])
    bands = truncate(
        sig.select(
            "doc_id",
            "pi",
            F.explode(band_keys(mh, _P_HASHES, _P_BANDS)).alias("band"),
        ),
        eager=False,
    )

    if max_bucket is not None:
        # bucket widths are a band-keyed agg of the (small) band table;
        # the semi-join keeps only rows in buckets within the cap
        bw = bands.groupBy("band").agg(F.count(F.lit(1)).alias("w"))
        if max_bucket == "auto":
            # cap = max(floor, mult × (Σw div nb)) — pure bigint, so the
            # oracle mirrors it tie-free.  Collect the 1-ROW stat (the
            # engine's bounded-collect convention — this also fills the
            # psets/bands checkpoints in one cheap job; a broadcast
            # formulation instead re-ran the whole signature chain
            # inside the broadcast-exchange job, measured +1.9 s at
            # sf0.1).  bw itself recomputes from the checkpointed band
            # table for the semi side — one small agg, cheaper than
            # keeping a third materialized frame (r13 probe).
            tot, nb = bw.agg(F.sum("w"), F.count(F.lit(1))).first()
            cap = max(
                _AUTO_CAP_FLOOR,
                _AUTO_CAP_MULT * ((tot or 0) // max(nb, 1)),
            )
            ok = bw.filter(F.col("w") <= cap).select("band")
        else:
            ok = bw.filter(F.col("w") <= max_bucket).select("band")
        bands = bands.join(ok, "band", "left_semi")

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.pi").alias("pi_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.pi").alias("pi_b"),
        )
        .distinct()
    )

    sa = psets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pi").alias("pi_a"),
        F.col("s").alias("s_a"),
    )
    sb = psets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pi").alias("pi_b"),
        F.col("s").alias("s_b"),
    )
    inter = F.size(F.array_intersect(F.col("s_a"), F.col("s_b")))
    union = F.size("s_a") + F.size("s_b") - inter
    ver = (
        cand.join(sa, ["doc_a", "pi_a"])
        .join(sb, ["doc_b", "pi_b"])
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jac"),
        )
        .filter(F.col("jac") >= _P_JACCARD)
    )
    out = ver.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_passage_pairs"),
        F.max("jac").alias("max_jaccard"),
    )
    # lazy checkpoint of the doc-pair-sized result: the caller's first
    # action materializes it (severing lineage back into the corpus-sized
    # stages); repeated consumption reuses it
    return truncate(out, eager=False)


def _passage_lsh_ctes() -> str:
    """Oracle CTE chain ending in ``__pver(doc_a, doc_b, jac)`` — the
    DuckDB twin of :func:`passage_neardup_doc_pairs` hash-for-hash
    (same md5 words, universal-hash constants, band-key strings) INCL.
    the default auto bucket cap (same all-integer derivation)."""
    consts = uh_constants(_P_HASHES)
    r = _P_HASHES // _P_BANDS
    sigs = ",\n         ".join(
        f"list_min(list_transform(ws, w -> ({a} * w.w1 + {b} * w.w2 + {c})"
        f" % {UH_MOD})) AS mh_{i}"
        for i, (a, b, c) in enumerate(consts)
    )
    band_sel = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, pi, md5('{b}#' || "
        + " || ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        + ") AS band FROM __psig"
        for b in range(_P_BANDS)
    )
    return f"""__pt AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
__pp AS (
  SELECT doc_id, i AS pi,
         toks[(i - 1) * {_PW} + 1 : i * {_PW}] AS ptoks
  FROM __pt, unnest(range(1, len(toks) // {_PW} + 1)) AS u(i)
),
__ps AS (
  SELECT doc_id, pi,
         list_distinct(list_transform(range(1, {_PW - 1}),
           j -> ptoks[j] || ' ' || ptoks[j+1] || ' ' || ptoks[j+2])) AS s
  FROM __pp
),
__pw AS (
  SELECT doc_id, pi, list_transform(s, x -> struct_pack(
           w1 := ('0x' || substr(md5(x), 1, 8))::BIGINT,
           w2 := ('0x' || substr(md5(x), 9, 8))::BIGINT)) AS ws
  FROM __ps
),
__psig AS (
  SELECT doc_id, pi,
         {sigs}
  FROM __pw
),
__pbands AS (
  {band_sel}
),
__pbw AS (
  SELECT band, COUNT(*) AS w FROM __pbands GROUP BY band
),
__pcap AS (
  SELECT greatest({_AUTO_CAP_FLOOR},
                  COALESCE({_AUTO_CAP_MULT} * (CAST(SUM(w) AS BIGINT)
                             // greatest(COUNT(*), 1)),
                           {_AUTO_CAP_FLOOR})) AS cap
  FROM __pbw
),
__pbf AS (
  SELECT p.doc_id, p.pi, p.band
  FROM __pbands p JOIN __pbw bw USING (band) CROSS JOIN __pcap c
  WHERE bw.w <= c.cap
),
__pcand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.pi AS pi_a,
                  b.doc_id AS doc_b, b.pi AS pi_b
  FROM __pbf a JOIN __pbf b
    ON a.band = b.band AND a.doc_id < b.doc_id
),
__pver AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
  FROM __pcand c
  JOIN __ps a ON a.doc_id = c.doc_a AND a.pi = c.pi_a
  JOIN __ps b ON b.doc_id = c.doc_b AND b.pi = c.pi_b
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        >= {_P_JACCARD}
)"""


@query(
    "passage_neardup_pairs",
    bench=True,
    oracle=f"""
WITH {_passage_lsh_ctes()}
SELECT doc_a, doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_passage_pairs,
       MAX(jac) AS max_jaccard
FROM __pver
GROUP BY doc_a, doc_b
""",
)
def passage_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing ≥1 duplicated 20-token passage (exact or
    fuzzy, shingle-Jaccard ≥ 0.5), with the count of duplicated passage
    pairs and the max Jaccard — partial-overlap / quote detection
    between documents that are not document-level near-dups.  Runs the
    default auto bucket cap (mirrored in the oracle), so mass-
    boilerplate passages never reach the band join."""
    return passage_neardup_doc_pairs(_with_tokens(spark, sf_dir))


# --------------------------------------------------------------------------
# doc_ngram_novelty / source_overlap_matrix — shared 8-gram stream
# --------------------------------------------------------------------------

def _doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, source, g) — md5 of each DISTINCT 8-token shingle
    per document.  Only 16-byte-hex hashes leave the row stage; gram
    text never shuffles."""
    t = ensure_tokens(docs, "doc_id", "source")
    return t.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.array_distinct(shingles(F.col("toks"), _NG)),
                lambda s: F.md5(s),
            )
        ).alias("g"),
    )


def _doc_grams_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_doc_grams` stream over the sf_dir corpus (per-doc-DISTINCT
    8-gram md5 rows), the lazy plan doc_ngram_novelty and the
    source-overlap family each build on."""
    return _doc_grams(_with_tokens(spark, sf_dir))


_GRAMS_CTE = f"""__gt AS (SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents),
__g AS (
  SELECT doc_id, source, g
  FROM (
    SELECT doc_id, source,
           list_distinct(list_transform(
             range(1, greatest(len(toks) - {_NG - 1}, 0) + 1),
             i -> md5(array_to_string(toks[i : i + {_NG - 1}], ' ')))) AS gs
    FROM __gt
  ), unnest(gs) AS u(g)
)"""


@query(
    "doc_ngram_novelty",
    bench=True,
    oracle=f"""
WITH {_GRAMS_CTE},
__f AS (SELECT g, MIN(doc_id) AS first_doc FROM __g GROUP BY g)
SELECT gr.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(SUM(CASE WHEN f.first_doc < gr.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_seen_before,
       1.0 - CAST(SUM(CASE WHEN f.first_doc < gr.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) AS novelty
FROM __g gr JOIN __f f USING (g)
GROUP BY gr.doc_id
""",
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram novelty: the fraction of the doc's
    distinct 8-grams whose FIRST corpus occurrence (min doc_id) is
    the doc itself — the memorization-risk / contribution score
    first-occurrence dedup pipelines attribute before sampling.

    Plan: distinct grams per doc (row-local), one groupBy on the gram
    hash for the first-occurrence table (map-side combine,
    Zipf-collapsed), one equi-join back on the same key, one per-doc
    agg.  min(doc_id) makes "seen before" order-free — deterministic
    under any partitioning."""
    return ngram_novelty(
        _with_tokens(spark, sf_dir), grams=_doc_grams_m(spark, sf_dir)
    )


def ngram_novelty(docs: DataFrame, grams: DataFrame | None = None) -> DataFrame:
    """Core of :func:`doc_ngram_novelty` over any (doc_id, source,
    text) frame — separated so property tests can drive generated
    corpora.

    A gram is "seen before" iff its corpus-min doc_id is strictly
    smaller.  The first-occurrence doc is attached to every gram row by
    ONE window min over the gram hash, then a single per-doc aggregate
    counts grams and seen-before grams together: the gram stream
    (tokenize → 8-token shingle → md5, the dominant cost) is evaluated
    once and shuffled twice (by ``g`` for the window, by ``doc_id`` for
    the rollup).  The previous two-aggregate + join plan evaluated the
    stream TWICE — once per aggregate branch — for the same two
    shuffles (r12, guide §2.3; measured at sf0.1: 1.49 → 1.29 s min,
    1.63 → 1.38 s median).  min(doc_id) keeps "seen before" order-free
    — deterministic under any partitioning.
    """
    from pyspark.sql import Window

    g = (grams if grams is not None else _doc_grams(docs)).select(
        "doc_id", "g"
    )
    first = F.min("doc_id").over(Window.partitionBy("g"))
    return (
        g.withColumn("__first", first)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.sum((F.col("__first") < F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_seen_before"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_seen_before",
            (
                F.lit(1.0)
                - F.col("n_seen_before").cast("double") / F.col("n_ngrams")
            ).alias("novelty"),
        )
    )


@query(
    "source_overlap_matrix",
    oracle=f"""
WITH {_GRAMS_CTE},
__sg AS (SELECT DISTINCT source, g FROM __g),
__tot AS (SELECT source, COUNT(*) AS n_grams FROM __sg GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared,
       CAST(ANY_VALUE(t.n_grams) AS BIGINT) AS n_a,
       CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(t.n_grams) AS containment
FROM __sg a
JOIN __sg b ON a.g = b.g AND a.source <> b.source
JOIN __tot t ON t.source = a.source
GROUP BY a.source, b.source
""",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-pair 8-gram containment between sources:
    |grams(a) ∩ grams(b)| / |grams(a)| — the cross-dataset
    contamination matrix audited before mixing corpora (asymmetric:
    a small source quoted by a big one shows high containment from the
    small side only).

    Plan: distinct (source, gram-hash) rows, one self-equi-join on the
    gram hash (per-gram fan-out bounded by n_sources², never corpus
    size), per-source totals broadcast back.  Only hashes shuffle."""
    return overlap_matrix(
        _with_tokens(spark, sf_dir), grams=_doc_grams_m(spark, sf_dir)
    )


def overlap_matrix(
    docs: DataFrame,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Core of :func:`source_overlap_matrix` over any (doc_id, source,
    text) frame — separated so property tests can drive generated
    corpora.

    The distinct (source, gram) table is persisted for its three
    consumers (totals + both join sides), the n_sources²-bounded output
    is materialized, and the corpus-sized cache released (the
    operators/dedup.py discipline — repeated invocations must not
    accumulate executor storage)."""
    sg = (
        (grams if grams is not None else _doc_grams(docs))
        .select("source", "g")
        .distinct()
        .persist()
    )
    tot = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sg.select(F.col("source").alias("source_a"), "g")
    b = sg.select(F.col("source").alias("source_b"), "g")
    shared = (
        a.join(b, "g")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    out = shared.join(
        F.broadcast(tot.select(F.col("source").alias("source_a"), "n_grams")),
        "source_a",
    ).select(
        "source_a",
        "source_b",
        "n_shared",
        F.col("n_grams").cast("bigint").alias("n_a"),
        (F.col("n_shared").cast("double") / F.col("n_grams")).alias(
            "containment"
        ),
    )
    out = truncate(out)
    sg.unpersist()
    return out


# --------------------------------------------------------------------------
# source_overlap_kmv — the sketch tier of the containment audit.
# --------------------------------------------------------------------------

#: bottom-k size for the per-source gram sketch: rsd ≈ 1/√k ≈ 6% per
#: cardinality, ~9% for the containment ratio (bound pinned in tests)
_OVK_K = 256
#: pre-filter oversampling factor (the doc_stratified_sample cutoff
#: discipline): keep hashes below ~SAFETY·k/n of the hash range, so the
#: per-source bottom-k window sorts O(k) rows, not the full gram set.
#: The cutoff is PART OF THE SKETCH DEFINITION and mirrored in the
#: oracle, so parity is exact by construction.
_OVK_SAFETY = 4


#: flag threshold for the routed audit: pairs whose SKETCH containment
#: estimate reaches this run the exact matrix (mirrored in the oracle)
_OVA_TAU = 0.05

#: KMV/theta sketch chain shared by source_overlap_kmv and the routed
#: source_overlap_audit oracle — expects __g from _GRAMS_CTE in scope,
#: ends in __kmv(source_a, source_b, n_common, est_shared,
#: est_containment)
_KMV_CTES = f"""__sgh AS (SELECT DISTINCT source, ('0x' || substr(g, 1, 15))::BIGINT AS h FROM __g),
__n AS (SELECT source, COUNT(*) AS n FROM __sgh GROUP BY source),
__pref AS (
  SELECT s.source, s.h
  FROM __sgh s JOIN __n n USING (source)
  WHERE s.h < {bottomk_cutoff_sql("n.n", _OVK_K, _OVK_SAFETY)}
),
__rk AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM __pref
),
__bk AS (SELECT source, h FROM __rk WHERE rn <= {_OVK_K}),
__th AS (
  SELECT b.source,
         CASE WHEN n.n > {_OVK_K} THEN MAX(b.h) ELSE {POW60} END AS theta,
         MAX(b.h) AS kth, COUNT(*) AS n_kept
  FROM __bk b JOIN __n n USING (source) GROUP BY b.source, n.n
),
__cnt AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         ANY_VALUE(LEAST(ta.theta, tb.theta)) AS th
  FROM __bk a
  JOIN __bk b ON a.h = b.h AND a.source <> b.source
  JOIN __th ta ON ta.source = a.source
  JOIN __th tb ON tb.source = b.source
  WHERE a.h < LEAST(ta.theta, tb.theta)
  GROUP BY a.source, b.source
),
__kmv AS (
  SELECT source_a, source_b, n_common, est_shared,
         round(est_shared / est_a, 6) AS est_containment
  FROM (
    SELECT c.source_a, c.source_b, c.n_common,
           round(CAST(c.n_common AS DOUBLE) * {float(POW60)!r}
                 / CAST(c.th AS DOUBLE), 6) AS est_shared,
           round(CASE WHEN t.n_kept >= {_OVK_K}
                      THEN {float(_OVK_K - 1)!r} * {float(POW60)!r}
                           / CAST(t.kth AS DOUBLE)
                      ELSE CAST(t.n_kept AS DOUBLE) END, 6) AS est_a
    FROM __cnt c JOIN __th t ON t.source = c.source_a
  )
)"""


@query(
    "source_overlap_kmv",
    oracle=f"""
WITH {_GRAMS_CTE},
{_KMV_CTES}
SELECT source_a, source_b, n_common, est_shared, est_containment
FROM __kmv
""",
)
def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier twin of :func:`source_overlap_matrix`: estimate the
    pairwise 8-gram containment |grams(a) ∩ grams(b)| / |grams(a)| from
    per-source bottom-256 KMV/theta sketches instead of joining every
    distinct (source, gram) row.

    Below the shared threshold θ = min(θ_a, θ_b) both sketches are
    uniform samples of their gram sets, so |common hashes < θ|·2^60/θ
    estimates the true intersection (theta-sketch intersection) and the
    KMV estimate (k−1)·2^60/h₍ₖ₎ the per-source cardinality; their
    ratio is the containment.  At 100 TB this replaces the exact
    matrix's distinct-(source, gram) self-join — whose shuffle carries
    every distinct gram in the corpus — with one distinct pass + a
    cutoff pre-filter (bottom-k of a uniform hash lies below
    ~SAFETY·k/n of the range — the doc_stratified_sample discipline,
    cutoff mirrored in the oracle) + an n_sources·k-row sketch join.
    Run the exact matrix only on the pairs this audit flags."""
    return overlap_kmv(
        _with_tokens(spark, sf_dir), grams=_doc_grams_m(spark, sf_dir)
    )


def overlap_kmv(
    docs: DataFrame,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Core of :func:`source_overlap_kmv` over any (doc_id, source,
    text) frame — separated so the error-bound tests can drive
    generated corpora (persist / truncate / unpersist as in
    :func:`overlap_matrix`)."""
    from pyspark.sql import Window

    sgh = (
        (grams if grams is not None else _doc_grams(docs))
        .select(
            "source",
            F.conv(F.substring("g", 1, 15), 16, 10).cast("long").alias("h"),
        )
        .distinct()
        .persist()
    )
    pref, n = bottomk_prefilter(sgh, "source", _OVK_K, _OVK_SAFETY)
    w = Window.partitionBy("source").orderBy("h")
    bk = (
        pref.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _OVK_K)
        .select("source", "h")
    )
    th = (
        bk.groupBy("source")
        .agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("n_kept"))
        .join(F.broadcast(n), "source")
        .select(
            "source",
            F.when(F.col("n") > _OVK_K, F.col("kth"))
            .otherwise(F.lit(POW60).cast("long"))
            .alias("theta"),
            "kth",
            "n_kept",
        )
    )
    a = bk.select(F.col("source").alias("source_a"), "h")
    b = bk.select(F.col("source").alias("source_b"), "h")
    ta = th.select(
        F.col("source").alias("source_a"),
        F.col("theta").alias("theta_a"),
        F.col("kth").alias("kth_a"),
        F.col("n_kept").alias("n_kept_a"),
    )
    tb = th.select(
        F.col("source").alias("source_b"), F.col("theta").alias("theta_b")
    )
    least_th = F.least("theta_a", "theta_b")
    cnt = (
        a.join(b, "h")
        .filter(F.col("source_a") != F.col("source_b"))
        .join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .filter(F.col("h") < least_th)
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.first(least_th).alias("th"),
            F.first("kth_a").alias("kth_a"),
            F.first("n_kept_a").alias("n_kept_a"),
        )
    )
    est_shared = F.round(
        F.col("n_common").cast("double")
        * F.lit(float(POW60))
        / F.col("th").cast("double"),
        6,
    )
    est_a = F.round(
        F.when(
            F.col("n_kept_a") >= _OVK_K,
            F.lit(float(_OVK_K - 1))
            * F.lit(float(POW60))
            / F.col("kth_a").cast("double"),
        ).otherwise(F.col("n_kept_a").cast("double")),
        6,
    )
    out = cnt.select(
        "source_a",
        "source_b",
        "n_common",
        est_shared.alias("est_shared"),
        est_a.alias("est_a"),
    ).select(
        "source_a",
        "source_b",
        "n_common",
        "est_shared",
        F.round(F.col("est_shared") / F.col("est_a"), 6).alias(
            "est_containment"
        ),
    )
    out = truncate(out)
    sgh.unpersist()
    return out


# --------------------------------------------------------------------------
# source_overlap_audit — the DEFAULT containment audit: sketch-first,
# exact only on flagged pairs.
# --------------------------------------------------------------------------

_OVA_SCHEMA = (
    "source_a string, source_b string, n_shared bigint, n_a bigint,"
    " containment double, est_containment double"
)


@query(
    "source_overlap_audit",
    oracle=f"""
WITH {_GRAMS_CTE},
{_KMV_CTES},
__flag AS (
  SELECT source_a, source_b, est_containment
  FROM __kmv WHERE est_containment >= {_OVA_TAU!r}
),
__fsrc AS (
  SELECT source_a AS s FROM __flag
  UNION SELECT source_b FROM __flag
),
__fsg AS (
  SELECT DISTINCT source, g FROM __g
  WHERE source IN (SELECT s FROM __fsrc)
),
__ftot AS (SELECT source, COUNT(*) AS n_grams FROM __fsg GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared,
       CAST(ANY_VALUE(t.n_grams) AS BIGINT) AS n_a,
       CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(t.n_grams) AS containment,
       ANY_VALUE(f.est_containment) AS est_containment
FROM __fsg a
JOIN __flag f ON f.source_a = a.source
JOIN __fsg b ON a.g = b.g AND b.source = f.source_b
JOIN __ftot t ON t.source = a.source
GROUP BY a.source, b.source
""",
)
def source_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE registered cross-source containment audit (sketch-first —
    VERDICT_r6 item #2): the KMV/theta sketch estimates every ordered
    pair's containment from n_sources·256-hash sketches, and only the
    pairs estimated at ≥ 0.05 run the exact distinct-(source, gram)
    join — restricted to the flagged sources' documents, so the exact
    stage's scan and shuffle are bounded by the flagged slice, never
    the corpus.  SCALING.md shows the full exact matrix's wall growing
    superlinearly with corpus size while the sketch pass stays flat;
    this routed face keeps the exact join's cost proportional to the
    (few) flagged sources.  source_overlap_matrix remains registered
    for bounded corpora / explicit full-matrix requests."""
    return overlap_audit(
        _with_tokens(spark, sf_dir), grams=_doc_grams_m(spark, sf_dir)
    )


def overlap_audit(
    docs: DataFrame,
    tau: float = _OVA_TAU,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Core of :func:`source_overlap_audit`: KMV sketch estimates →
    flag pairs at ``tau`` → exact containment on flagged sources only.

    The flagged-pair collect is bounded by n_sources² (the audit's own
    output bound — the probed-cell-ids discipline of operators/pq.py),
    and the exact stage filters the document scan to flagged sources
    BEFORE tokenize/shingle, so the predicate pushes into the parquet
    scan."""
    spark = docs.sparkSession
    est = overlap_kmv(docs, grams=grams)
    flagged = est.filter(F.col("est_containment") >= tau).select(
        "source_a", "source_b", "est_containment"
    )
    pairs = flagged.collect()
    if not pairs:
        return spark.createDataFrame([], _OVA_SCHEMA)
    srcs = sorted({r.source_a for r in pairs} | {r.source_b for r in pairs})
    # _doc_grams is row-local, so filtering the passed gram stream by
    # source equals computing grams over the filtered documents
    exact = overlap_matrix(
        docs.filter(F.col("source").isin(srcs)),
        grams=(
            grams.filter(F.col("source").isin(srcs))
            if grams is not None
            else None
        ),
    )
    flag_df = spark.createDataFrame(
        [(r.source_a, r.source_b, r.est_containment) for r in pairs],
        "source_a string, source_b string, est_containment double",
    )
    return exact.join(F.broadcast(flag_df), ["source_a", "source_b"]).select(
        "source_a",
        "source_b",
        "n_shared",
        "n_a",
        "containment",
        "est_containment",
    )


# --------------------------------------------------------------------------
# diversity_sample_lsh
# --------------------------------------------------------------------------

def _div_planes_sql() -> str:
    from bigdatamlteamrepo_spark.operators.similarity import hyperplane_values

    rows = []
    for p in range(_DIV_PLANES):
        vals = hyperplane_values(_DIV_DIM, p, _DIV_SEED)
        lit = "[" + ", ".join(repr(v) for v in vals) + "]"
        rows.append(f"({p}, {lit}::DOUBLE[])")
    return ",\n    ".join(rows)


@query(
    "diversity_sample_lsh",
    oracle=f"""
WITH __planes(plane_id, p) AS (VALUES
    {_div_planes_sql()}),
__bits AS (
  SELECT e.vec_id, pl.plane_id,
         CASE WHEN list_sum(list_transform(range(1, {_DIV_DIM} + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i])) >= 0
              THEN '1' ELSE '0' END AS bit
  FROM embeddings e CROSS JOIN __planes pl
),
__sig AS (
  SELECT vec_id, string_agg(bit, '' ORDER BY plane_id) AS bucket
  FROM __bits GROUP BY vec_id
)
SELECT bucket,
       CAST(MIN(vec_id) AS BIGINT) AS rep_vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM __sig GROUP BY bucket
""",
)
def diversity_sample_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One representative embedding per RP-LSH sign-bucket: the
    index-free diversity downsample (keep one doc per semantic region;
    8 sign bits → ≤256 regions).  The same
    hyperplane family/seed as the ANN tier, so the bucket structure is
    consistent with the near-dup and top-k operators.

    Plan: the signature is a row-local expression (fixed-order fold
    dots against literal hyperplanes — no fit, no index, no shuffle to
    build); the only shuffle is one groupBy on the ≤2^planes-
    cardinality bucket key with map-side partial min/count.  At 100 TB
    the bucket count is a knob: planes scale the region granularity
    (each +1 plane doubles regions) with zero additional passes."""
    from bigdatamlteamrepo_spark.functions.vectors import dot
    from bigdatamlteamrepo_spark.operators.similarity import _hyperplane

    emb = load_table(spark, sf_dir, "embeddings")
    bits = [
        F.when(
            dot(F.col("embedding"), _hyperplane(_DIV_DIM, p, _DIV_SEED)) >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in range(_DIV_PLANES)
    ]
    return (
        emb.select("vec_id", F.concat(*bits).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.min("vec_id").cast("bigint").alias("rep_vec_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
    )


# --------------------------------------------------------------------------
# Distinct-n diversity: per-source type/token ratios at n = 1, 2, 3 —
# the "distinct-n" metrics generation and corpus papers report (Li et
# al. 2016).  A source whose distinct-2/3 ratios sit far below its
# peers is template-heavy (the same constructions repeated), which
# repetition metrics at DOCUMENT granularity miss when each individual
# doc looks clean.  One scan: each doc emits its 1/2/3-gram streams
# tagged with n, and the rollup is a single (source, n, gram)-keyed
# distinct count — map-side combine collapses the Zipf head before the
# shuffle, so shuffled bytes track DISTINCT grams, not corpus tokens.
# --------------------------------------------------------------------------


def _ngram_sql(n: int) -> str:
    """DuckDB n-gram stream over ``toks`` (twin of functions/text.py
    ``shingles``: space-joined, empty when the doc is shorter than n)."""
    if n == 1:
        return "toks"
    joined = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(range(1, len(toks) - {n - 1} + 1), i -> {joined}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def _tagged_gram_hashes(t: DataFrame, as_int: bool = True) -> DataFrame:
    """(source, n, gh) for n ∈ {1, 2, 3}: each doc's per-width DISTINCT
    grams as 60-bit md5-prefix BIGINTs (operators/sketches.h60 form —
    8-byte shuffle keys instead of 32-hex strings), all widths tagged
    in ONE pass.  ``t`` is (source, toks).

    ``as_int=False`` keeps gh as the raw 15-hex SUBSTRING: the hex→int
    ``conv`` parse costs more per gram than the 7 extra key bytes it
    saves in the shuffle (r13 interleaved A/B on source_distinct_ngrams
    at sf0.1: 2.45 → 2.18 s min, 2.61 → 2.26 s med).  Distinct/grouped
    counts over the string equal counts over the int (the hex→int map
    is a bijection), so exact-count consumers use the string form; the
    HLL face needs register ARITHMETIC on gh and keeps the BIGINT."""

    def _tag(n: int):
        # NB: a 2-arg lambda to F.transform receives (element, index),
        # so n is bound via this closure factory, never a default arg
        hexpart = lambda g: F.substring(F.md5(g), 1, 15)  # noqa: E731
        if as_int:
            return lambda g: F.struct(
                F.lit(n).alias("n"),
                F.conv(hexpart(g), 16, 10).cast("long").alias("gh"),
            )
        return lambda g: F.struct(
            F.lit(n).alias("n"), hexpart(g).alias("gh")
        )

    # distinct BEFORE hashing: md5+conv run once per distinct gram per
    # doc instead of once per occurrence (the unigram stream repeats
    # ~40% of its tokens).  Value-identical downstream even under a
    # within-doc 60-bit collision: the count face groups by gh and the
    # HLL face is duplicate-insensitive (r12, guide §1.2 per-task work;
    # measured at sf0.1, stream alone: 1.90 → 1.54 s median).
    streams = [
        F.transform(
            F.array_distinct(shingles(F.col("toks"), n)),
            _tag(n),
        )
        for n in (1, 2, 3)
    ]
    return t.select(
        "source", F.explode(F.concat(*streams)).alias("x")
    ).select("source", F.col("x.n").alias("n"), F.col("x.gh").alias("gh"))


@query(
    "source_distinct_ngrams",
    bench=True,
    oracle=f"""
WITH t AS (SELECT source, {_TOKENS_SQL} AS toks FROM documents),
sz AS (
  SELECT source, n, CAST(SUM(c) AS BIGINT) AS total_ngrams
  FROM (
    SELECT source, 1 AS n, greatest(len(toks), 0) AS c FROM t
    UNION ALL
    SELECT source, 2 AS n, greatest(len(toks) - 1, 0) AS c FROM t
    UNION ALL
    SELECT source, 3 AS n, greatest(len(toks) - 2, 0) AS c FROM t
  ) GROUP BY source, n
),
h AS (
  SELECT source, 1 AS n,
         unnest(list_distinct(list_transform({_ngram_sql(1)}, g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS gh
  FROM t
  UNION ALL
  SELECT source, 2 AS n,
         unnest(list_distinct(list_transform({_ngram_sql(2)}, g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS gh
  FROM t
  UNION ALL
  SELECT source, 3 AS n,
         unnest(list_distinct(list_transform({_ngram_sql(3)}, g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS gh
  FROM t
),
ty AS (
  SELECT source, n, CAST(COUNT(DISTINCT gh) AS BIGINT) AS distinct_ngrams
  FROM h GROUP BY source, n
)
SELECT sz.source, sz.n, sz.total_ngrams, ty.distinct_ngrams,
       CAST(ty.distinct_ngrams AS DOUBLE) / sz.total_ngrams AS distinct_ratio
FROM sz JOIN ty ON sz.source = ty.source AND sz.n = ty.n
""",
)
def source_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, n) distinct-n diversity for n ∈ {1, 2, 3}: total
    n-gram tokens, distinct n-gram types, and the type/token ratio.

    Plan: totals never explode — per-doc gram counts are the arithmetic
    ``max(len - n + 1, 0)``, aggregated in one row-local-width shuffle.
    The type counts shuffle only per-doc-DISTINCT 60-bit gram hashes
    (row-local distinct first, the novelty-query discipline), two-level
    grouped so map-side combine collapses the Zipf head; shuffled bytes
    track distinct types, never corpus tokens.  The ratio is
    integer-over-integer, bit-deterministic."""
    t = ensure_tokens(_with_tokens(spark, sf_dir), "source")
    # one scan for all three widths: aggregate the three per-doc count
    # arithmetics together, then unpivot the 20-row result to (source,
    # n) — the previous 3-way union scanned the token frame
    # three times for the same numbers (NOTES_r9, VERDICT_r8 #4)
    per_src = t.groupBy("source").agg(
        *[
            F.sum(
                F.greatest(F.size("toks") - F.lit(n - 1), F.lit(0))
            ).cast("bigint").alias(f"t{n}")
            for n in (1, 2, 3)
        ]
    )
    totals = per_src.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("n"),
                        F.col(f"t{n}").alias("total_ngrams"),
                    )
                    for n in (1, 2, 3)
                ]
            )
        ).alias("x"),
    ).select("source", "x.n", "x.total_ngrams")
    # gh stays the 15-hex substring — same distinct counts (hex→int is
    # a bijection), no conv parse per gram (r13; see
    # _tagged_gram_hashes)
    collapsed = (
        _tagged_gram_hashes(t, as_int=False)
        .groupBy("source", "n", "gh")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    types = collapsed.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("bigint").alias("distinct_ngrams")
    )
    return totals.join(types, ["source", "n"]).select(
        "source",
        "n",
        "total_ngrams",
        "distinct_ngrams",
        (
            F.col("distinct_ngrams").cast("double") / F.col("total_ngrams")
        ).alias("distinct_ratio"),
    )


# --------------------------------------------------------------------------
# Contamination width sensitivity: the 8-token decontamination window
# is a judgment call (WMDP/GPT-3-style audits use 8–13; shorter windows
# over-flag common phrases, longer ones miss partial quotes).  This
# sweep reports, per (gram width, source), how many training docs the
# audit would flag — the evidence a curator reads before pinning the
# production width.  One tagged pass like source_distinct_ngrams: each
# doc emits its per-width DISTINCT md5'd gram streams; each width's
# eval gram set is benchmark-sized and broadcast.
# --------------------------------------------------------------------------

_CW_WIDTHS = [6, 8, 13]
_CW_EVAL_N = 20  # eval stand-in convention (queries/pipeline._EVAL_N)


@query(
    "contamination_width_sweep",
    oracle=f"""
WITH t AS (SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents),
h AS (
  {" UNION ALL ".join(
    f'''SELECT doc_id, source, {w} AS width,
       unnest(list_distinct(list_transform({_ngram_sql(w)}, g -> md5(g)))) AS gh
  FROM t'''
    for w in _CW_WIDTHS
  )}
),
ev AS (
  SELECT DISTINCT width, gh FROM h WHERE doc_id < {_CW_EVAL_N}
),
c AS (
  SELECT DISTINCT h.width, h.doc_id, h.source
  FROM h JOIN ev ON h.width = ev.width AND h.gh = ev.gh
  WHERE h.doc_id >= {_CW_EVAL_N}
),
n AS (
  SELECT source, COUNT(*) AS n_train_docs FROM documents
  WHERE doc_id >= {_CW_EVAL_N} GROUP BY source
)
SELECT c.width, c.source, n.n_train_docs,
       CAST(COUNT(*) AS BIGINT) AS n_contaminated,
       CAST(COUNT(*) AS DOUBLE) / n.n_train_docs AS contam_frac
FROM c JOIN n ON c.source = n.source
GROUP BY c.width, c.source, n.n_train_docs
""",
)
def contamination_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(gram width ∈ {6, 8, 13}, source): training docs (doc_id ≥
    20) sharing at least one exact width-token gram with the eval
    stand-in, with the per-source training-doc denominator and rate.
    Sources with zero flagged docs at a width simply have no row for
    it (the audit reports hits, not a dense grid).

    Plan: each width's eval gram set stays benchmark-sized (broadcast);
    the corpus emits per-doc-distinct md5 gram hashes for all widths in
    ONE tagged scan, so the sweep costs one corpus pass regardless of
    how many widths it audits.  Counts are exact; the rate is
    integer-over-integer."""
    docs = _with_tokens(spark, sf_dir)
    t = ensure_tokens(docs, "doc_id", "source")

    def _tag(w: int):
        # 2-arg transform lambdas receive (element, index) — bind w
        # via closure, never a default arg
        return lambda g: F.struct(F.lit(w).alias("width"), g.alias("gh"))

    streams = [
        F.transform(
            F.array_distinct(
                F.transform(shingles(F.col("toks"), w), lambda g: F.md5(g))
            ),
            _tag(w),
        )
        for w in _CW_WIDTHS
    ]
    h = t.select(
        "doc_id", "source", F.explode(F.concat(*streams)).alias("x")
    ).select(
        "doc_id", "source", F.col("x.width").alias("width"), F.col("x.gh").alias("gh")
    )
    ev = (
        h.filter(F.col("doc_id") < _CW_EVAL_N)
        .select("width", "gh")
        .distinct()
    )
    c = (
        h.filter(F.col("doc_id") >= _CW_EVAL_N)
        .join(F.broadcast(ev), ["width", "gh"], "left_semi")
        .select("width", "doc_id", "source")
        .distinct()
    )
    n = (
        docs.filter(F.col("doc_id") >= _CW_EVAL_N)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_train_docs"))
    )
    return (
        c.groupBy("width", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated"))
        .join(F.broadcast(n), "source")
        .select(
            "width",
            "source",
            "n_train_docs",
            "n_contaminated",
            (
                F.col("n_contaminated").cast("double")
                / F.col("n_train_docs")
            ).alias("contam_frac"),
        )
    )


# --------------------------------------------------------------------------
# HLL twin of the distinct-n type counts: at 100 TB the EXACT type
# count shuffles every distinct gram once (fine when the audit is the
# point); the monitoring path wants the 2^p-register estimate — one
# wide agg whose state per (source, n) is 64 small ints, no distinct
# shuffle at all.  p=6 (not 8): DuckDB's expression binder recursion
# cap (128) cannot hold a 256-term nested addition, and the oracle
# mirrors the finalize term-for-term — rse 1.04/√64 ≈ 13%, fine for a
# monitor.  Registers are deterministic (conditional MAX over the
# same 60-bit hashes), so the ESTIMATE is oracle-exact; accuracy vs
# the exact counts is pinned separately (test_curation.py).
# --------------------------------------------------------------------------

_DN_HLL_P = 6


@query(
    "source_distinct_ngrams_hll",
    oracle=f"""
WITH t AS (SELECT source, {_TOKENS_SQL} AS toks FROM documents),
h AS (
  {" UNION ALL ".join(
    f'''SELECT source, {n} AS n,
       unnest(list_distinct(list_transform({_ngram_sql(n)},
         g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS gh
  FROM t'''
    for n in (1, 2, 3)
  )}
),
regs AS (
  SELECT source, n, {", ".join(__import__('bigdatamlteamrepo_spark.operators.sketches', fromlist=['hll_agg_exprs_sql']).hll_agg_exprs_sql('gh', _DN_HLL_P))}
  FROM h GROUP BY source, n
)
SELECT source, n,
       {__import__('bigdatamlteamrepo_spark.operators.sketches', fromlist=['hll_agg_finalize_sql']).hll_agg_finalize_sql(_DN_HLL_P)} AS approx_distinct_ngrams
FROM regs
""",
)
def source_distinct_ngrams_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, n ∈ {1, 2, 3}) APPROXIMATE distinct n-gram types:
    64-register HLL over the same 60-bit gram hashes the exact query
    shuffles.  The monitoring face for corpora where the exact distinct
    shuffle is the dominant cost; also the single-aggregation shape a
    streaming diversity monitor needs.  Estimate accuracy vs the exact
    counts: |err| ≤ 3σ ≈ 40% at p=6, pinned in tests/test_curation.py.
    """
    from bigdatamlteamrepo_spark.operators.sketches import (
        hll_agg_exprs,
        hll_agg_finalize,
    )

    t = ensure_tokens(_with_tokens(spark, sf_dir), "source")
    h = _tagged_gram_hashes(t)
    regs = h.groupBy("source", "n").agg(
        *hll_agg_exprs(F.col("gh"), _DN_HLL_P)
    )
    return regs.select(
        "source",
        "n",
        hll_agg_finalize(_DN_HLL_P).alias("approx_distinct_ngrams"),
    )


# --------------------------------------------------------------------------
# Heavy-hitter phrases per source: WHICH recurring 8-grams dominate a
# source — the face a curator actually reads when the repetition /
# novelty numbers look bad (headers, disclaimers, navigation chrome).
# One grouped count over the gram stream (map-side combine collapses
# the Zipf head, so shuffled rows track distinct (source, gram)s) and
# a per-source top-k window over the already-aggregated table.
# --------------------------------------------------------------------------

_TOPG_K = 5


@query(
    "source_top_ngrams",
    oracle=f"""
WITH t AS (SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents),
g AS (
  SELECT doc_id, source, unnest({_ngram_sql(_NG)}) AS gram FROM t
),
a AS (
  SELECT source, gram,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM g GROUP BY source, gram
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY n_occurrences DESC, gram) AS rank
  FROM a
)
SELECT source, rank, gram, n_occurrences, n_docs
FROM r WHERE rank <= {_TOPG_K}
""",
)
def source_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 8-grams per source by occurrence count (ties broken on
    gram text), with the number of distinct docs carrying each — the
    "what exactly is repeated" report behind the repetition metrics.

    Plan: one gram explode → (source, gram) hash agg (the partial agg
    eats the Zipf head before the shuffle) → per-source top-k window
    over the aggregated table (rows = distinct grams, not tokens).
    The output carries gram TEXT because a human reads it; the
    counting itself never compares more than the aggregated rows."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    g = docs.select(
        "doc_id",
        "source",
        F.explode(shingles(tokenize("text"), _NG)).alias("gram"),
    )
    # two-level agg, not count+countDistinct in one (that plans an
    # Expand that doubles the token-level gram stream): collapse to
    # (source, gram, doc) counts first — map-side combined — then the
    # distinct-doc count is a plain count over the collapsed table
    a = (
        g.groupBy("source", "gram", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source", "gram")
        .agg(
            F.sum("c").cast("bigint").alias("n_occurrences"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_occurrences"), F.asc("gram")
    )
    return (
        a.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPG_K)
        .select("source", "rank", "gram", "n_occurrences", "n_docs")
    )

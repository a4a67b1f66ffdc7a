"""Passage-granularity dedup + per-document keyword extraction.

* **Exact passage dedup** (Lee et al. 2021, "Deduplicating Training
  Data Makes Language Models Better": exact substring dedup at ~50-token
  window granularity; adapted here to non-overlapping fixed-width token
  passages — the corpus has no sentence punctuation, so token windows
  ARE the honest passage unit).  A passage is duplicated when its exact
  token sequence appears in ≥ 2 distinct documents; the per-source
  report is the "how much of my corpus is boilerplate" audit that runs
  before near-dup LSH (exact passage hits are cheaper to find and
  account for most training-data memorization risk).

* **TF-IDF top-terms** (doc keyword extraction): the classic per-doc
  ranking, with the tf·idf score quantized to an exact integer BEFORE
  ranking (tf is an integer, idf is micro-quantized once per term), so
  the per-doc top-k cutoff can never be perturbed by float noise or
  cross-engine ULP differences — the same fixed-point discipline as the
  LM tier (queries/textmodel.py).

Scale shapes: passage dedup is one explode (corpus → corpus/W passage
rows) + one hash-keyed groupBy with map-side combine + one equi-join of
the passage stream against the (much smaller) duplicated-hash table;
TF-IDF is explode → (doc, term) count → term-df join (shuffle on term,
Zipf head handled by AQE) → per-doc window over per-doc-term rows.  No
stage is quadratic; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.functions.text import ensure_tokens, tokenize
from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.queries.registry import query
from bigdatamlteamrepo_spark.queries.text_dedup import _TOKENS_SQL, _with_tokens

#: passage width in tokens (Lee et al. use 50-token windows at web
#: scale; 20 matches the synthetic corpus' ~50-token documents so the
#: driver corpus exercises multi-passage docs)
PASSAGE_W = 20
#: fixed-point scale for idf quantization (micro-nats, house rule)
_MICRO = 1_000_000

_PASSAGES_CTE = f"""
t AS (
  SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents
),
p AS (
  SELECT doc_id, source,
         md5(array_to_string(
           toks[(i - 1) * {PASSAGE_W} + 1 : i * {PASSAGE_W}], ' ')) AS pkey
  FROM t, unnest(range(1, len(toks) // {PASSAGE_W} + 1)) AS u(i)
),
d AS (
  SELECT pkey, COUNT(DISTINCT doc_id) AS ndocs FROM p GROUP BY pkey
)
"""


@query(
    "passage_dedup_summary",
    bench=True,
    oracle=f"""
WITH {_PASSAGES_CTE}
SELECT p.source,
       COUNT(*) AS n_passages,
       CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_instances,
       CAST(COUNT(DISTINCT CASE WHEN d.ndocs >= 2 THEN p.doc_id END) AS BIGINT)
         AS n_docs_with_dup
FROM p JOIN d USING (pkey)
GROUP BY p.source
""",
)
def passage_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-passage duplication audit: how many
    {PASSAGE_W}-token passages exist, how many of their instances are
    cross-document duplicates (the passage's exact token sequence
    appears in ≥2 distinct docs), and how many docs carry at least one
    duplicated passage.

    Plan: ONE tokenize+chunk pass feeds the passage stream; the
    global passage-frequency table groups on the md5 passage key
    (map-side partial agg collapses repeats — at 100 TB the table is
    bounded by DISTINCT passages, Zipf-collapsed); the stream re-joins
    the frequency table on the same key (both sides hash-partitioned,
    one shuffle each) and rolls up per source.  Only hashes shuffle —
    never passage text."""
    return passage_dedup_stats(_with_tokens(spark, sf_dir))


def passage_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, source, pkey) — md5 keys of the non-overlapping
    {PASSAGE_W}-token passages of every document.  One expression-only
    pass (tokenize → chunk → hash); works identically on a batch frame
    or a streaming source, which is what the incremental streaming
    probe (streaming/passages.py) relies on."""
    t = ensure_tokens(docs, "doc_id", "source")
    return t.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.size("toks") >= PASSAGE_W,
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.floor(F.size("toks") / PASSAGE_W).cast("int"),
                    ),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ",
                            F.slice(
                                "toks", (i - 1) * PASSAGE_W + 1, F.lit(PASSAGE_W)
                            ),
                        )
                    ),
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        ).alias("pkey"),
    )


def passage_dedup_stats(docs: DataFrame) -> DataFrame:
    """Core of :func:`passage_dedup_summary` over any (doc_id, source,
    text) frame — separated so property tests can drive it with
    generated corpora.

    ``ndocs`` is attached by a window over the passage key rather than
    a groupBy + join-back: the join-back plan evaluated the passage
    stream (tokenize → chunk → md5) TWICE — once per branch — for the
    same one shuffle on ``pkey`` (r12, guide §2.3/§2.4; measured at
    sf0.1: 0.65 → 0.43 s min, 1.35 → 0.48 s median).  Per-``pkey``
    groups are instance counts of one exact passage — collect_set holds
    the distinct doc ids of one duplicated passage, bounded by its
    duplication width, never corpus size."""
    p = passage_keys(docs)
    j = p.withColumn(
        "ndocs",
        F.size(F.collect_set("doc_id").over(Window.partitionBy("pkey"))),
    )
    is_dup = F.col("ndocs") >= 2
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(is_dup.cast("int")).cast("bigint").alias("n_dup_instances"),
        F.countDistinct(F.when(is_dup, F.col("doc_id")))
        .cast("bigint")
        .alias("n_docs_with_dup"),
    )


@query(
    "doc_tfidf_top_terms",
    bench=True,
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
n AS (SELECT COUNT(*) AS n_docs FROM t WHERE len(toks) > 0),
td AS (
  SELECT doc_id, unnest(toks) AS term FROM t
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM td GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(*) AS df,
         CAST(round(ln(CAST(n.n_docs AS DOUBLE) / COUNT(*)) * {_MICRO})
              AS BIGINT) AS idf_micro
  FROM (SELECT DISTINCT doc_id, term FROM td) x CROSS JOIN n
  GROUP BY term, n.n_docs
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf * df.idf_micro AS BIGINT) AS tfidf_micro
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       tfidf_micro, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf_micro DESC, term) AS rnk
  FROM scored
) WHERE rnk <= 3
""",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — keyword extraction as pure
    relational algebra.  idf = ln(N/df) is micro-quantized ONCE per
    term (a BIGINT in the term table); the ranking key tf·idf_micro is
    then exact integer arithmetic, so the top-3 cutoff is deterministic
    under any partitioning and bit-identical across engines (ties break
    on the term string).

    Scale: the (doc, term) frame is the exploded corpus collapsed by
    one groupBy; the df/idf table is vocabulary-sized and joins on
    ``term`` (AQE broadcast at driver SFs, hash join with the Zipf head
    handled when the vocab outgrows the threshold); the top-3 window
    partitions by doc over per-doc-term rows."""
    return tfidf_top_terms(_with_tokens(spark, sf_dir))


def tfidf_top_terms(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """Core of :func:`doc_tfidf_top_terms` over any (doc_id, text)
    frame — separated so property tests can drive it with generated
    corpora.

    ``df`` is derived FROM the tf table: tf is distinct on (doc, term)
    by construction, so rows-per-term in tf IS the document frequency —
    attached by one window count over ``term``.  The former plan
    re-exploded the corpus for a ``distinct()`` branch and joined the
    df table back on term: one extra corpus explode + one extra
    full-stream shuffle for numbers the tf table already contains
    (r12, guide §2.3/§2.4; measured at sf0.1: 0.97 → 0.89 s min,
    1.13 → 1.02 s median, scans 6 → 4)."""
    t = ensure_tokens(docs, "doc_id")
    td = t.filter(F.size("toks") > 0).select(
        "doc_id", F.explode("toks").alias("term")
    )
    n_docs = t.filter(F.size("toks") > 0).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tf = td.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf_micro = F.round(
        F.log(F.col("n_docs").cast("double") / F.col("df")) * _MICRO
    ).cast("bigint")
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            (F.col("tf") * idf_micro).cast("bigint").alias("tfidf_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_micro"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= top_k)
    )


# --------------------------------------------------------------------------
# Exact-substring SPAN dedup (stride-1): Lee et al. 2021's ExactSubstr
# shape.  Where passage_dedup_summary audits NON-overlapping fixed
# chunks, this tier slides a w-token window at stride 1, finds every
# window whose exact token sequence occurs ≥2 times anywhere in the
# corpus (cross-doc boilerplate AND within-doc repetition), and merges
# overlapping/adjacent duplicated windows into maximal cut spans — the
# actionable byte ranges ExactSubstr removes, not just a count.
#
# Scale: Lee et al. build a suffix array; the Spark-idiomatic
# equivalent is this rolling window-hash stream — one row per token
# (stride 1), i.e. O(corpus tokens), exactly the suffix-array's input
# size, with the duplicated-hash table Zipf-collapsed far below it.
# The stream shuffles once to count hashes and once to re-join the dup
# table; the island merge windows only over DUP windows (a small
# fraction of the stream).  No stage is quadratic; no UDFs.
# --------------------------------------------------------------------------

#: stride-1 window width in tokens (Lee et al. use 50-token windows at
#: web scale; 15 scales to the synthetic corpus' ~54-token documents so
#: spans are sub-document and multi-span docs exist)
SPAN_W = 15

def span_merge_sql(w: int, src: str = "dw") -> str:
    """The ``isl``/``spans`` oracle CTEs mirroring
    :func:`merge_windows_to_spans` over a (doc_id, source, start) CTE
    named ``src`` — shared by every span-producing oracle."""
    return f"""isl AS (
  SELECT doc_id, source, start,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM (
    SELECT *, CASE WHEN start - LAG(start) OVER (
                     PARTITION BY doc_id ORDER BY start) <= {w}
                   THEN 0 ELSE 1 END AS brk
    FROM {src}
  )
),
spans AS (
  SELECT doc_id, source,
         CAST(MIN(start) AS INT) AS span_start,
         CAST(MAX(start) + {w} - 1 AS INT) AS span_end,
         CAST(MAX(start) - MIN(start) + {w} AS INT) AS span_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_windows
  FROM isl GROUP BY doc_id, source, island
)"""


_SPAN_WINDOWS_CTE = f"""
t AS (
  SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents
),
w AS (
  SELECT doc_id, source, CAST(i AS INT) AS start,
         md5(array_to_string(toks[i:i + {SPAN_W} - 1], ' ')) AS h
  FROM t, unnest(range(1, len(toks) - {SPAN_W} + 2)) AS u(i)
),
d AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
dw AS (SELECT w.doc_id, w.source, w.start FROM w JOIN d USING (h)),
{span_merge_sql(SPAN_W)}
"""


def window_hashes(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """(doc_id, source, start, h) — md5 keys of every stride-1 w-token
    window, 1-based start offset.  One expression-only pass: hashes are
    computed inside ``transform`` over the token array, then ONLY the
    (pos, hash) pairs explode — the token array never fans out."""
    t = ensure_tokens(docs, "doc_id", "source")
    hs = F.when(
        F.size("toks") >= w,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - F.lit(w - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, F.lit(w)))),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    return t.select(
        "doc_id", "source", F.posexplode(hs.alias("hs")).alias("pos", "h")
    ).select(
        "doc_id",
        "source",
        (F.col("pos") + 1).cast("int").alias("start"),
        "h",
    )


def merge_windows_to_spans(
    dw: DataFrame, w: int, keys: tuple[str, ...] = ("doc_id", "source")
) -> DataFrame:
    """Merge flagged equal-width windows into maximal spans: ``dw`` is
    (``*keys``, start) rows of w-token windows (1-based starts);
    overlapping/adjacent windows coalesce (equal-width intervals:
    consecutive starts merge iff start − prev_start ≤ w, so a single
    ``lag`` replaces the general running-max island scan).

    Returns (``*keys``, span_start, span_end, span_tokens, n_windows)
    with 1-based inclusive token offsets.  The window partitions by
    ``keys[0]`` (the doc id) — only flagged windows shuffle."""
    order = Window.partitionBy(keys[0]).orderBy("start")
    brk = F.when(
        F.col("start") - F.lag("start").over(order) <= w, F.lit(0)
    ).otherwise(F.lit(1))
    isl = dw.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy(*keys, "island")
        .agg(
            F.min("start").cast("int").alias("span_start"),
            (F.max("start") + (w - 1)).cast("int").alias("span_end"),
            (F.max("start") - F.min("start") + w).cast("int").alias(
                "span_tokens"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        .drop("island")
    )


def dup_substring_spans(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Maximal duplicated spans per document: every stride-1 w-token
    window occurring ≥2 times in the corpus, island-merged
    (:func:`merge_windows_to_spans`).

    Returns (doc_id, source, span_start, span_end, span_tokens,
    n_windows) with 1-based inclusive token offsets.

    Windows are counted over ``docs`` alone, so a subset frame (the
    corpus build's survivor slice) sees only its own duplicates.

    Plan (r13): counting the full md5 window stream
    shuffles+sorts O(corpus tokens) rows × (32-hex hash + ids) — the
    dominant stage at sf10 (98 s wall).  Instead the windows are pruned
    with a LOSSLESS 64-bit pre-count first:

    1. one pass emits ``xxhash64`` of each w-token slice (no string
       concat, no md5, 8-byte keys) and hash-aggregates counts — the
       only full-stream shuffle left, narrow rows, map-side combinable,
       no sort;
    2. windows in h64 groups of width ≥ 2 survive (a superset of the
       md5-dup windows: equal window strings ⟹ equal token arrays ⟹
       equal h64 — tokens are whitespace-split, so the space-join is
       injective);
    3. md5 is computed ONLY at surviving (doc, start) positions by
       re-slicing the checkpointed token-array frame, and the exact
       ≥2 count runs over that small survivor stream.  Counting md5
       within survivors equals counting over the full corpus: any
       window sharing an md5 with another shares its h64 group, so
       either all its copies survive or it was a singleton; h64
       collisions only ADD survivors, which the md5 count then drops.

    Output equals counting the full md5 stream under the same
    no-md5-collision assumption the md5 design itself already makes
    (pinned vs the brute force in tests/test_substring_dedup.py, incl.
    collision-heavy random corpora)."""
    return merge_windows_to_spans(_dup_windows(docs, w), w)


def _dup_windows(docs: DataFrame, w: int) -> DataFrame:
    """(doc_id, source, start) of every stride-1 w-token window whose
    exact token sequence occurs ≥ 2 times in ``docs`` — the prefiltered
    plan of :func:`dup_substring_spans` (see its docstring)."""
    # compact array frame, materialized once (lazily — the first job
    # through it fills the checkpoint; the r12 packed_token_sequences
    # lesson: checkpoint |docs| array rows, re-derive explodes per
    # consumer).  The per-doc h64 array is computed INSIDE the
    # checkpoint so xxhash64 runs once per window total, however many
    # passes read it (count, survivor join, md5 re-slice).
    h64s = F.when(
        F.size("toks") >= w,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - F.lit(w - 1)),
            lambda i: F.xxhash64(F.slice("toks", i, F.lit(w))),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    tm = truncate(
        ensure_tokens(docs, "doc_id", "source")
        .withColumn("__hs", h64s),
        eager=False,
    )
    # pass 1: counts over 8-byte keys only — hash aggregate (no sort),
    # map-side partial combine, nothing else in the row
    d64 = (
        tm.select(F.explode("__hs").alias("h64"))
        .groupBy("h64")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("h64")
    )
    # pass 2: positions joined against the (Zipf-collapsed, small) dup
    # table — AQE broadcasts it at driver SFs; at scale it is a plain
    # hash equi-join on a long key
    sv = (
        tm.select("doc_id", F.posexplode("__hs").alias("pos", "h64"))
        .join(d64, "h64")
        .select("doc_id", (F.col("pos") + 1).cast("int").alias("start"))
    )
    # pass 3: md5 only at surviving positions — survivor starts grouped
    # per doc (tiny shuffle), token arrays re-sliced from the
    # checkpointed frame, then the EXACT ≥2 count over the survivor
    # stream
    svd = sv.groupBy("doc_id").agg(F.collect_list("start").alias("__ss"))
    md5w = (
        tm.join(svd, "doc_id")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    "__ss",
                    lambda s: F.struct(
                        s.alias("start"),
                        F.md5(
                            F.concat_ws(" ", F.slice("toks", s, F.lit(w)))
                        ).alias("h"),
                    ),
                )
            ).alias("x"),
        )
        .select("doc_id", "source", F.col("x.start").alias("start"), "x.h")
    )
    cnt = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        md5w.withColumn("__cnt", cnt)
        .filter(F.col("__cnt") >= 2)
        .select("doc_id", "source", "start")
    )


def apply_span_cuts(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Cut the given token spans out of each document — the actionable
    half of ExactSubstr (Lee et al. cut the repeated span, keep the
    rest).  ``spans``: (doc_id, span_start, span_end), 1-based
    inclusive TOKEN offsets (the :func:`dup_substring_spans` output).

    Docs with no spans pass through byte-identical.  Cut docs have
    ``text`` rebuilt from the kept tokens, single-space joined: the
    offsets were computed on LOWERCASED tokens, but lowercasing never
    moves a whitespace boundary, so splitting the ORIGINAL text at the
    same positions preserves case — only inter-token whitespace is
    normalized in rebuilt docs.  ``n_chars`` is recomputed and
    ``n_tokens_cut`` added.

    Plan: spans collapse to one small per-doc struct array
    (collect_list after the island merge — spans per doc are few by
    construction), joined back to the corpus on doc_id (broadcast at
    driver SFs); the cut itself is a row-local ``filter``/``exists``
    over token positions.  No shuffle of document text at any point."""
    cuts = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__cuts")
    )
    idx = F.sequence(F.lit(1), F.size("__toks"))
    kept = F.filter(
        idx,
        lambda i: ~F.exists(
            "__cuts",
            lambda c: (i >= c.span_start) & (i <= c.span_end),
        ),
    )
    clean = F.concat_ws(
        " ", F.transform(kept, lambda i: F.get("__toks", i - 1))
    )
    n_kept = F.size(kept)
    out_cols = [c for c in docs.columns if c not in ("text", "n_chars")]
    return (
        docs.join(cuts, "doc_id", "left")
        .withColumn("__toks", F.split(F.col("text"), r"\s+"))
        .select(
            *out_cols,
            F.when(F.col("__cuts").isNull(), F.col("text"))
            .otherwise(clean)
            .alias("text"),
            F.when(F.col("__cuts").isNull(), F.col("n_chars"))
            .otherwise(F.length(clean).cast("bigint"))
            .alias("n_chars"),
            F.when(F.col("__cuts").isNull(), F.lit(0))
            .otherwise(F.size("__toks") - n_kept)
            .cast("int")
            .alias("n_tokens_cut"),
        )
    )


@query(
    "doc_dup_substring_spans",
    oracle=f"""
WITH {_SPAN_WINDOWS_CTE}
SELECT doc_id, source, span_start, span_end, span_tokens, n_windows
FROM spans
""",
)
def doc_dup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of :func:`dup_substring_spans` on the driver
    corpus: the exact token ranges an ExactSubstr-style cleaner would
    cut from each document.

    Plan: the window stream is O(corpus tokens) and shuffles twice on
    the window hash (count, then re-join the Zipf-collapsed dup table
    with map-side combine on both); the lag/sum island merge windows
    only over duplicated windows.  At 100 TB the dup-hash join is a
    plain hash equi-join (AQE broadcasts it at driver SFs); nothing
    references text after the first projection — only 32-char hashes
    and int offsets move."""
    return dup_substring_spans(_with_tokens(spark, sf_dir))


@query(
    "substring_dedup_summary",
    bench=True,
    oracle=f"""
WITH {_SPAN_WINDOWS_CTE},
tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(toks)) AS BIGINT) AS total_tokens
  FROM t GROUP BY source
),
cut AS (
  SELECT source,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with_dup,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(span_tokens) AS BIGINT) AS dup_span_tokens
  FROM spans GROUP BY source
)
SELECT tot.source, tot.n_docs, tot.total_tokens,
       COALESCE(cut.n_docs_with_dup, 0) AS n_docs_with_dup,
       COALESCE(cut.n_spans, 0) AS n_spans,
       COALESCE(cut.dup_span_tokens, 0) AS dup_span_tokens,
       CAST(((tot.total_tokens - COALESCE(cut.dup_span_tokens, 0))
             * 1000000) // tot.total_tokens AS BIGINT) AS retained_ppm
FROM tot LEFT JOIN cut USING (source)
""",
)
def substring_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ExactSubstr accounting: how many tokens sit inside a
    duplicated ≥15-token span, and the parts-per-million of the
    corpus that survives cutting them — the "what does exact-substring
    dedup buy me" audit run before committing to the pass.

    ``retained_ppm`` is exact integer arithmetic (floor division of
    BIGINTs) — never a rounded rational, which both engines tie-break
    differently (the house rounding rule, NOTES_r6)."""
    docs = _with_tokens(spark, sf_dir)
    t = ensure_tokens(docs, "doc_id", "source").select(
        "doc_id", "source", F.size("toks").alias("n_toks")
    )
    tot = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
    )
    cut = (
        dup_substring_spans(docs)
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs_with_dup"),
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("span_tokens").cast("bigint").alias("dup_span_tokens"),
        )
    )
    return tot.join(cut, "source", "left").select(
        "source",
        "n_docs",
        "total_tokens",
        F.coalesce("n_docs_with_dup", F.lit(0)).alias("n_docs_with_dup"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("dup_span_tokens", F.lit(0)).alias("dup_span_tokens"),
        F.expr(
            "CAST(((total_tokens - COALESCE(dup_span_tokens, 0)) * 1000000)"
            " div total_tokens AS BIGINT)"
        ).alias("retained_ppm"),
    )


# --------------------------------------------------------------------------
# Overlapping retrieval chunks: the sliding-window chunk plan a RAG /
# retrieval indexer consumes (stride < width so no boundary sentence is
# ever split across BOTH of its chunks' edges).  Pure row-local
# arithmetic — one sequence explode per doc, no shuffle at all until a
# consumer aggregates; the chunk hash pins the exact token content so
# an independent chunker can verify byte-for-byte.
# --------------------------------------------------------------------------

_CHUNK_W = 64
_CHUNK_S = 48


@query(
    "doc_chunks_overlap",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
n AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= {_CHUNK_W} THEN 1
              ELSE 1 + (len(toks) - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}
         END AS n_chunks
  FROM t WHERE len(toks) >= 1
),
c AS (
  SELECT doc_id, n, unnest(range(0, n_chunks)) AS i FROM n
)
SELECT c.doc_id,
       CAST(c.i AS BIGINT) AS chunk_id,
       CAST(c.i * {_CHUNK_S} + 1 AS BIGINT) AS start_tok,
       CAST(least({_CHUNK_W}, c.n - c.i * {_CHUNK_S}) AS BIGINT) AS chunk_len,
       md5(array_to_string(
         n.toks[c.i * {_CHUNK_S} + 1 :
                c.i * {_CHUNK_S} + least({_CHUNK_W}, c.n - c.i * {_CHUNK_S})],
         ' ')) AS chunk_md5
FROM c JOIN n ON c.doc_id = n.doc_id
""",
)
def doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk plan (width 64 tokens, stride 48 → 16-token
    overlap): per chunk its 1-based start, length, and the md5 of its
    space-joined tokens.  Every token lands in ≥ 1 chunk; interior
    chunk boundaries are covered by the overlap.

    Plan: chunk count and offsets are row-local arithmetic over the
    token count; the sequence explode emits ~n/stride rows per doc and
    nothing shuffles — the embedding/BM25 indexer downstream decides
    the first exchange."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize("text").alias("toks")).filter(
        F.size("toks") >= 1
    )
    n = F.size("toks")
    n_chunks = F.when(n <= _CHUNK_W, F.lit(1)).otherwise(
        F.lit(1)
        + F.expr(
            f"(size(toks) - {_CHUNK_W} + {_CHUNK_S} - 1) div {_CHUNK_S}"
        )
    )
    c = t.select(
        "doc_id",
        "toks",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
    )
    start = F.col("i") * _CHUNK_S + 1
    clen = F.least(F.lit(_CHUNK_W), F.col("n") - F.col("i") * _CHUNK_S)
    return c.select(
        "doc_id",
        F.col("i").cast("bigint").alias("chunk_id"),
        start.cast("bigint").alias("start_tok"),
        clen.cast("bigint").alias("chunk_len"),
        F.md5(F.concat_ws(" ", F.slice("toks", start, clen))).alias(
            "chunk_md5"
        ),
    )


# --------------------------------------------------------------------------
# Chunk-granularity BM25: retrieval scores the CHUNK stream, not whole
# documents — a long doc with one relevant paragraph ranks by that
# paragraph.  Same literal term set and (k1, b) as doc_bm25_scores;
# corpus stats (N, avgdl, df) recomputed at chunk granularity (the
# correct IDF for the unit being ranked).  avgdl derives from an exact
# BIGINT token sum (not a float AVG), so every score is a fixed-order
# IEEE expression in both engines and the global top-k cutoff is
# deterministic.
# --------------------------------------------------------------------------

_CBM_TOPK = 20


#: mirrors queries/pipeline.py's BM25 config — imported lazily would
#: still run at decoration time (pipeline imports passages mid-init via
#: its decon-span oracle), so the values are pinned here and equality
#: is asserted in tests/test_chunk_bm25.py
_CBM_TERMS = ("spark", "join", "stream", "window")
_CBM_K1 = 1.2
_CBM_B = 0.75


def _chunk_bm25_oracle() -> str:
    terms = _CBM_TERMS
    _BM25_K1, _BM25_B = _CBM_K1, _CBM_B
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
nn AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= {_CHUNK_W} THEN 1
              ELSE 1 + (len(toks) - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}
         END AS n_chunks
  FROM t WHERE len(toks) >= 1
),
ch AS (
  SELECT nn.doc_id, i AS chunk_id,
         nn.toks[i * {_CHUNK_S} + 1 :
                 i * {_CHUNK_S} + least({_CHUNK_W}, nn.n - i * {_CHUNK_S})]
           AS ctoks
  FROM nn, unnest(range(0, nn.n_chunks)) AS u(i)
),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ch,
             CAST(SUM(len(ctoks)) AS BIGINT) AS tot_dl FROM ch),
df AS (
  SELECT {", ".join(
    f"SUM(CASE WHEN list_contains(ctoks, '{w}') THEN 1 ELSE 0 END) AS df_{i}"
    for i, w in enumerate(terms))}
  FROM ch
),
s AS (
  SELECT doc_id, chunk_id, len(ctoks) AS dl,
         {", ".join(
    f"CAST(len(list_filter(ctoks, x -> x = '{w}')) AS DOUBLE) AS tf_{i}"
    for i, w in enumerate(terms))}
  FROM ch
)
SELECT doc_id, chunk_id,
       {" + ".join(
    f"ln((n_ch - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
    f" * tf_{i} * ({_BM25_K1} + 1.0)"
    f" / (tf_{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl"
    f" / (CAST(tot_dl AS DOUBLE) / n_ch)))"
    for i in range(len(terms)))} AS bm25
FROM s, g, df
WHERE {" + ".join(f"tf_{i}" for i in range(len(terms)))} > 0
ORDER BY bm25 DESC, doc_id, chunk_id
LIMIT {_CBM_TOPK}
"""


@query("chunk_bm25_topk", oracle=_chunk_bm25_oracle())
def chunk_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 chunks by Okapi BM25 against the shared literal term set
    — the retrieval face over the sliding-window chunk plan.

    Plan: one chunk explode (row-local) feeds a single global stats agg
    (1 broadcast row: chunk count, exact token sum, per-term df) and a
    row-local score; the ORDER BY + LIMIT compiles to TakeOrdered (a
    per-partition top-k fold, never a global sort).  Term contributions
    add in tuple order in both engines — bit-stable floats, so the
    cutoff is deterministic."""
    _BM25_TERMS, _BM25_K1, _BM25_B = _CBM_TERMS, _CBM_K1, _CBM_B
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize("text").alias("toks")).filter(
        F.size("toks") >= 1
    )
    n = F.size("toks")
    n_chunks = F.when(n <= _CHUNK_W, F.lit(1)).otherwise(
        F.lit(1)
        + F.expr(f"(size(toks) - {_CHUNK_W} + {_CHUNK_S} - 1) div {_CHUNK_S}")
    )
    start = F.col("i") * _CHUNK_S + 1
    clen = F.least(F.lit(_CHUNK_W), F.size("toks") - F.col("i") * _CHUNK_S)
    ch = (
        t.select(
            "doc_id", "toks", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i")
        )
        .select(
            "doc_id",
            F.col("i").alias("chunk_id"),
            F.slice("toks", start, clen).alias("ctoks"),
        )
    )
    stats = ch.agg(
        F.count(F.lit(1)).alias("n_ch"),
        F.sum(F.size("ctoks")).cast("bigint").alias("tot_dl"),
        *[
            F.sum(F.array_contains("ctoks", w).cast("int")).alias(f"df_{i}")
            for i, w in enumerate(_BM25_TERMS)
        ],
    )
    def _tf(w: str):
        # 2-arg lambdas to F.filter receive (element, index) — bind w
        # via closure, never a default arg
        return lambda x: x == F.lit(w)

    s = ch.select(
        "doc_id",
        "chunk_id",
        F.size("ctoks").alias("dl"),
        *[
            F.size(F.filter("ctoks", _tf(w)))
            .cast("double")
            .alias(f"tf_{i}")
            for i, w in enumerate(_BM25_TERMS)
        ],
    ).crossJoin(F.broadcast(stats))
    avgdl = F.col("tot_dl").cast("double") / F.col("n_ch")
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            (F.col("n_ch") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        term = (
            idf
            * F.col(f"tf_{i}")
            * (_BM25_K1 + 1.0)
            / (
                F.col(f"tf_{i}")
                + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
            )
        )
        score = term if score is None else score + term
    any_tf = None
    for i in range(len(_BM25_TERMS)):
        any_tf = (
            F.col(f"tf_{i}")
            if any_tf is None
            else any_tf + F.col(f"tf_{i}")
        )
    return (
        s.filter(any_tf > 0)
        .select("doc_id", "chunk_id", score.alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"), F.asc("chunk_id"))
        .limit(_CBM_TOPK)
    )

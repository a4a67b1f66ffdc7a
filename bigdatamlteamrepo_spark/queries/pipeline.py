"""Training-data-pipeline queries: repetition signals, composite quality
filtering, end-to-end near-dup dedup, PII scanning, embedding
quantization, and distribution percentiles.

These extend the reference's text surface (model.py:50-101 preprocessing,
MLP.ipynb:c5 labeling) with the operations a 100 TB pretraining-data
pipeline runs between raw crawl and training shards:

* **Repetition metrics** (Gopher-style, Rae et al. 2021 §A1.1): top
  n-gram mass and duplicate-n-gram fractions — pure row-level array
  expressions, embarrassingly parallel, no shuffle.
* **Quality filter**: first-failing-rule CASE chain (the reference's
  first-match-wins labeling idiom, MLP.ipynb:c5:31-38, repurposed as a
  filter) + one grouped count — one scan, one small shuffle.
* **Near-dup dedup summary**: MinHash-LSH candidates → exact Jaccard
  verify → connected components → keep min-doc_id representative.  Every
  stage is linear-shuffle (the candidate graph tracks true-duplicate
  mass, not n²); components use O(log² n)-round star contraction.
* **PII scan**: regexp_count over codegen — see operators/pii.py.
* **Int8 quantization**: symmetric per-vector max-abs scaling — the
  4×-memory-reduction preprocessing step before ANN index build; all
  integer outputs are exact, so the oracle hash-matches bit-for-bit.
* **Percentiles**: exact linear-interpolation percentile (Spark
  ``percentile`` ≡ DuckDB ``quantile_cont``) — the distribution-shift
  monitor a pipeline runs per ingest batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.functions.text import ensure_tokens, shingles, tokenize
from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.operators.pii import pii_counts, pii_counts_sql
from bigdatamlteamrepo_spark.queries.registry import query
from bigdatamlteamrepo_spark.queries.text_dedup import (
    _JAC_SQL,
    _JACCARD_MIN,
    _TOKENS_SQL,
    lsh_pairs_ctes,
    ngram_jaccard_pairs,
)

# --------------------------------------------------------------------------
# Repetition metrics (Gopher §A1.1 signals).  max-count-of-any-unigram /
# bigram and the duplicate-bigram fraction; integer-derived doubles are
# bit-deterministic so no rounding is needed.
# --------------------------------------------------------------------------

_BIGRAMS_SQL = "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])"


def _top_count_sql(arr: str) -> str:
    return (
        f"list_max(list_transform(list_distinct({arr}), "
        f"x -> len(list_filter({arr}, y -> y = x))))"
    )


def _top_count(arr):
    """Max occurrence count of any element in an array column."""
    return F.array_max(
        F.transform(
            F.array_distinct(arr),
            lambda x: F.size(F.filter(arr, lambda y: y == x)),
        )
    )


@query(
    "doc_repetition_metrics",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
m AS (
  SELECT doc_id, toks, {_BIGRAMS_SQL} AS bg
  FROM t WHERE len(toks) >= 2
)
SELECT doc_id,
       len(toks) AS n_tokens,
       CAST({_top_count_sql('toks')} AS DOUBLE) / len(toks) AS top_unigram_frac,
       CAST({_top_count_sql('bg')} AS DOUBLE) / len(bg) AS top_bigram_frac,
       CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_bigram_frac
FROM m
""",
)
def doc_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    df = docs.withColumn("toks", tokenize("text")).filter(F.size("toks") >= 2)
    df = df.withColumn("bg", shingles(F.col("toks"), 2))
    n_tok = F.size("toks").cast("double")
    n_bg = F.size("bg").cast("double")
    return df.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (_top_count(F.col("toks")).cast("double") / n_tok).alias("top_unigram_frac"),
        (_top_count(F.col("bg")).cast("double") / n_bg).alias("top_bigram_frac"),
        (
            (F.size("bg") - F.size(F.array_distinct("bg"))).cast("double") / n_bg
        ).alias("dup_bigram_frac"),
    )


# --------------------------------------------------------------------------
# Composite quality filter: first-failing-rule per doc, counted per
# (reason, lang).  Thresholds chosen to split the driver corpus (token
# count median ≈ 56, TTR median ≈ 0.46, top-unigram median ≈ 0.09) so
# the filter's branches are all exercised, not vacuous.
# --------------------------------------------------------------------------

_QF_MIN_TOKENS = 20
_QF_MAX_TOKENS = 5000
_QF_MIN_TTR = 0.35
_QF_MAX_TOP_FRAC = 0.12
_QF_CPT_RANGE = (2.0, 10.0)


@query(
    "doc_quality_filter",
    oracle=f"""
WITH t AS (SELECT lang, n_chars, {_TOKENS_SQL} AS toks FROM documents),
m AS (
  SELECT lang,
         len(toks) AS n,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         CAST({_top_count_sql('toks')} AS DOUBLE) / len(toks) AS topf,
         CAST(n_chars AS DOUBLE) / len(toks) AS cpt
  FROM t WHERE len(toks) > 0
)
SELECT CASE
         WHEN n < {_QF_MIN_TOKENS} THEN 'too_short'
         WHEN n > {_QF_MAX_TOKENS} THEN 'too_long'
         WHEN ttr < {_QF_MIN_TTR} THEN 'low_diversity'
         WHEN topf > {_QF_MAX_TOP_FRAC} THEN 'repetitive'
         WHEN cpt < {_QF_CPT_RANGE[0]} OR cpt > {_QF_CPT_RANGE[1]} THEN 'weird_tokens'
         ELSE 'pass'
       END AS reason,
       lang,
       COUNT(*) AS n_docs
FROM m GROUP BY 1, 2
""",
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    df = docs.withColumn("toks", tokenize("text")).filter(F.size("toks") > 0)
    n = F.size("toks")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n.cast("double")
    topf = _top_count(F.col("toks")).cast("double") / n.cast("double")
    cpt = F.col("n_chars").cast("double") / n.cast("double")
    reason = (
        F.when(n < _QF_MIN_TOKENS, "too_short")
        .when(n > _QF_MAX_TOKENS, "too_long")
        .when(ttr < _QF_MIN_TTR, "low_diversity")
        .when(topf > _QF_MAX_TOP_FRAC, "repetitive")
        .when(
            (cpt < _QF_CPT_RANGE[0]) | (cpt > _QF_CPT_RANGE[1]), "weird_tokens"
        )
        .otherwise("pass")
    )
    return (
        df.withColumn("reason", reason)
        .groupBy("reason", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------------
# Gopher rule audit (Rae et al. 2021 Table A1): per-rule INDEPENDENT
# failure counts per source — the per-rule report a filtering run emits
# (vs doc_quality_filter's first-failing-reason routing).  Thresholds
# follow the paper where the driver corpus exercises them (min words 50,
# stop words ≥ 2, ≥80% alphabetic words) and are adapted where it
# can't (mean-word-length window narrowed to [4.2, 5.0] around this
# corpus's 3.7-5.3 range; max-word-length 12 replaces the symbol-ratio
# rules — the synthetic corpus has no symbols to count).
# --------------------------------------------------------------------------

_GO_MIN_WORDS = 50
_GO_MAX_WORDS = 100_000
_GO_MWL_RANGE = (4.2, 5.0)
_GO_MIN_ALPHA_FRAC = 0.8
_GO_STOPWORDS = ("the", "a", "of", "to", "in", "and", "is")
_GO_MIN_STOPWORDS = 2
_GO_MAX_WORD_LEN = 12

_GO_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _GO_STOPWORDS) + "]"

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT source, {_TOKENS_SQL} AS toks FROM documents
),
m AS (
  SELECT source, len(toks) AS n,
         CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
           / len(toks) AS mwl,
         list_max(list_transform(toks, x -> len(x))) AS maxwl,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
              AS DOUBLE) / len(toks) AS alpha_frac,
         len(list_filter(toks, x -> list_contains({_GO_STOP_SQL}, x)))
           AS n_stop
  FROM t WHERE len(toks) > 0
),
r AS (
  SELECT source,
         CASE WHEN n < {_GO_MIN_WORDS} OR n > {_GO_MAX_WORDS} THEN 1 ELSE 0 END AS f_words,
         CASE WHEN mwl < {_GO_MWL_RANGE[0]} OR mwl > {_GO_MWL_RANGE[1]} THEN 1 ELSE 0 END AS f_mwl,
         CASE WHEN alpha_frac < {_GO_MIN_ALPHA_FRAC} THEN 1 ELSE 0 END AS f_alpha,
         CASE WHEN n_stop < {_GO_MIN_STOPWORDS} THEN 1 ELSE 0 END AS f_stop,
         CASE WHEN maxwl > {_GO_MAX_WORD_LEN} THEN 1 ELSE 0 END AS f_longword
  FROM m
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(f_words) AS BIGINT) AS fail_word_count,
       CAST(SUM(f_mwl) AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(f_alpha) AS BIGINT) AS fail_alpha_frac,
       CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords,
       CAST(SUM(f_longword) AS BIGINT) AS fail_long_word,
       CAST(SUM(CASE WHEN f_words + f_mwl + f_alpha + f_stop + f_longword = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
FROM r GROUP BY source
"""


def gopher_flag_exprs() -> dict[str, F.Column]:
    """The five Gopher rule failure flags (0/1 int Columns) over a
    ``toks`` array column — row-local expressions with no frame
    attached, so consumers that already carry ``toks`` (the data card)
    can compute the flags IN their own projection instead of joining
    :func:`gopher_rule_flags` back on doc_id (r12: that join was the
    data card's only shuffle join and re-evaluated tokenize + the flag
    arithmetic on a second corpus pass).  Single definition: the frame
    form below derives from this one."""
    n = F.size("toks")
    mwl = (
        F.aggregate(
            F.transform("toks", lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / n
    )
    maxwl = F.array_max(F.transform("toks", lambda x: F.length(x)))
    alpha_frac = (
        F.size(F.filter("toks", lambda x: x.rlike("[a-z]"))).cast("double") / n
    )
    stop_arr = F.array(*[F.lit(w) for w in _GO_STOPWORDS])
    n_stop = F.size(F.filter("toks", lambda x: F.array_contains(stop_arr, x)))
    return {
        "f_words": ((n < _GO_MIN_WORDS) | (n > _GO_MAX_WORDS)).cast("int"),
        "f_mwl": (
            (mwl < _GO_MWL_RANGE[0]) | (mwl > _GO_MWL_RANGE[1])
        ).cast("int"),
        "f_alpha": (alpha_frac < _GO_MIN_ALPHA_FRAC).cast("int"),
        "f_stop": (n_stop < _GO_MIN_STOPWORDS).cast("int"),
        "f_longword": (maxwl > _GO_MAX_WORD_LEN).cast("int"),
    }


def gopher_pass(flags: dict[str, F.Column] | None = None) -> F.Column:
    """1 when a document passes every Gopher rule, else 0 (int).  Reads
    the flag columns of :func:`gopher_rule_flags` by default; pass the
    :func:`gopher_flag_exprs` dict to evaluate it inside a projection
    that carries ``toks`` (the data card)."""
    c = flags.__getitem__ if flags else F.col
    return (
        (c("f_words") + c("f_mwl") + c("f_alpha") + c("f_stop") + c("f_longword"))
        == 0
    ).cast("int")


def gopher_rule_flags(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """Per-document Gopher rule failure flags (0/1 ints) + token count
    ``n`` — row-local array expressions only; reused by the audit query
    and the corpus-selection capstone."""
    t = ensure_tokens(docs, *extra_cols).filter(F.size("toks") > 0)
    return t.select(
        *extra_cols,
        F.size("toks").alias("n"),
        *[c.alias(k) for k, c in gopher_flag_exprs().items()],
    )


@query("doc_gopher_rules", oracle=_GOPHER_ORACLE)
def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher rule audit: independent pass/fail counts per
    rule (word count, mean word length, alphabetic-word fraction,
    stop-word floor, max word length) plus the all-rules pass count.
    One scan of row-local array expressions + one grouped conditional
    aggregation — no shuffle beyond the per-source rollup, and every
    metric is an integer (or an exact-integer ratio), so the audit is
    bit-reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    r = gopher_rule_flags(docs, "source")
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_words").cast("bigint").alias("fail_word_count"),
        F.sum("f_mwl").cast("bigint").alias("fail_mean_word_len"),
        F.sum("f_alpha").cast("bigint").alias("fail_alpha_frac"),
        F.sum("f_stop").cast("bigint").alias("fail_stopwords"),
        F.sum("f_longword").cast("bigint").alias("fail_long_word"),
        F.sum(gopher_pass()).cast("bigint").alias("pass_all"),
    )


# --------------------------------------------------------------------------
# End-to-end near-dup dedup: verified-Jaccard pairs → connected
# components → keep the min-doc_id representative per cluster; report
# kept/removed per source.  The "what actually ships to training"
# capstone over the LSH tier.
# --------------------------------------------------------------------------


def neardup_rep_ctes() -> str:
    """Shared oracle CTE chain (requires ``WITH RECURSIVE``) ending in
    ``__m(source, doc_id, n_chars, rep)`` — every document labeled with
    its near-dup-cluster representative (min reachable doc_id over the
    verified-Jaccard graph; singletons are their own rep).  The DuckDB
    twin of ``ngram_jaccard_pairs`` → ``connected_components``."""
    return f"""{lsh_pairs_ctes()},
__sets AS (SELECT doc_id, list_distinct(sh) AS s FROM __sh),
__ver AS (
  SELECT p.doc_a, p.doc_b
  FROM __lsh_pairs p
  JOIN __sets a ON a.doc_id = p.doc_a
  JOIN __sets b ON b.doc_id = p.doc_b
  WHERE {_JAC_SQL} >= {_JACCARD_MIN}
),
__edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM __ver
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM __ver
),
__reach AS (
  SELECT src, dst FROM __edges
  UNION
  SELECT r.src, e.dst FROM __reach r JOIN __edges e ON r.dst = e.src
),
__rep AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS rep FROM __reach GROUP BY src
),
__m AS (
  SELECT d.source, d.doc_id, d.n_chars, COALESCE(r.rep, d.doc_id) AS rep
  FROM documents d LEFT JOIN __rep r ON r.doc_id = d.doc_id
)"""


@query(
    "neardup_dedup_summary",
    bench=True,
    oracle=f"""
WITH RECURSIVE
{neardup_rep_ctes()}
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id = rep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM __m GROUP BY source
""",
)
def neardup_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup decision per document: docs connected by verified Jaccard ≥
    0.5 pairs form a cluster; the min doc_id survives.  Star-contraction
    components (operators/graph.py) keep the round count O(log² n) at
    any cluster diameter; the recursive oracle computes the identical
    min-reachable-id labeling."""
    merged = neardup_rep_frame(spark, sf_dir)
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("doc_id") == F.col("rep")).cast("long")).alias("n_kept"),
        F.sum((F.col("doc_id") != F.col("rep")).cast("long")).alias("n_removed"),
    )


def neardup_rep_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document labeled with its near-dup-cluster representative:
    ``(doc_id, source, n_chars, rep)`` where rep = min doc_id reachable
    over the verified-Jaccard graph (singletons: rep = doc_id).  The
    Spark twin of :func:`neardup_rep_ctes`' ``__m``."""
    from bigdatamlteamrepo_spark.operators.graph import connected_components

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return docs.join(
        labels.select(F.col("node").alias("doc_id"), "component"),
        "doc_id",
        "left",
    ).withColumn("rep", F.coalesce("component", "doc_id"))


# --------------------------------------------------------------------------
# Leakage-safe train/val/test split: hash-split at near-dup-CLUSTER
# granularity, not document granularity.  A doc-level hash split puts
# ~1/3 of near-dup pairs across split boundaries (1 − 0.8² − 0.1² −
# 0.1²; measured 8/28 on the driver corpus) — the
# val loss is then scored on paraphrases of training docs and reads
# optimistically low.  Assigning every doc its cluster representative's
# hash makes cross-split near-dup leakage structurally zero (docs in
# one component share rep, hence split); tests/test_leakage_split.py
# pins both that guarantee and the naive split's non-zero leakage.
# --------------------------------------------------------------------------

_SPLIT_MOD = 10
_SPLIT_TRAIN = 8  # h%10 in [0,8) → train
_SPLIT_VAL = 9  # 8 → val, 9 → test


def _split_case_sql(expr: str) -> str:
    h = f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT % {_SPLIT_MOD})"
    return (
        f"CASE WHEN {h} < {_SPLIT_TRAIN} THEN 'train' "
        f"WHEN {h} < {_SPLIT_VAL} THEN 'val' ELSE 'test' END"
    )


def split_of(col) -> F.Column:
    """Deterministic split name from an id column — Spark twin of
    :func:`_split_case_sql` (same md5-prefix hash as queries/shards.py
    ``hash32``, so split and shard deals stay consistent)."""
    from bigdatamlteamrepo_spark.queries.shards import hash32

    h = hash32(col) % _SPLIT_MOD
    return (
        F.when(h < _SPLIT_TRAIN, "train")
        .when(h < _SPLIT_VAL, "val")
        .otherwise("test")
    )


@query(
    "soft_dedup_weights",
    oracle=f"""
WITH RECURSIVE
{neardup_rep_ctes()},
__cs AS (SELECT rep, COUNT(*) AS csize FROM __m GROUP BY rep)
SELECT m.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT m.rep) AS BIGINT) AS n_clusters,
       CAST(SUM(CAST(1.0 / c.csize AS DECIMAL(30,9))) AS DOUBLE)
         AS effective_docs
FROM __m m JOIN __cs c ON m.rep = c.rep
GROUP BY m.source
""",
)
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (SoftDeDup-style): instead of DROPPING near-dup
    cluster members, weight each document ``1 / cluster_size`` so a
    cluster contributes one doc's worth of training loss however many
    copies it has — the drop-free alternative when near-dups carry
    legitimate variation.  Per source: docs, clusters, and the
    effective (weighted) document count the loss actually sees.

    Cluster size is GLOBAL (a cluster spanning sources weights all its
    members by the combined size).  The weight sum is
    decimal-quantized (functions/numeric discipline), so the rollup is
    reduction-order-free.  Plan: the rep labeling chain (linear LSH
    shuffles) + one rep-keyed count + one broadcast-sized join back —
    no new scale shape."""
    merged = neardup_rep_frame(spark, sf_dir)
    csize = merged.groupBy("rep").agg(F.count(F.lit(1)).alias("csize"))
    w = (F.lit(1.0) / F.col("csize").cast("double")).cast("decimal(30,9)")
    return (
        merged.join(csize, "rep")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("rep").cast("bigint").alias("n_clusters"),
            F.sum(w).cast("double").alias("effective_docs"),
        )
    )


@query(
    "leakage_safe_split_summary",
    oracle=f"""
WITH RECURSIVE
{neardup_rep_ctes()}
SELECT source, {_split_case_sql('rep')} AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM __m GROUP BY source, {_split_case_sql('rep')}
""",
)
def leakage_safe_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-granularity 80/10/10 split accounting per (source,
    split): docs, distinct clusters, char mass.  The split of a doc is
    the portable 32-bit hash of its near-dup-cluster REPRESENTATIVE, so
    no verified near-dup pair ever crosses splits (both endpoints share
    rep ⇒ share split).

    Plan at 100 TB: rep labeling is the dedup capstone's existing
    linear-shuffle chain (LSH candidates → verify → star-contraction);
    the split itself adds zero shuffles — a row-local hash on the rep
    column — and the rollup keys on (source, split), constant
    cardinality."""
    merged = neardup_rep_frame(spark, sf_dir)
    return merged.withColumn("split", split_of(F.col("rep"))).groupBy(
        "source", "split"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("rep").cast("bigint").alias("n_clusters"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# PII scan per source.  The driver corpus is synthetic word salad, so
# the expected counts here are zeros — the operator's behavior on text
# that DOES contain emails/IPs/phones is pinned by fixture tests
# (tests/test_pii.py); this query is the contract that the scan runs as
# one codegen'd pass over the real corpus layout.
# --------------------------------------------------------------------------


def _pii_oracle() -> str:
    c = pii_counts_sql("lower(text)")
    return f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM({c['n_email']}) AS BIGINT) AS total_emails,
       CAST(SUM({c['n_ipv4']}) AS BIGINT) AS total_ipv4,
       CAST(SUM({c['n_phone']}) AS BIGINT) AS total_phones,
       CAST(SUM(CASE WHEN {c['n_email']} + {c['n_ipv4']} + {c['n_phone']} > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii
FROM documents GROUP BY source
"""


@query("doc_pii_scan", oracle=_pii_oracle())
def doc_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = pii_counts("text")
    df = docs.select("source", *[c.alias(k) for k, c in counts.items()])
    any_pii = (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")) > 0
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("total_emails"),
        F.sum("n_ipv4").cast("bigint").alias("total_ipv4"),
        F.sum("n_phone").cast("bigint").alias("total_phones"),
        F.sum(any_pii.cast("long")).alias("n_docs_with_pii"),
    )


# --------------------------------------------------------------------------
# Symmetric int8 quantization of the embedding column: scale =
# max|x|/127 per vector.  Quantized sums-of-squares are exact integers;
# the reconstruction MSE folds doubles in array order in both engines.
# --------------------------------------------------------------------------


@query(
    "embedding_int8_quant_stats",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
),
q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) AS qv
  FROM s WHERE scale > 0
)
SELECT vec_id,
       scale,
       CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_sq_sum,
       len(list_filter(qv, x -> x = 0)) AS n_zero,
       list_sum(list_transform(range(1, len(v) + 1),
                i -> (v[i] - qv[i] * scale) * (v[i] - qv[i] * scale)))
         / len(v) AS recon_mse
FROM q
""",
)
def embedding_int8_quant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    df = emb.select("vec_id", v.alias("v"))
    df = df.withColumn(
        "scale", F.array_max(F.transform("v", F.abs)) / F.lit(127.0)
    ).filter(F.col("scale") > 0)
    df = df.withColumn(
        "qv", F.transform("v", lambda x: F.round(x / F.col("scale")).cast("long"))
    )
    sq_err = F.zip_with(
        "v",
        "qv",
        lambda x, q: (x - q * F.col("scale")) * (x - q * F.col("scale")),
    )
    return df.select(
        "vec_id",
        "scale",
        F.aggregate("qv", F.lit(0).cast("long"), lambda acc, x: acc + x * x).alias(
            "q_sq_sum"
        ),
        F.size(F.filter("qv", lambda x: x == 0)).cast("bigint").alias("n_zero"),
        (
            F.aggregate(sq_err, F.lit(0.0), lambda acc, x: acc + x)
            / F.size("v").cast("double")
        ).alias("recon_mse"),
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: training docs sharing any exact 8-token
# gram with the held-out eval set (here: doc_id < EVAL_N as the eval
# stand-in).  The eval gram set is tiny and BROADCAST, so the corpus
# side is one explode + broadcast-hash-join + grouped count — no
# shuffle of the exploded grams.  Complements the near-dup tier:
# contamination checks use exact containment (an eval row quoted inside
# a much larger training doc has low Jaccard but must still flag).
# --------------------------------------------------------------------------

_EVAL_N = 20
_DECON_W = 8

_DECON_GRAMS_SQL = (
    f"list_transform(range(1, greatest(len(toks) - {_DECON_W - 1}, 0) + 1), "
    "i -> " + " || ' ' || ".join(f"toks[i+{j}]" for j in range(_DECON_W)) + ")"
)


@query(
    "doc_eval_contamination",
    oracle=f"""
WITH t AS (SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents),
g AS (
  SELECT doc_id, source, unnest({_DECON_GRAMS_SQL}) AS gram
  FROM t WHERE len(toks) >= {_DECON_W}
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < {_EVAL_N})
SELECT g.doc_id, g.source,
       COUNT(DISTINCT g.gram) AS n_shared_grams,
       COUNT(*) AS n_gram_hits
FROM g JOIN ev USING (gram)
WHERE g.doc_id >= {_EVAL_N}
GROUP BY g.doc_id, g.source
""",
)
def doc_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.withColumn("toks", tokenize("text"))
        .filter(F.size("toks") >= _DECON_W)
        .select(
            "doc_id",
            "source",
            F.explode(shingles(F.col("toks"), _DECON_W)).alias("gram"),
        )
    )
    ev = g.filter(F.col("doc_id") < _EVAL_N).select("gram").distinct()
    return (
        g.filter(F.col("doc_id") >= _EVAL_N)
        .join(F.broadcast(ev), "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.count(F.lit(1)).alias("n_gram_hits"),
        )
    )


def eval_gram_frame(docs: DataFrame) -> DataFrame:
    """Distinct 8-token grams of the eval stand-in (``doc_id <
    _EVAL_N``) as a one-column ``gram`` frame — the broadcast side of
    every contamination check (benchmark-suite-sized: thousands of
    rows, never corpus-scaled)."""
    return (
        docs.filter(F.col("doc_id") < _EVAL_N)
        .withColumn("toks", tokenize("text"))
        .filter(F.size("toks") >= _DECON_W)
        .select(F.explode(shingles(F.col("toks"), _DECON_W)).alias("gram"))
        .distinct()
    )


def _decon_spans_oracle() -> str:
    from bigdatamlteamrepo_spark.queries.passages import span_merge_sql

    gram_i = " || ' ' || ".join(f"toks[i+{j}]" for j in range(_DECON_W))
    return f"""
WITH t AS (SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents),
g AS (
  SELECT doc_id, source, CAST(i AS INT) AS start, {gram_i} AS gram
  FROM t, unnest(range(1, len(toks) - {_DECON_W} + 2)) AS u(i)
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < {_EVAL_N}),
dw AS (
  SELECT g.doc_id, g.source, g.start FROM g JOIN ev USING (gram)
  WHERE g.doc_id >= {_EVAL_N}
),
{span_merge_sql(_DECON_W)}
SELECT doc_id, source, span_start, span_end, span_tokens, n_windows
FROM spans
"""


def eval_contamination_spans(
    docs: DataFrame, ev_grams: DataFrame, w: int = _DECON_W
) -> DataFrame:
    """Maximal contaminated spans per document: every position whose
    w-token gram appears in ``ev_grams`` (a 1-column ``gram`` frame),
    island-merged (merge_windows_to_spans) into the token ranges a
    SURGICAL decontamination pass cuts — keeping the rest of the doc,
    where the registered drop-the-doc stage would discard all of it."""
    from bigdatamlteamrepo_spark.queries.passages import (
        merge_windows_to_spans,
    )

    g = (
        docs.withColumn("toks", tokenize("text"))
        .filter(F.size("toks") >= w)
        .select(
            "doc_id",
            "source",
            F.posexplode(shingles(F.col("toks"), w)).alias("pos", "gram"),
        )
        .select(
            "doc_id", "source", (F.col("pos") + 1).cast("int").alias("start"),
            "gram",
        )
    )
    dw = g.join(F.broadcast(ev_grams.select("gram").distinct()), "gram").select(
        "doc_id", "source", "start"
    )
    return merge_windows_to_spans(dw, w)


@query("eval_decontamination_spans", oracle=_decon_spans_oracle())
def eval_decontamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of :func:`eval_contamination_spans` under the
    doc_eval_contamination convention (eval set = doc_id < 20, corpus
    = the rest): the exact token ranges that overlap the eval set
    through a shared 8-gram, merged into cut spans.

    Plan: the gram stream is one posexplode pass; the eval gram table
    is benchmark-sized and BROADCAST (the corpus side never shuffles
    for the probe); the island merge windows only over matching
    positions.  At 100 TB this is the decontamination shape: eval
    suites are tiny, so contamination lookup is map-side everywhere."""
    docs = load_table(spark, sf_dir, "documents")
    ev = (
        docs.filter(F.col("doc_id") < _EVAL_N)
        .withColumn("toks", tokenize("text"))
        .filter(F.size("toks") >= _DECON_W)
        .select(F.explode(shingles(F.col("toks"), _DECON_W)).alias("gram"))
    )
    return eval_contamination_spans(docs.filter(F.col("doc_id") >= _EVAL_N), ev)


def surgical_decontaminate(
    docs: DataFrame, ev_grams: DataFrame, w: int = _DECON_W, max_iter: int = 4
) -> DataFrame:
    """Cut eval-overlapping spans out of document text, iterating to a
    fixpoint: cutting a span can splice the flanking tokens into a NEW
    w-gram that also matches the eval set (the same non-idempotence as
    ExactSubstr cutting), so the pass repeats until no contaminated
    position remains — eval suites are tiny and real overlap is rare,
    so 1-2 iterations resolve in practice (``max_iter`` guards the
    pathological corpus; iterations are driven by a count() on the
    corpus-shrunk span frame, not the corpus).

    Returns the docs frame with cleaned text and ``n_tokens_cut``
    accumulated across iterations — the per-doc cost of shipping the
    doc instead of dropping it.  Raises ``RuntimeError`` if overlap
    remains after ``max_iter`` passes: the zero-overlap contract is
    what callers ship on, so a pathological corpus must fail loudly,
    never silently leak."""
    from bigdatamlteamrepo_spark.queries.passages import apply_span_cuts

    ev = ev_grams.select("gram").distinct().persist()
    out = docs.withColumn("n_tokens_cut", F.lit(0).cast("int"))
    base_cols = docs.columns
    clean = False
    for _ in range(max_iter):
        spans = truncate(eval_contamination_spans(out.select(*base_cols), ev, w))
        if not spans.take(1):
            clean = True
            break
        cut = apply_span_cuts(out.select(*base_cols), spans)
        out = truncate(
            cut.join(
                out.select("doc_id", F.col("n_tokens_cut").alias("__prev")),
                "doc_id",
            )
            .withColumn("n_tokens_cut", F.col("__prev") + F.col("n_tokens_cut"))
            .drop("__prev")
        )
    if not clean and eval_contamination_spans(
        out.select(*base_cols), ev, w
    ).take(1):
        ev.unpersist()
        raise RuntimeError(
            f"surgical decontamination did not converge in {max_iter} "
            "iterations — residual eval overlap remains; raise max_iter "
            "or fall back to drop-mode decontamination"
        )
    ev.unpersist()
    return out


# --------------------------------------------------------------------------
# Vocabulary coverage: top-V tokens per language and the OOV mass a
# V-entry vocab would leave — the classic wordcount shape (map-side
# partial agg on token) followed by a rank over the token-count table,
# which is orders of magnitude smaller than the corpus.
# --------------------------------------------------------------------------

_VOCAB_V = 200


@query(
    "vocab_coverage_by_lang",
    oracle=f"""
WITH tok AS (
  SELECT lang, unnest({_TOKENS_SQL}) AS token FROM documents
),
c AS (SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY lang, token),
r AS (
  SELECT lang, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rk
  FROM c
)
SELECT lang,
       COUNT(*) AS distinct_tokens,
       CAST(SUM(cnt) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN rk <= {_VOCAB_V} THEN cnt ELSE 0 END) AS BIGINT)
         AS covered_tokens,
       1.0 - CAST(SUM(CASE WHEN rk <= {_VOCAB_V} THEN cnt ELSE 0 END) AS DOUBLE)
           / SUM(cnt) AS oov_rate
FROM r GROUP BY lang
""",
)
def vocab_coverage_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage of a per-language top-V vocabulary (ties broken by
    token text, so the vocab — and the hash — is deterministic)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tokenize("text")).alias("token"))
    c = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    r = c.withColumn("rk", F.row_number().over(w))
    in_vocab = F.when(F.col("rk") <= _VOCAB_V, F.col("cnt")).otherwise(F.lit(0))
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        F.sum(in_vocab).cast("bigint").alias("covered_tokens"),
        (
            F.lit(1.0)
            - F.sum(in_vocab).cast("double") / F.sum("cnt").cast("double")
        ).alias("oov_rate"),
    )


# --------------------------------------------------------------------------
# Quality-staged curriculum: docs bucket into 4 stages by corpus-level
# type-token-ratio quartiles — the data-schedule a curriculum trainer
# feeds stage by stage.  Quartile BOUNDARIES come from one percentile
# agg (Spark `percentile` ≡ DuckDB `quantile_cont`, the (n-1)·p
# definition pinned by events_value_percentiles); assignment is then a
# ROW-LOCAL comparison — no global sort/NTILE over the corpus, which
# would serialize at 100 TB.
# --------------------------------------------------------------------------


@query(
    "doc_quality_curriculum",
    oracle=f"""
WITH t AS (
  SELECT source, {_TOKENS_SQL} AS toks FROM documents
),
m AS (
  SELECT source, len(toks) AS n,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
  FROM t WHERE len(toks) > 0
),
b AS (
  SELECT quantile_cont(ttr, 0.25) AS b1, quantile_cont(ttr, 0.5) AS b2,
         quantile_cont(ttr, 0.75) AS b3
  FROM m
)
SELECT CAST(1 + (CASE WHEN ttr > b1 THEN 1 ELSE 0 END)
              + (CASE WHEN ttr > b2 THEN 1 ELSE 0 END)
              + (CASE WHEN ttr > b3 THEN 1 ELSE 0 END) AS INT) AS stage,
       source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(FLOOR(ttr * 1000000.0) AS BIGINT)) AS BIGINT)
         AS ttr_micro_sum
FROM m, b
GROUP BY 1, 2
""",
)
def doc_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(curriculum stage, source) accounting: stage = which
    type-token-ratio quartile the doc lands in (1 = lowest-quality
    quarter, trained first in an easy-to-hard schedule; flip for
    hard-to-easy).  Quartile boundaries are ONE corpus agg broadcast as
    a scalar row; assignment is row-local arithmetic, so the plan adds
    zero data-sized shuffles beyond the final (stage, source) rollup.
    Per-doc ttr micro-quantizes before the BIGINT sum (the established
    float-free aggregation convention)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", tokenize("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    n = F.size("toks")
    m = t.select(
        "source",
        n.alias("n"),
        (F.size(F.array_distinct("toks")).cast("double") / n.cast("double")).alias(
            "ttr"
        ),
    )
    bounds = m.agg(
        F.expr("percentile(ttr, array(0.25D, 0.5D, 0.75D))").alias("bs")
    ).select(
        F.get("bs", 0).alias("b1"), F.get("bs", 1).alias("b2"), F.get("bs", 2).alias("b3")
    )
    stage = (
        F.lit(1)
        + (F.col("ttr") > F.col("b1")).cast("int")
        + (F.col("ttr") > F.col("b2")).cast("int")
        + (F.col("ttr") > F.col("b3")).cast("int")
    ).cast("int")
    return (
        m.crossJoin(F.broadcast(bounds))
        .select("source", "n", "ttr", stage.alias("stage"))
        .groupBy("stage", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.sum(F.floor(F.col("ttr") * 1000000.0).cast("bigint"))
            .cast("bigint")
            .alias("ttr_micro_sum"),
        )
    )


# --------------------------------------------------------------------------
# Exact percentile profile per event type (Spark `percentile` and DuckDB
# `quantile_cont` share the (n-1)·p linear-interpolation definition).
# --------------------------------------------------------------------------

_PCTS = (0.25, 0.5, 0.75, 0.9)


@query(
    "events_value_percentiles",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n,
       {", ".join(f"quantile_cont(value, {p}) AS p{int(p * 100)}" for p in _PCTS)}
FROM events GROUP BY event_type
""",
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pct_arr = "array(" + ", ".join(f"{p}D" for p in _PCTS) + ")"
    df = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"percentile(value, {pct_arr})").alias("pcts"),
    )
    return df.select(
        "event_type",
        "n",
        *[
            F.get("pcts", i).alias(f"p{int(p * 100)}")
            for i, p in enumerate(_PCTS)
        ],
    )


# --------------------------------------------------------------------------
# BM25 retrieval scoring for a fixed query-term set: df/idf from one
# corpus agg (broadcast — |terms| rows), tf per doc from the token
# array, per-term contributions summed in FIXED literal term order so
# the double accumulation is engine-identical.  The "search the
# corpus" capability over the same token pipeline the dedup tier uses.
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "stream", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


_BM25_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
n AS (SELECT COUNT(*) AS n_docs, AVG(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t),
df AS (
  SELECT {", ".join(
    f"SUM(CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END) AS df_{i}"
    for i, w in enumerate(_BM25_TERMS))}
  FROM t
),
s AS (
  SELECT doc_id, len(toks) AS dl,
         {", ".join(
    f"CAST(len(list_filter(toks, x -> x = '{w}')) AS DOUBLE) AS tf_{i}"
    for i, w in enumerate(_BM25_TERMS))}
  FROM t
)
SELECT doc_id,
       {" + ".join(
    f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
    f" * tf_{i} * ({_BM25_K1} + 1.0)"
    f" / (tf_{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
    for i in range(len(_BM25_TERMS)))} AS bm25
FROM s, n, df
WHERE {" + ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))} > 0
"""


@query("doc_bm25_scores", oracle=_BM25_ORACLE)
def doc_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 against a literal term set.  One corpus pass builds
    (N, avgdl, df_t) — a single broadcast row — and scoring is a
    row-local expression; no shuffle beyond the stats agg.  Term
    contributions are added in tuple order in BOTH engines, keeping the
    floating sum bit-stable."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize("text").alias("toks"))
    stats = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("toks").cast("double")).alias("avgdl"),
        *[
            F.sum(F.array_contains("toks", w).cast("int")).alias(f"df_{i}")
            for i, w in enumerate(_BM25_TERMS)
        ],
    )
    def _tf(term: str):
        # closure (not a default-arg lambda: F.filter would read a
        # second lambda parameter as the array-index argument)
        return F.size(F.filter("toks", lambda x: x == term)).cast("double")

    d = t.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[_tf(w).alias(f"tf_{i}") for i, w in enumerate(_BM25_TERMS)],
    ).crossJoin(F.broadcast(stats))
    terms = []
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        denom = F.col(f"tf_{i}") + _BM25_K1 * (
            1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        terms.append(idf * F.col(f"tf_{i}") * (_BM25_K1 + 1.0) / denom)
    score = terms[0]
    for term in terms[1:]:
        score = score + term
    any_tf = sum(F.col(f"tf_{i}") for i in range(len(_BM25_TERMS)))
    return d.filter(any_tf > 0).select("doc_id", score.alias("bm25"))


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
# semantic (embedding-cosine) rankings — the standard two-tower fusion a
# retrieval pipeline runs when neither signal alone suffices.  RRF uses
# only the integer RANKS (1/(60+r)), so the fused score is exactly
# reproducible cross-engine as long as each leg's ordering is — and both
# legs are bit-stable (fixed-order BM25 accumulation, sequential-fold
# cosine), with id tie-breaks.
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOP = 20
_RRF_QUERY_VEC = 0


def _rrf_oracle() -> str:
    from bigdatamlteamrepo_spark.functions.vectors import dot_expr, norm_expr

    cos = (
        f"({dot_expr('c.embedding', 'q.embedding')} / "
        f"({norm_expr('c.embedding')} * {norm_expr('q.embedding')}))"
    )
    return f"""
WITH lex_scores AS ({_BM25_ORACLE}),
lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
  FROM lex_scores
),
sem_scores AS (
  SELECT c.vec_id AS doc_id, {cos} AS cos
  FROM embeddings c, (SELECT embedding FROM embeddings
                      WHERE vec_id = {_RRF_QUERY_VEC}) q
  WHERE c.vec_id <> {_RRF_QUERY_VEC}
),
sem AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r_sem
  FROM sem_scores
),
fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         COALESCE(1.0 / ({_RRF_K} + r_lex), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + r_sem), 0.0) AS rrf_score
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rrf_score FROM fused
ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOP}
"""


@query("hybrid_rrf_retrieval", oracle=_rrf_oracle())
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by reciprocal-rank fusion of BM25 (terms
    {spark, join, stream, window}) and cosine-to-query-vector rankings
    (query = embedding 0; doc_id and vec_id share an id space in the
    driver corpus).  The global rank windows run over ranking-bounded
    legs — in production each leg is already a top-k (ANN bucket /
    inverted-index cutoff), so the single-partition window sees k rows,
    not the corpus."""
    from pyspark.sql import Window

    from bigdatamlteamrepo_spark.functions.vectors import cosine_similarity

    lex = doc_bm25_scores(spark, sf_dir).withColumn(
        "r_lex", F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
    ).select("doc_id", "r_lex")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("embedding").alias("q_emb")
    )
    sem = (
        emb.filter(F.col("vec_id") != _RRF_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_similarity(F.col("embedding"), F.col("q_emb")).alias("cos"),
        )
        .withColumn(
            "r_sem",
            F.row_number().over(Window.orderBy(F.desc("cos"), F.asc("doc_id"))),
        )
        .select("doc_id", "r_sem")
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_sem")), F.lit(0.0))
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(_RRF_TOP)


# --------------------------------------------------------------------------
# Pseudo-relevance feedback (RM3-style query expansion): the top
# feedback docs of the initial BM25 run vote — score-weighted — for
# expansion terms; the query re-runs with those terms appended and the
# two scores interpolate.  Every cross-row accumulation is INTEGER
# (micro-quantized per (doc, term) BEFORE summing), so the dynamic term
# set never trips double-summation-order divergence — the convention
# that makes a data-dependent scoring query value-hash-checkable.
# --------------------------------------------------------------------------

_RM3_FB = 5       # pseudo-relevant feedback docs
_RM3_EXP = 8      # expansion terms
_RM3_TOP = 10
#: λ = 0.6 original / 0.4 expansion, scaled ×5 to stay integer:
#: fused = 3·orig_micro + 2·exp_micro
_RM3_W_ORIG, _RM3_W_EXP = 3, 2


def _rm3_oracle() -> str:
    orig_terms = ", ".join(f"'{w}'" for w in _BM25_TERMS)
    kernel = (
        f"ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
        f" * tf * ({_BM25_K1} + 1.0)"
        f" / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
n AS (SELECT COUNT(*) AS n_docs, AVG(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t),
orig AS (
  SELECT doc_id, CAST(FLOOR(bm25 * 1000000.0) AS BIGINT) AS orig_micro
  FROM ({_BM25_ORACLE})
),
fb AS (
  SELECT doc_id, orig_micro AS w_micro FROM orig
  ORDER BY orig_micro DESC, doc_id LIMIT {_RM3_FB}
),
fb_tf AS (
  SELECT t.doc_id, tok, COUNT(*) AS tf, MAX(fb.w_micro) AS w_micro
  FROM t JOIN fb USING (doc_id), unnest(t.toks) AS u(tok)
  WHERE tok NOT IN ({orig_terms}) AND length(tok) >= 3
  GROUP BY t.doc_id, tok
),
exp_terms AS (
  SELECT tok AS term, SUM(tf * w_micro) AS vote
  FROM fb_tf GROUP BY tok
  ORDER BY vote DESC, term LIMIT {_RM3_EXP}
),
doc_tf AS (
  SELECT t.doc_id, tok AS term, CAST(COUNT(*) AS DOUBLE) AS tf,
         MAX(len(t.toks)) AS dl
  FROM t, unnest(t.toks) AS u(tok)
  JOIN exp_terms ON tok = exp_terms.term
  GROUP BY t.doc_id, tok
),
term_df AS (
  -- df falls out of doc_tf's grain (one row per doc containing the
  -- term): no second corpus explode
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM doc_tf GROUP BY term
),
exp_scores AS (
  SELECT doc_id,
         SUM(CAST(FLOOR(({kernel}) * 1000000.0) AS BIGINT)) AS exp_micro
  FROM doc_tf JOIN term_df USING (term), n
  GROUP BY doc_id
),
fused AS (
  SELECT COALESCE(o.doc_id, e.doc_id) AS doc_id,
         -- CAST: DuckDB SUM(BIGINT) is HUGEINT; the driver hash is
         -- type-sensitive (the r02 doc_pack_plan lesson)
         CAST({_RM3_W_ORIG} * COALESCE(o.orig_micro, 0)
              + {_RM3_W_EXP} * COALESCE(e.exp_micro, 0) AS BIGINT)
           AS rm3_score_micro
  FROM orig o FULL OUTER JOIN exp_scores e ON o.doc_id = e.doc_id
)
SELECT doc_id, rm3_score_micro,
       CAST(ROW_NUMBER() OVER (ORDER BY rm3_score_micro DESC, doc_id) AS INT)
         AS rank
FROM fused
QUALIFY rank <= {_RM3_TOP}
"""


@query("doc_bm25_rm3_topk", oracle=_rm3_oracle())
def doc_bm25_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3-style pseudo-relevance feedback retrieval: BM25 for the
    literal query → the top 5 docs vote for expansion terms (vote =
    tf × the doc's micro-quantized score — INTEGER, so the
    dynamic-term accumulation has no float order sensitivity) → the 8
    winners score the corpus through the same BM25 kernel (uniform
    expansion weights; per-(doc, term) contributions micro-quantized
    before the per-doc BIGINT sum) → λ-interpolated fusion,
    integer-scaled 3:2 (λ = 0.6).

    Scale: feedback docs are O(1) rows; the expansion-term table is 8
    rows broadcast into the one corpus explode; the final top-10 is a
    TakeOrdered, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize("text").alias("toks"))
    stats = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("toks").cast("double")).alias("avgdl"),
    )
    orig = doc_bm25_scores(spark, sf_dir).select(
        "doc_id", F.floor(F.col("bm25") * 1000000.0).cast("bigint").alias("orig_micro")
    )
    fb = orig.orderBy(F.desc("orig_micro"), F.asc("doc_id")).limit(_RM3_FB).select(
        "doc_id", F.col("orig_micro").alias("w_micro")
    )
    fb_tok = (
        t.join(F.broadcast(fb), "doc_id")
        .select("doc_id", "w_micro", F.explode("toks").alias("tok"))
        .filter(
            (~F.col("tok").isin(*_BM25_TERMS)) & (F.length("tok") >= 3)
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("w_micro").alias("w_micro"))
    )
    exp_terms = (
        fb_tok.groupBy("tok")
        .agg(F.sum(F.col("tf") * F.col("w_micro")).alias("vote"))
        .orderBy(F.desc("vote"), F.asc("tok"))
        .limit(_RM3_EXP)
        .select(F.col("tok").alias("term"))
    )
    tok_stream = t.select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    )
    # feeds BOTH df and the kernel — without the cut the corpus
    # explode would run twice
    doc_tf = truncate(
        tok_stream.join(F.broadcast(exp_terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"), F.max("dl").alias("dl"))
    )
    # df falls out of doc_tf's grain: one row per doc containing the term
    term_df = doc_tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    kernel = (
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        * F.col("tf")
        * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    exp_scores = (
        doc_tf.join(F.broadcast(term_df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(kernel * 1000000.0).cast("bigint").alias("c_micro"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c_micro").alias("exp_micro"))
    )
    fused = (
        orig.join(exp_scores, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                _RM3_W_ORIG * F.coalesce(F.col("orig_micro"), F.lit(0))
                + _RM3_W_EXP * F.coalesce(F.col("exp_micro"), F.lit(0))
            ).alias("rm3_score_micro"),
        )
        .orderBy(F.desc("rm3_score_micro"), F.asc("doc_id"))
        .limit(_RM3_TOP)
    )
    from pyspark.sql import Window

    return fused.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("rm3_score_micro"), F.asc("doc_id")))
        .cast("int"),
    )


# --------------------------------------------------------------------------
# Per-source document caps — the "domain cap" stage of a crawl
# pipeline: no single source may contribute more than K documents, and
# the K kept are the highest-quality ones (type-token ratio, doc_id
# tie-break so the cut is deterministic).  One window shuffle keyed on
# source; at 100 TB the partition count equals the source cardinality
# (web domains — millions), so the window parallelizes naturally; a
# single mega-source would be handled by the same two-level split used
# in doc_pack_plan_bucketed (pre-aggregate a per-bucket top-K, then
# top-K of the K·n_buckets survivors — top-K is idempotent under that
# decomposition).
# --------------------------------------------------------------------------

_CAP_PER_SOURCE = 10


@query(
    "per_source_doc_caps",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len(list_distinct({_TOKENS_SQL})) AS DOUBLE)
           / len({_TOKENS_SQL}) AS ttr
  FROM documents
  WHERE len({_TOKENS_SQL}) > 0
),
r AS (
  SELECT source, doc_id, ttr,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY ttr DESC, doc_id) AS rnk
  FROM t
)
SELECT source, doc_id, ttr, rnk FROM r WHERE rnk <= {_CAP_PER_SOURCE}
""",
)
def per_source_doc_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").withColumn("toks", tokenize("text"))
    n = F.size("toks")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n
    scored = docs.filter(n > 0).select("source", "doc_id", ttr.alias("ttr"))
    w = Window.partitionBy("source").orderBy(F.desc("ttr"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _CAP_PER_SOURCE)
        .select("source", "doc_id", "ttr", "rnk")
    )


# --------------------------------------------------------------------------
# Histogram-sketch quantiles: the MERGEABLE alternative to the exact
# percentile above.  events_value_percentiles' exact quantile needs the
# full value multiset per group (a sort at 100 TB); this two-pass
# fixed-width histogram is pure algebra — min/max/count agg, then
# 1024-bin counts (map-side combinable), cumulative window over 1024
# rows/group, estimate = lower edge of the first bin whose cumulative
# count crosses q·n.  The guarantee is rank-space: the estimate
# brackets the order statistic at rank ⌈q·n⌉ to one bin width (pinned
# in tests; value-space distance to the interpolated quantile is
# unbounded in sparse tails — use the exact percentile query when the
# tail value itself matters).
# --------------------------------------------------------------------------

_HQ_BINS = 1024
_HQ_QS = (0.5, 0.9, 0.99)


@query(
    "events_value_hist_quantiles",
    oracle=f"""
WITH s AS (
  SELECT event_type, MIN(value) AS mn, MAX(value) AS mx,
         COUNT(value) AS n
  FROM events GROUP BY event_type
),
b AS (
  SELECT e.event_type,
         CAST(least(floor((e.value - s.mn) / ((s.mx - s.mn) / {_HQ_BINS})),
                    {_HQ_BINS - 1}) AS INT) AS bin
  FROM events e JOIN s USING (event_type)
  WHERE e.value IS NOT NULL
),
h AS (SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY event_type, bin),
cum AS (
  SELECT event_type, bin,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cc
  FROM h
),
est AS (
  SELECT c.event_type,
         {", ".join(f"MIN(CASE WHEN c.cc >= {q} * s.n THEN c.bin END) AS b{int(q * 100)}" for q in _HQ_QS)}
  FROM cum c JOIN s USING (event_type) GROUP BY c.event_type
)
SELECT s.event_type, s.n,
       {", ".join(f"s.mn + e.b{int(q * 100)} * ((s.mx - s.mn) / {_HQ_BINS}) AS p{int(q * 100)}_est" for q in _HQ_QS)}
FROM est e JOIN s USING (event_type)
""",
)
def events_value_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count("value").alias("n"),
    )
    w_col = (F.col("mx") - F.col("mn")) / F.lit(_HQ_BINS)
    binned = (
        ev.filter(F.col("value").isNotNull())
        .join(F.broadcast(s), "event_type")
        .select(
            "event_type",
            F.least(
                F.floor((F.col("value") - F.col("mn")) / w_col),
                F.lit(_HQ_BINS - 1),
            )
            .cast("int")
            .alias("bin"),
        )
    )
    h = binned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("bin")
    cum = h.withColumn("cc", F.sum("c").over(w))
    est = (
        cum.join(F.broadcast(s.select("event_type", "n")), "event_type")
        .groupBy("event_type")
        .agg(
            *[
                F.min(
                    F.when(F.col("cc") >= F.lit(q) * F.col("n"), F.col("bin"))
                ).alias(f"b{int(q * 100)}")
                for q in _HQ_QS
            ]
        )
    )
    return est.join(F.broadcast(s), "event_type").select(
        "event_type",
        "n",
        *[
            (F.col("mn") + F.col(f"b{int(q * 100)}") * w_col).alias(
                f"p{int(q * 100)}_est"
            )
            for q in _HQ_QS
        ],
    )


# --------------------------------------------------------------------------
# Multi-suite contamination matrix: one corpus scan audited against
# SEVERAL eval suites at once.  Real decontamination never runs against
# a single benchmark — it's a battery (MMLU, GSM8K, ...), and scanning
# 100 TB once per suite is the naive plan this query exists to avoid:
# the per-suite gram tables are unioned into ONE tiny broadcast
# (suite, gram) table, so every suite's audit rides the same single
# explode of the corpus.  Per-gram join fan-out is bounded by the
# number of suites containing that gram (≤ n_suites).
# --------------------------------------------------------------------------

_SUITE_N = 60  # eval stand-in: doc_id < 60, split into 3 suites
_N_SUITES = 3


@query(
    "eval_suite_contamination_matrix",
    oracle=f"""
WITH t AS (SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents),
g AS (
  SELECT doc_id, source, unnest({_DECON_GRAMS_SQL}) AS gram
  FROM t WHERE len(toks) >= {_DECON_W}
),
ev AS (
  SELECT DISTINCT doc_id % {_N_SUITES} AS suite, gram
  FROM g WHERE doc_id < {_SUITE_N}
)
SELECT ev.suite, g.source,
       CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_contaminated_docs,
       CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_distinct_grams,
       CAST(COUNT(*) AS BIGINT) AS n_gram_hits
FROM g JOIN ev USING (gram)
WHERE g.doc_id >= {_SUITE_N}
GROUP BY ev.suite, g.source
""",
)
def eval_suite_contamination_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(suite, source) contamination: training docs (doc_id ≥ 60)
    sharing any exact 8-token gram with each of three pseudo-suites
    (doc_id < 60, suite = doc_id mod 3 — the eval stand-in convention
    of doc_eval_contamination, widened to a battery).

    Plan: the corpus explodes its 8-gram stream ONCE; the union of all
    suites' distinct (suite, gram) rows is benchmark-sized and
    broadcast, so the matrix costs the same single scan as a one-suite
    audit plus a ≤ n_suites fan-out on matched grams.  The rollup keys
    on (suite, source) — constant cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.withColumn("toks", tokenize("text"))
        .filter(F.size("toks") >= _DECON_W)
        .select(
            "doc_id",
            "source",
            F.explode(shingles(F.col("toks"), _DECON_W)).alias("gram"),
        )
    )
    ev = (
        g.filter(F.col("doc_id") < _SUITE_N)
        .select((F.col("doc_id") % _N_SUITES).alias("suite"), "gram")
        .distinct()
    )
    return (
        g.filter(F.col("doc_id") >= _SUITE_N)
        .join(F.broadcast(ev), "gram")
        .groupBy("suite", "source")
        .agg(
            F.countDistinct("doc_id").alias("n_contaminated_docs"),
            F.countDistinct("gram").alias("n_distinct_grams"),
            F.count(F.lit(1)).alias("n_gram_hits"),
        )
    )


@query(
    "leakage_safe_split_assignments",
    oracle=f"""
WITH RECURSIVE
{neardup_rep_ctes()}
SELECT doc_id, rep, {_split_case_sql('rep')} AS split
FROM __m
""",
)
def leakage_safe_split_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level face of the leakage-safe split: every document with
    its cluster representative and assigned split — what a loader
    actually consumes (and what build_training_corpus(assign_splits=
    True) materializes onto the shipped shards).  Same rep chain and
    hash as the summary; the driver row pins the assignment itself,
    not just its rollup."""
    return neardup_rep_frame(spark, sf_dir).select(
        "doc_id", "rep", split_of(F.col("rep")).alias("split")
    )


@query(
    "eval_fuzzy_contamination",
    oracle=f"""
WITH {lsh_pairs_ctes()},
__sets AS (SELECT doc_id, list_distinct(sh) AS s FROM __sh),
__ver AS (
  SELECT p.doc_a, p.doc_b, {_JAC_SQL} AS jaccard
  FROM __lsh_pairs p
  JOIN __sets a ON a.doc_id = p.doc_a
  JOIN __sets b ON b.doc_id = p.doc_b
  WHERE {_JAC_SQL} >= {_JACCARD_MIN}
),
__x AS (
  SELECT CASE WHEN doc_a >= {_EVAL_N} THEN doc_a ELSE doc_b END AS doc_id,
         jaccard
  FROM __ver
  WHERE (doc_a < {_EVAL_N}) <> (doc_b < {_EVAL_N})
)
SELECT x.doc_id, d.source,
       CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
       MAX(x.jaccard) AS max_jaccard
FROM __x x JOIN documents d ON x.doc_id = d.doc_id
GROUP BY x.doc_id, d.source
""",
)
def eval_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAPHRASE-level contamination: training docs whose 3-token
    shingle-set Jaccard with any eval stand-in doc reaches the near-dup
    threshold (0.5) — rewordings and partial rewrites that exact-8-gram
    decon (doc_eval_contamination / the ingest s4 gate) cannot see.
    The decon ladder is: exact grams (cheap, catches quotes) → span
    surgery (keeps the doc) → THIS fuzzy tier (catches paraphrases).

    Plan: the registered LSH→verify pair plan does all the work; this
    face filters verified pairs to those crossing the eval boundary and
    rolls up per training doc.  The eval side is benchmark-sized, so at
    100 TB the candidate stage degenerates to a broadcast band join
    against the eval docs' band rows (the ingest-index shape) — never
    a corpus self-join for this audit alone."""
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    is_eval_a = F.col("doc_a") < _EVAL_N
    is_eval_b = F.col("doc_b") < _EVAL_N
    x = pairs.filter(is_eval_a != is_eval_b).select(
        F.when(F.col("doc_a") >= _EVAL_N, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id"),
        "jaccard",
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        x.join(docs, "doc_id")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Doc-length quantiles per source: the distribution behind the
# pack-efficiency sweep (queries/shards.pack_efficiency_by_seqlen) — a
# SEQ_LEN choice reads p50/p90/p99 doc lengths next to the padding/
# fragmentation costs.  Exact linear-interpolation percentile (Spark
# ``percentile`` ≡ DuckDB ``quantile_cont``), the events_value_
# percentiles convention applied to the token-count column.
# --------------------------------------------------------------------------

_DL_PCTS = (0.25, 0.5, 0.75, 0.9, 0.99)


@query(
    "doc_length_quantiles",
    oracle=f"""
WITH t AS (SELECT source, len({_TOKENS_SQL}) AS n_tokens FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(n_tokens) AS min_tokens,
       {", ".join(
           f"quantile_cont(n_tokens, {p}) AS p{int(p * 100)}"
           for p in _DL_PCTS)},
       MAX(n_tokens) AS max_tokens
FROM t GROUP BY source
""",
)
def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length distribution: min, p25/50/75/90/99,
    max.  One grouped exact-percentile agg (per-group sort of the
    lengths — ints, so the interpolation is deterministic)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", F.size(tokenize("text")).alias("n_tokens"))
    pct_arr = "array(" + ", ".join(f"{p}D" for p in _DL_PCTS) + ")"
    df = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.expr(f"percentile(n_tokens, {pct_arr})").alias("pcts"),
        F.max("n_tokens").alias("max_tokens"),
    )
    return df.select(
        "source",
        "n_docs",
        "min_tokens",
        *[
            F.get("pcts", i).alias(f"p{int(p * 100)}")
            for i, p in enumerate(_DL_PCTS)
        ],
        "max_tokens",
    )

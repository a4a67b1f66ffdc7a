"""Text-analysis + deduplication queries over ``documents``.

This family covers (a) the reference's keyword-labeling surface
(MLP.ipynb allergen pipeline shapes, re-targeted at the driver's
``documents`` corpus) and (b) the LLM-training-data-pipeline extensions:
token stats, quality scoring, exact dedup, MinHash/LSH near-dedup,
n-gram Jaccard.

Scale notes:
  * labeling/tokenization are pure row-level expressions — no shuffle,
    full codegen, embarrassingly parallel at 100 TB;
  * exact dedup groups by md5(text): one shuffle on a uniform key;
  * MinHash signatures are row-level; LSH banding turns near-dedup into
    an equi-join on band keys (shuffle on band, no O(n²) compare);
  * n-gram Jaccard = candidates-then-verify: exact shingle-set Jaccard
    is computed ONLY on LSH candidate pairs, never all pairs — the
    verify join volume tracks the true-duplicate rate, not n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.functions.arrays import first_match_category, has_any_keyword
from bigdatamlteamrepo_spark.functions.text import (
    has_ws_tokens,
    shingles,
    tokenize,
    ws_tokens,
)
from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.queries.registry import query

#: flagship keyword set (allergen-keyword analogue over the synthetic vocab)
LABEL_KEYWORDS = ["spark", "join", "stream"]

#: first-match-wins category map (MLP.ipynb:c5:31-38 shape; order matters)
CATEGORY_MAP = {
    "compute": ["spark", "query", "hash"],
    "relational": ["join", "merge", "filter"],
    "streaming": ["stream", "window", "batch"],
    "storage": ["table", "row", "column"],
}

_TOKENS_SQL = "string_split_regex(lower(text), '\\s+')"


def _with_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + toks — THE tokenize prefix of the text tier (a lazy
    plan; each query face that reads it runs its own scan)."""
    return load_table(spark, sf_dir, "documents").select("*", ws_tokens("text"))


# --------------------------------------------------------------------------
# Flagship: keyword labeling + class distribution (SURVEY §7 minimum slice:
# read → tokenize/lower → arrays_overlap label → groupBy(label).count()).
# --------------------------------------------------------------------------


@query(
    "doc_keyword_label_counts",
    oracle=f"""
SELECT CASE WHEN list_has_any({_TOKENS_SQL},
            ['spark', 'join', 'stream']) THEN 1 ELSE 0 END AS has_keyword,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
""",
    bench=True,
)
def doc_keyword_label_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _with_tokens(spark, sf_dir)
        .withColumn("has_keyword", has_any_keyword(F.col("toks"), LABEL_KEYWORDS))
        .groupBy("has_keyword")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------------
# First-match-wins multiclass labeling (MLP.ipynb:c5:31-38 CASE chain).
# --------------------------------------------------------------------------


@query(
    "doc_category_distribution",
    oracle=f"""
WITH t AS (SELECT lang, {_TOKENS_SQL} AS toks FROM documents)
SELECT CASE
         WHEN list_has_any(toks, ['spark', 'query', 'hash']) THEN 'compute'
         WHEN list_has_any(toks, ['join', 'merge', 'filter']) THEN 'relational'
         WHEN list_has_any(toks, ['stream', 'window', 'batch']) THEN 'streaming'
         WHEN list_has_any(toks, ['table', 'row', 'column']) THEN 'storage'
         ELSE 'none'
       END AS category,
       lang,
       COUNT(*) AS n_docs
FROM t
GROUP BY 1, 2
""",
)
def doc_category_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _with_tokens(spark, sf_dir)
        .withColumn("category", first_match_category(F.col("toks"), CATEGORY_MAP))
        .groupBy("category", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------------
# Multi-hot label matrix distribution (MLP.ipynb:c7:27-39 is_{cat} columns).
# --------------------------------------------------------------------------


@query(
    "doc_multihot_label_totals",
    oracle=f"""
WITH t AS (SELECT {_TOKENS_SQL} AS toks FROM documents)
SELECT CAST(SUM(CASE WHEN list_has_any(toks, ['spark', 'query', 'hash']) THEN 1 ELSE 0 END) AS BIGINT) AS n_compute,
       CAST(SUM(CASE WHEN list_has_any(toks, ['join', 'merge', 'filter']) THEN 1 ELSE 0 END) AS BIGINT) AS n_relational,
       CAST(SUM(CASE WHEN list_has_any(toks, ['stream', 'window', 'batch']) THEN 1 ELSE 0 END) AS BIGINT) AS n_streaming,
       CAST(SUM(CASE WHEN list_has_any(toks, ['table', 'row', 'column']) THEN 1 ELSE 0 END) AS BIGINT) AS n_storage,
       COUNT(*) AS n_docs
FROM t
""",
)
def doc_multihot_label_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _with_tokens(spark, sf_dir)
    aggs = [
        F.sum(has_any_keyword(F.col("toks"), kws)).alias(f"n_{name}")
        for name, kws in CATEGORY_MAP.items()
    ]
    return df.agg(*aggs, F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# Token statistics per language (counting, quality aggregates).
# --------------------------------------------------------------------------


@query(
    "doc_token_stats_by_lang",
    oracle=f"""
WITH t AS (SELECT lang, n_chars, len({_TOKENS_SQL}) AS n_tokens FROM documents)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
       MAX(n_tokens) AS max_tokens
FROM t
GROUP BY lang
""",
)
def doc_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _with_tokens(spark, sf_dir).withColumn("n_tokens", F.size("toks"))
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# Per-document quality score (row-level; integer-derived doubles are
# bit-deterministic so no rounding is needed for the oracle).
# --------------------------------------------------------------------------


@query(
    "doc_quality_scores",
    oracle=f"""
WITH t AS (SELECT doc_id, n_chars, {_TOKENS_SQL} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_unique_tokens,
       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio,
       CAST(n_chars AS DOUBLE) / len(toks) AS chars_per_token
FROM t
WHERE len(toks) > 0
""",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _with_tokens(spark, sf_dir)
    n = F.size("toks")
    uniq = F.size(F.array_distinct("toks"))
    return df.filter(n > 0).select(
        "doc_id",
        n.alias("n_tokens"),
        uniq.alias("n_unique_tokens"),
        (uniq.cast("double") / n.cast("double")).alias("type_token_ratio"),
        (F.col("n_chars").cast("double") / n.cast("double")).alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# BPE-ish token counting: sub-word-style splitting on word boundaries /
# digit runs / punctuation (a regex approximation of byte-pair behavior
# for counting purposes), identical regex semantics in both engines.
# --------------------------------------------------------------------------

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


@query(
    "doc_bpe_token_counts",
    oracle=f"""
WITH t AS (
  SELECT lang,
         len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS n_bpe,
         len({_TOKENS_SQL}) AS n_ws
  FROM documents
)
SELECT lang,
       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_ws) AS DOUBLE) AS bpe_per_word
FROM t
GROUP BY lang
""",
)
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(f"({_BPE_RE})"), 1)
    )
    n_ws = F.size(tokenize("text"))
    t = docs.select("lang", n_bpe.alias("n_bpe"), n_ws.alias("n_ws"))
    return t.groupBy("lang").agg(
        F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
        F.sum("n_ws").cast("bigint").alias("total_ws_tokens"),
        (
            F.sum("n_bpe").cast("double") / F.sum("n_ws").cast("double")
        ).alias("bpe_per_word"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting: winnowing over a character rolling hash —
# k-char shingles hashed (md5, portable), minimum per sliding window of
# w hashes = the classic winnowing fingerprint set (MOSS).  Output is
# the per-document fingerprint count + extrema (bounded row size).
# --------------------------------------------------------------------------

_K_CHARS = 8
_WINNOW_W = 4


@query(
    "doc_winnowing_fingerprints",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, length(text) - {_K_CHARS} + 2),
                        i -> md5(substring(text, i, {_K_CHARS}))) AS hs
  FROM documents
  WHERE length(text) >= {_K_CHARS + _WINNOW_W - 1}
),
fp AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(hs) - {_WINNOW_W} + 2),
                        i -> list_min(hs[i:i+{_WINNOW_W - 1}]))) AS fps
  FROM h
)
SELECT doc_id,
       len(fps) AS n_fingerprints,
       list_min(fps) AS min_fp,
       list_max(fps) AS max_fp
FROM fp
""",
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= _K_CHARS + _WINNOW_W - 1
    )
    hs = F.transform(
        F.sequence(F.lit(1), F.length("text") - (_K_CHARS - 1)),
        lambda i: F.md5(F.col("text").substr(i, F.lit(_K_CHARS))),
    )
    docs = docs.withColumn("hs", hs)
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("hs") - _WINNOW_W),
            lambda i: F.array_min(F.slice("hs", i + 1, _WINNOW_W)),
        )
    )
    return docs.select(
        "doc_id",
        F.size(fps).alias("n_fingerprints"),
        F.array_min(fps).alias("min_fp"),
        F.array_max(fps).alias("max_fp"),
    )


# --------------------------------------------------------------------------
# Winnowing near-dup pairs (MOSS): documents sharing ≥ min_shared
# winnowing fingerprints.  Explode → equi-join on the fingerprint →
# pair-count: the plagiarism/code-clone detection join, linear-shuffle
# at any corpus size (candidate volume tracks shared-fingerprint mass,
# not n²).
# --------------------------------------------------------------------------

_WINNOW_MIN_SHARED = 2


@query(
    "winnowing_neardup_pairs",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, length(text) - {_K_CHARS} + 2),
                        i -> md5(substring(text, i, {_K_CHARS}))) AS hs
  FROM documents
  WHERE length(text) >= {_K_CHARS + _WINNOW_W - 1}
),
fp AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(hs) - {_WINNOW_W} + 2),
                        i -> list_min(hs[i:i+{_WINNOW_W - 1}])))) AS f
  FROM h
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
""",
)
def winnowing_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= _K_CHARS + _WINNOW_W - 1
    )
    hs = F.transform(
        F.sequence(F.lit(1), F.length("text") - (_K_CHARS - 1)),
        lambda i: F.md5(F.col("text").substr(i, F.lit(_K_CHARS))),
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("hs") - _WINNOW_W),
            lambda i: F.array_min(F.slice("hs", i + 1, _WINNOW_W)),
        )
    )
    fp = (
        docs.withColumn("hs", hs)
        .select("doc_id", F.explode(fps).alias("f"))
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )


# --------------------------------------------------------------------------
# Asymmetric containment (doc-inside-doc): the quote/boilerplate/
# subset-document detector symmetric Jaccard misses — a short doc fully
# contained in a long one scores low Jaccard but containment ≈ 1.
# containment(A in B) = |F_A ∩ F_B| / |F_A| over winnowing fingerprints.
# Same explode + fingerprint equi-join as winnowing_neardup_pairs (no
# n²); one broadcast-size join adds each side's fingerprint count.
# --------------------------------------------------------------------------

_CONTAIN_MIN = 0.5


@query(
    "doc_containment_pairs",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, length(text) - {_K_CHARS} + 2),
                        i -> md5(substring(text, i, {_K_CHARS}))) AS hs
  FROM documents
  WHERE length(text) >= {_K_CHARS + _WINNOW_W - 1}
),
fps AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(hs) - {_WINNOW_W} + 2),
                        i -> list_min(hs[i:i+{_WINNOW_W - 1}]))) AS fp
  FROM h
),
counts AS (SELECT doc_id, len(fp) AS n_fps FROM fps),
fp AS (SELECT doc_id, unnest(fp) AS f FROM fps),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
)
SELECT s.doc_a, s.doc_b, s.n_shared,
       CAST(s.n_shared AS DOUBLE) / ca.n_fps AS containment_a,
       CAST(s.n_shared AS DOUBLE) / cb.n_fps AS containment_b
FROM shared s
JOIN counts ca ON ca.doc_id = s.doc_a
JOIN counts cb ON cb.doc_id = s.doc_b
WHERE CAST(s.n_shared AS DOUBLE) / ca.n_fps >= {_CONTAIN_MIN}
   OR CAST(s.n_shared AS DOUBLE) / cb.n_fps >= {_CONTAIN_MIN}
""",
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= _K_CHARS + _WINNOW_W - 1
    )
    hs = F.transform(
        F.sequence(F.lit(1), F.length("text") - (_K_CHARS - 1)),
        lambda i: F.md5(F.col("text").substr(i, F.lit(_K_CHARS))),
    )
    fps_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("hs") - _WINNOW_W),
            lambda i: F.array_min(F.slice("hs", i + 1, _WINNOW_W)),
        )
    )
    with_fps = docs.withColumn("hs", hs).select("doc_id", fps_arr.alias("fp"))
    # materialize once: fingerprint explode AND per-doc counts read it
    with_fps = truncate(with_fps)
    counts = with_fps.select("doc_id", F.size("fp").alias("n_fps"))
    fp = with_fps.select("doc_id", F.explode("fp").alias("f"))
    a, b = fp.alias("a"), fp.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_fps").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_fps").alias("n_b"))
    cont_a = F.col("n_shared").cast("double") / F.col("n_a")
    cont_b = F.col("n_shared").cast("double") / F.col("n_b")
    return (
        shared.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            cont_a.alias("containment_a"),
            cont_b.alias("containment_b"),
        )
        .filter(
            (F.col("containment_a") >= _CONTAIN_MIN)
            | (F.col("containment_b") >= _CONTAIN_MIN)
        )
    )


# --------------------------------------------------------------------------
# Language identification (marker voting; see functions/langid.py).
# Marker voting is pure list/string arithmetic, so it carries a full
# DuckDB oracle (struct-max argmax with identical tie-break); accuracy
# on real multilingual text is asserted separately on a fixture in
# tests (the driver docs' lang column is text-uncorrelated).
# --------------------------------------------------------------------------


def _langid_oracle() -> str:
    from bigdatamlteamrepo_spark.functions.langid import language_id_sql

    return f"""
WITH t AS (SELECT text, {_TOKENS_SQL} AS toks FROM documents)
SELECT {language_id_sql("text", "toks")} AS predicted_lang,
       COUNT(*) AS n_docs
FROM t
GROUP BY 1
"""


@query("doc_language_id", oracle=_langid_oracle())
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatamlteamrepo_spark.functions.langid import language_id

    df = _with_tokens(spark, sf_dir)
    return (
        df.withColumn(
            "predicted_lang", language_id(F.col("toks"), text=F.col("text"))
        )
        .groupBy("predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------------
# Token-distribution entropy per document: -Σ p·ln(p) over token
# frequencies.  Portability trick: fold over the SORTED distinct token
# list so both engines sum identical doubles in identical order.
# --------------------------------------------------------------------------


@query(
    "doc_token_entropy",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
d AS (
  SELECT doc_id, toks, list_sort(list_distinct(toks)) AS dt, len(toks) AS n
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       list_sum(list_transform(dt,
         x -> -(CAST(len(list_filter(toks, y -> y = x)) AS DOUBLE) / n)
              * ln(CAST(len(list_filter(toks, y -> y = x)) AS DOUBLE) / n)
       )) AS token_entropy,
       len(dt) AS n_unique
FROM d
""",
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _with_tokens(spark, sf_dir).filter(F.size("toks") > 0)
    dt = F.array_sort(F.array_distinct("toks"))
    n = F.size("toks").cast("double")
    p = lambda x: F.size(F.filter(F.col("toks"), lambda y: y == x)).cast("double") / n
    terms = F.transform(dt, lambda x: -p(x) * F.log(p(x)))
    entropy = F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)
    return df.select(
        "doc_id",
        entropy.alias("token_entropy"),
        F.size(dt).alias("n_unique"),
    )


# --------------------------------------------------------------------------
# Exact dedup: md5(text) grouping; keep = min(doc_id) per hash
# (hash-groupBy dedup — one shuffle on a uniform key at any scale).
# --------------------------------------------------------------------------


@query(
    "dedup_exact_by_lang",
    oracle="""
WITH kept AS (
  SELECT lang, md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
  FROM documents GROUP BY lang, md5(text)
)
SELECT lang,
       COUNT(*) AS n_kept,
       CAST(SUM(n_copies) AS BIGINT) AS n_total,
       CAST(SUM(n_copies - 1) AS BIGINT) AS n_removed
FROM kept GROUP BY lang
""",
)
def dedup_exact_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = (
        docs.groupBy("lang", F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_copies").cast("bigint").alias("n_total"),
        F.sum(F.col("n_copies") - 1).cast("bigint").alias("n_removed"),
    )


# --------------------------------------------------------------------------
# MinHash signatures (portable md5-based minhash, SQL-expressible; see
# functions/text.py docstring for the 100 TB design rationale).
#
# ``minhash_signatures`` keeps the fixed 4-hash signature as the bench /
# oracle fixed point; the LSH queries below use the parameterized
# ``LSH_N_HASHES``/``LSH_N_BANDS`` config (default 16 hashes / 4 bands
# of 4 — measured on the driver corpus: candidate set == the exact
# shingle-Jaccard ≥ 0.5 pair set at sf0.001 and sf0.01, i.e. recall AND
# precision 1.0 before verification).
# --------------------------------------------------------------------------

_N_HASHES = 4

# 24 hashes / 6 bands of 4: same per-band s-curve exponent (r=4) as the
# original 16/4 config but 1.5 bands' worth more OR-amplification —
# chosen once the universal-hash signature (uh_signature_frame) made
# extra seeds nearly free (arithmetic, not md5).  Measured: candidate
# set == exact >=0.5 shingle-Jaccard pair set at sf0.001, sf0.01 AND
# sf0.1 (the 16/4 config missed 2/256 at sf0.1 on the s-curve tail).
LSH_N_HASHES = 24
LSH_N_BANDS = 6

_SHINGLES_SQL = (
    "list_transform(range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)


def _minhash_sql(seed: int) -> str:
    return (
        "list_min(list_transform("
        f"{_SHINGLES_SQL}, "
        f"s -> md5('{seed}|' || s)))"
    )


#: bits kept per hash (b=2 → agreement baseline 1/4 for J=0)
_BBIT_MOD = 4

def _n_agree_sql() -> str:
    """SQL for the 2-bit remnant agreement count between ``a``/``b``
    rows of ``__sig`` (the oracle of :func:`bbit_minhash_jaccard_pairs`)."""
    return (
        "CAST(("
        + " + ".join(
            f"CASE WHEN a.mh_{i} % {_BBIT_MOD} = b.mh_{i} % {_BBIT_MOD}"
            f" THEN 1 ELSE 0 END"
            for i in range(LSH_N_HASHES)
        )
        + ") AS BIGINT)"
    )


def lsh_pairs_ctes(
    n_hashes: int = LSH_N_HASHES,
    n_bands: int = LSH_N_BANDS,
) -> str:
    """Shared oracle CTE chain ending in ``__lsh_pairs(doc_a, doc_b)``.

    Mirrors the Spark plan of :func:`lsh_candidate_pairs` hash-for-hash
    (one md5 per shingle → word-derived universal-hash minhash
    (:func:`uh_signature_frame`) → banded keys → equi-join) so every
    LSH-derived query stays oracle-checkable.  Callers embed it as
    ``WITH {ctes}, ...``."""
    from bigdatamlteamrepo_spark.functions.text import UH_MOD, uh_constants

    r = n_hashes // n_bands
    consts = uh_constants(n_hashes)
    sigs = ",\n         ".join(
        f"list_min(list_transform(ws, w -> ({a} * w.w1 + {b} * w.w2 + {c})"
        f" % {UH_MOD})) AS mh_{i}"
        for i, (a, b, c) in enumerate(consts)
    )
    band_sel = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, md5('{b}#' || "
        + " || ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        + ") AS band FROM __sig"
        for b in range(n_bands)
    )
    return f"""__t0 AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
__sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM __t0 WHERE len(toks) >= 3),
__w AS (SELECT doc_id, list_transform(sh, s -> struct_pack(
         w1 := ('0x' || substr(md5(s), 1, 8))::BIGINT,
         w2 := ('0x' || substr(md5(s), 9, 8))::BIGINT)) AS ws
  FROM __sh),
__sig AS (SELECT doc_id,
         {sigs}
  FROM __w),
__bands AS (
  {band_sel}
),
__lsh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM __bands a JOIN __bands b ON a.band = b.band AND a.doc_id < b.doc_id
)"""


def lsh_band_rows(
    df: DataFrame,
    shingle_col,
    n_hashes: int = LSH_N_HASHES,
    n_bands: int = LSH_N_BANDS,
) -> DataFrame:
    """(doc_id, band) rows — the banded-MinHash signature index.

    The signature is a grouped aggregation rather than a per-row array
    fold: explode shingles, digest each ONCE, take the n_hashes
    universal-hash mins with map-side partial aggregation (combiner
    state = n_hashes longs/doc, so the doc_id shuffle moves signatures,
    not shingles).  Measured 2.4× faster than the array-accumulator
    fold at sf0.1 — Tungsten hash-agg min beats per-shingle array
    rebuilds — and the values are identical (same md5-word universal
    hashes, and a min is duplicate-insensitive).

    This is exactly the table a 100 TB deployment PERSISTS as its dedup
    index (partitioned/bucketed by ``band``): batch self-join for
    corpus dedup, band equi-join for incremental new-batch dedup
    (:func:`neardup_incremental_lsh`).
    """
    from bigdatamlteamrepo_spark.functions.text import band_keys

    sig = uh_signature_frame(df, shingle_col, n_hashes)
    mh = F.array(*[F.col(f"m{i}") for i in range(n_hashes)])
    return sig.select(
        "doc_id", F.explode(band_keys(mh, n_hashes, n_bands)).alias("band")
    )


def uh_signature_frame(
    df: DataFrame, shingle_col, n_hashes: int = LSH_N_HASHES
) -> DataFrame:
    """(doc_id, m0..m{n_hashes-1}) — the universal-hash MinHash
    signature as a grouped MIN with map-side partial aggregation (the
    combiner state is n_hashes longs per doc, so the shuffle moves
    signatures, not shingles).  Shared by the band index
    (:func:`lsh_band_rows`) and the b-bit compressed estimator
    (:func:`bbit_minhash_jaccard_pairs`)."""
    from bigdatamlteamrepo_spark.functions.text import UH_MOD, uh_constants

    ex = df.select("doc_id", F.explode(shingle_col).alias("sh"))
    hx = F.md5("sh")
    words = ex.select(
        "doc_id",
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("w1"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("w2"),
    )
    consts = uh_constants(n_hashes)
    return words.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(a) * F.col("w1") + F.lit(b) * F.col("w2") + F.lit(c))
                % F.lit(UH_MOD)
            ).alias(f"m{i}")
            for i, (a, b, c) in enumerate(consts)
        ]
    )


#: independent b-bit family: 128 hashes from a DIFFERENT PRNG seed than
#: the 24-hash LSH banding family, 2-bit remnants packed into eight
#: 32-bit words per doc (32 bytes) — the production sketch sizing
#: (Li & König 2010) under which the prefilter reads evidence the
#: banding did NOT select on
BBIT_IND_HASHES = 128
BBIT_IND_SEED = 7331
#: keep a pair iff >= this many of the 128 remnants agree.  Agreement
#: prob per hash = J + (1-J)/4; at the verify threshold J = 0.5 the
#: count is Binom(128, 0.625) (mean 80, sd 5.4) -> P(drop true) =
#: P(X < 64) ~ 1e-3; junk at J = 0.3 (mean 60.8) keeps ~30%, J = 0.2
#: (mean 51.2) keeps ~1.4%, J <= 0.1 effectively 0 (tools/bbit_probe.py
#: measures these).
BBIT_IND_MIN = 64


def bbit_sketch_frame(
    df: DataFrame,
    shingle_col,
    n_hashes: int = BBIT_IND_HASHES,
    seed: int = BBIT_IND_SEED,
) -> DataFrame:
    """(doc_id, p0, p1, q0, q1) — the packed independent b-bit sketch.

    128 universal-hash minhashes from a family independent of the LSH
    banding family (:func:`uh_constants` with a different seed), each
    reduced to its 2-bit remnant and packed bit-plane-wise into 32-bit
    words: p0..p3 hold remnant bit 0 of hashes 0-31/32-63/64-95/96-127,
    q0..q3 bit 1 (32-bit words so the pack fold never touches a signed
    long's top bit — ANSI mode forbids the wraparound).  Agreement
    between two docs is then pure bit arithmetic —
    ``128 - Σ popcount((p^p') | (q^q'))`` over the four word pairs — so
    the prefilter join moves 32 payload bytes per doc and compares in
    ~12 ALU ops.

    At 100 TB this frame is built ONCE at ingest next to the band/set
    tables (streaming/ingest.py discipline) and persisted; the grouped
    MIN is map-side combinable exactly like
    :func:`uh_signature_frame`."""
    from bigdatamlteamrepo_spark.functions.text import UH_MOD, uh_constants

    # columns built as SQL strings, ONE py4j call each: constructing
    # the ~1300 Column objects expression-by-expression spent 3.5-5 s
    # of pure py4j round-trips per plan build (measured; execution
    # itself is 0.8 s warm at sf0.01)
    ex = df.select("doc_id", F.explode(shingle_col).alias("sh"))
    words = ex.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(sh), 1, 8), 16, 10) AS BIGINT) AS w1",
        "CAST(conv(substring(md5(sh), 9, 8), 16, 10) AS BIGINT) AS w2",
    )
    consts = uh_constants(n_hashes, seed=seed)
    agg = words.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({a}L * w1 + {b}L * w2 + {c}L) % {UH_MOD}L) AS m{i}")
            for i, (a, b, c) in enumerate(consts)
        ]
    )

    def word(bit: int, lo: int, name: str):
        # fold MSB-first: acc*2 + b_j builds Σ b_j·2^j with one small
        # lambda instead of a 32-deep shift-add chain (whose codegen
        # compile cost dominated cold runs); 32 bits per word keeps
        # the fold far from long overflow under ANSI mode
        bit_sql = (
            "m{i} % 4 % 2" if bit == 0 else "(m{i} % 4) div 2"
        )
        arr = ", ".join(
            bit_sql.format(i=i) for i in reversed(range(lo, lo + 32))
        )
        return F.expr(
            f"aggregate(array({arr}), 0L, (acc, x) -> acc * 2L + x)"
            f" AS {name}"
        )

    return agg.select(
        "doc_id",
        *[word(0, 32 * k, f"p{k}") for k in range(4)],
        *[word(1, 32 * k, f"q{k}") for k in range(4)],
    )


def bbit_independent_prefilter(
    cand: DataFrame, sk: DataFrame, min_agree: int = BBIT_IND_MIN
) -> DataFrame:
    """Drop candidate pairs whose independent 128-hash 2-bit remnants
    agree on fewer than ``min_agree`` positions.

    This is the configuration under which the b-bit tier earns its
    keep (SCALING.md "b-bit verify prefilter"): the hashes are drawn
    from a family the banding never saw, so mid-similarity junk that
    banding admitted by luck is re-judged on fresh evidence.  Remnants
    of the banding's own 24 hashes would re-read the selection evidence
    instead; that correlated variant was measured to remove ~0% and was
    deleted (its history is in git).  Agreement is popcount arithmetic
    over the packed planes; the join moves 32 bytes/doc from the
    persisted sketch table."""
    return (
        bbit_independent_agreement(cand, sk)
        .filter(F.col("n_agree") >= F.lit(min_agree))
        .select("doc_a", "doc_b")
    )


def bbit_independent_agreement(cand: DataFrame, sk: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_agree) — remnant-agreement counts of candidate
    pairs from the packed independent sketch: two XOR-OR-popcounts per
    pair (see :func:`bbit_sketch_frame` for the plane layout)."""
    a = sk.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"p{k}").alias(f"ap{k}") for k in range(4)],
        *[F.col(f"q{k}").alias(f"aq{k}") for k in range(4)],
    )
    b = sk.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"p{k}").alias(f"bp{k}") for k in range(4)],
        *[F.col(f"q{k}").alias(f"bq{k}") for k in range(4)],
    )
    diff = sum(
        F.bit_count(
            F.col(f"ap{k}").bitwiseXOR(F.col(f"bp{k}"))
            .bitwiseOR(F.col(f"aq{k}").bitwiseXOR(F.col(f"bq{k}")))
        )
        for k in range(4)
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.lit(BBIT_IND_HASHES) - diff).cast("bigint").alias("n_agree"),
        )
    )


#: hot-bucket salting defaults for :func:`lsh_candidate_pairs`: a band
#: bucket wider than max(SALT_MIN_WIDTH, SALT_FACTOR × mean width) is
#: grid-decomposed over SALT_CELLS sub-tasks.  Mirrors the passage
#: cap's auto rule (curation.passage_neardup_pairs); on a healthy
#: corpus (mean band width ~1-2) NO bucket crosses the bar and the hot
#: branch carries zero rows.
SALT_MIN_WIDTH = 64
SALT_FACTOR = 8
SALT_CELLS = 8


def lsh_candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = LSH_N_HASHES,
    n_bands: int = LSH_N_BANDS,
    sets: DataFrame | None = None,
    salt: str | None = "auto",
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing ≥1 MinHash band.

    The banding step of MinHash-LSH: one row-level signature pass, one
    explode to n_bands rows/doc, one equi-join shuffle on the band key.
    No O(n²) stage at any corpus size; candidate volume is governed by
    the s-curve 1-(1-j^r)^b, so precision/recall move with
    (n_hashes, n_bands), not data size.

    ``sets``: optionally a precomputed (doc_id, s) distinct-shingle-set
    frame (see :func:`_shingle_sets`) so callers that ALSO verify
    candidates (ngram_jaccard_pairs, neardup_dedup_summary) tokenize
    and shingle the corpus exactly once.  MinHash over the distinct set
    equals MinHash over the raw shingle list (duplicates never change a
    min), so the candidate set — and the oracle — is unchanged.

    Candidates come only from the docs of ``sets``: a batch or
    survivor slice yields pairs inside that slice.

    ``salt="auto"`` (the DEFAULT, VERDICT_r8 #8): boilerplate corpora
    concentrate docs into a few band buckets, and the self-join then
    does |bucket|² work in ONE reducer task — the classic skew killer
    at 100 TB.  Buckets wider than max(SALT_MIN_WIDTH, SALT_FACTOR ×
    mean width) are grid-decomposed instead: each hot doc gets a
    deterministic cell = xxhash64(doc_id) mod SALT_CELLS, the probe
    side of the hot join is replicated once per cell, and the join key
    becomes (band, cell) — max task work drops by SALT_CELLS× at a
    SALT_CELLS× replication of ONLY the hot rows.  Every unordered
    pair (u < v) is emitted exactly once (in u's cell), so the pair
    set — and every downstream oracle — is IDENTICAL to the unsalted
    join (pinned in tests/test_skew.py).  The width scan is one agg
    over the already-materialized band table; its 1-row mean is a
    bounded collect.  ``salt=None`` disables.
    """
    if sets is None:
        df = _with_tokens(spark, sf_dir).filter(F.size("toks") >= 3)
        shingle_col = shingles(F.col("toks"), 3)
    else:
        df = sets
        shingle_col = F.col("s")
    # materialize the banded signatures once: the self-join below would
    # otherwise run the whole signature aggregation twice, once per
    # alias; (doc_id, band) rows are tiny relative to the corpus.
    # LAZY when salt="auto" (the default): the width aggregate's 1-row
    # collect below is the first action and fills it — one job instead
    # of eager-copy + re-read (r13); the self-join then reads the
    # materialized partitions.  With salt=None the self-join IS the
    # first consumer and its two concurrently-scheduled scan stages
    # could each compute the unmaterialized signature chain — keep the
    # eager copy there.
    bands = truncate(
        lsh_band_rows(df, shingle_col, n_hashes, n_bands), eager=salt is None
    )

    def _pairs(frame: DataFrame) -> DataFrame:
        a, b = frame.alias("a"), frame.alias("b")
        return a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )

    if salt is None:
        return _pairs(bands).distinct()

    # hot-bucket split: width per band (one agg over the materialized
    # band table), 1-row mean collect (bounded-collect convention,
    # NOT a broadcast of an un-materialized aggregate — NOTES_r8)
    widths = bands.groupBy("band").agg(F.count(F.lit(1)).alias("__w"))
    stats = widths.agg(F.avg("__w"), F.max("__w")).collect()[0]
    mean_w, max_w = stats[0], stats[1]
    thr = max(SALT_MIN_WIDTH, int(SALT_FACTOR * mean_w) if mean_w else 0)
    if max_w is None or max_w <= thr:
        # healthy corpus: no hot bucket — keep the exact unsalted plan
        # (the insurance costs one agg over the materialized band
        # table + a 1-row collect, nothing else)
        return _pairs(bands).distinct()
    # hot keys are FEW by construction (≤ |band rows| / thr), so the
    # split is a broadcast membership mark — the band table itself
    # never shuffles against the width table.  bands is materialized
    # (truncate), so building the broadcast side
    # re-runs only the small width agg, not the signature chain.
    hot_keys = widths.filter(F.col("__w") > thr).select(
        "band", F.lit(True).alias("__hot")
    )
    banded = bands.join(F.broadcast(hot_keys), "band", "left")
    cold = banded.filter(F.col("__hot").isNull()).drop("__hot")
    hot = banded.filter(F.col("__hot").isNotNull()).drop("__hot")
    # grid decomposition of the hot self-join: build side keyed by its
    # own deterministic cell, probe side replicated once per cell —
    # pair (u < v) appears exactly once, in the task (band, cell(u))
    hot_cells = hot.withColumn(
        "__cell", F.pmod(F.xxhash64("doc_id"), F.lit(SALT_CELLS))
    )
    hot_probe = hot.withColumn(
        "__cell",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"), F.lit(SALT_CELLS - 1).cast("bigint")
            )
        ),
    )
    hot_pairs = (
        hot_cells.alias("a")
        .join(
            hot_probe.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.__cell") == F.col("b.__cell"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    return _pairs(cold).unionAll(hot_pairs).distinct()


@query(
    "minhash_signatures",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
SELECT doc_id,
       {_minhash_sql(0)} AS mh_0,
       {_minhash_sql(1)} AS mh_1,
       {_minhash_sql(2)} AS mh_2,
       {_minhash_sql(3)} AS mh_3
FROM t
WHERE len(toks) >= 3
""",
    bench=True,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same md5-per-(seed,shingle) values as the oracle's _minhash_sql,
    # computed as explode + grouped MIN with map-side partial
    # aggregation instead of a per-row array fold — measured 2× at
    # sf0.1, values bit-identical
    df = _with_tokens(spark, sf_dir).filter(F.size("toks") >= 3)
    ex = df.select("doc_id", F.explode(shingles(F.col("toks"), 3)).alias("s"))
    return ex.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"mh_{i}")
            for i in range(_N_HASHES)
        ]
    )


# --------------------------------------------------------------------------
# LSH near-dup candidate pairs: banded MinHash signature keys; docs
# sharing a band become candidates via an equi-join (no n²).
# --------------------------------------------------------------------------


@query(
    "neardup_pairs_lsh",
    oracle=f"""
WITH {lsh_pairs_ctes()}
SELECT doc_a, doc_b FROM __lsh_pairs
""",
)
def neardup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(spark, sf_dir)


# --------------------------------------------------------------------------
# Cross-source near-duplicates: LSH pairs whose two docs come from
# DIFFERENT sources — the contamination/leak check a training-data
# pipeline runs between crawl snapshots or datasets.
# No broadcast hints: at 100 TB the documents side is not broadcastable;
# the doc_id equi-joins shuffle-partition cleanly and AQE may still pick
# a broadcast at small SFs on its own.
# --------------------------------------------------------------------------


@query(
    "neardup_cross_source",
    oracle=f"""
WITH {lsh_pairs_ctes()}
SELECT da.source AS source_a, db.source AS source_b, COUNT(*) AS n_pairs
FROM __lsh_pairs pairs
JOIN documents da ON da.doc_id = pairs.doc_a
JOIN documents db ON db.doc_id = pairs.doc_b
WHERE da.source <> db.source
GROUP BY 1, 2
""",
)
def neardup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = neardup_pairs_lsh(spark, sf_dir)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# n-gram (3-token shingle) Jaccard over LSH candidates — the
# candidates-then-verify pattern: MinHash-LSH proposes pairs (linear
# shuffle), exact shingle-set Jaccard verifies them.  Shingle Jaccard is
# precisely the quantity MinHash estimates, so the banding s-curve
# 1-(1-j^4)^4 governs recall; on the driver corpus the true pairs sit at
# j ≥ 0.8 and the candidate set equals the exact ≥0.5 pair set
# (tests/test_text_dedup.py pins that equivalence vs the brute-force
# baseline).  Replaces the O(n²)-within-block all-pairs plan that would
# explode on any 100 TB (lang, source) cell.
# --------------------------------------------------------------------------

_JACCARD_MIN = 0.5

_JAC_SQL = (
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)"
    " / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))"
)


def doc_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, s) — distinct 3-token shingle set per document of any
    (doc_id, text) frame.  THE shingle-set definition: the registered
    dedup queries, the incremental-ingest stages and the streaming
    index builder all derive from this one function, so a change to
    shingle width or distinctness cannot silently diverge between the
    batch corpus and the maintained index."""
    t = (
        docs.select("doc_id", "toks")
        if has_ws_tokens(docs)
        else docs.select("doc_id", ws_tokens("text"))
    )
    return t.filter(F.size("toks") >= 3).select(
        "doc_id", F.array_distinct(shingles(F.col("toks"), 3)).alias("s")
    )


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`doc_shingle_sets` over the sf_dir corpus (a lazy plan).

    The faces that read the sets more than once cut it with
    ``truncate(..., eager=False)``: a LAZY cut whose first consuming
    job fills it (in every such face that first job is sequential — the
    band-width collect, a band cut, or a single-reference plan), so no
    dedicated materialization barrier runs (r13; interleaved A/B inside
    neardup_dedup_summary: med 2.78 → 2.61 s, min flat).

    Deliberately NO repartition before the tokenize → shingle chain:
    measured at bench SF, widening a small single-split scan to 32
    partitions costs more in token-array shuffle than the ~1 s of
    serial expression work it parallelizes (2.5 s vs 1.4 s warm for
    doc_shared_shingle_stats); at real scale the file layout provides
    the splits and the shuffle would be pure overhead.
    """
    return doc_shingle_sets(_with_tokens(spark, sf_dir))


def _pair_jaccard(
    pairs: DataFrame, sets: DataFrame, threshold: float, materialize: bool = True
) -> DataFrame:
    """Exact shingle-set Jaccard ≥ threshold over (doc_a, doc_b) pairs.

    ``materialize=False`` when the caller already checkpointed ``sets``.
    """
    # both join sides read the same shingle-set table; materialize it
    # once instead of re-tokenizing/re-shingling the corpus per side
    if materialize:
        sets = truncate(sets)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect(F.col("s_a"), F.col("s_b")))
    union = F.size("s_a") + F.size("s_b") - inter
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH {lsh_pairs_ctes()},
__sets AS (SELECT doc_id, list_distinct(sh) AS s FROM __sh)
SELECT p.doc_a, p.doc_b, {_JAC_SQL} AS jaccard
FROM __lsh_pairs p
JOIN __sets a ON a.doc_id = p.doc_a
JOIN __sets b ON b.doc_id = p.doc_b
WHERE {_JAC_SQL} >= {_JACCARD_MIN}
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE tokenize+shingle pass feeds both the MinHash banding and the
    # exact verify join (measured ~2.5s of the sf0.1 dedup wall).
    # Deliberately NO b-bit prefilter between banding and verify: the
    # remnants reuse the banding's own 24 hashes, and a band collision
    # guarantees 4 agreements, so the prefilter re-reads correlated
    # evidence and cannot discriminate (measured 0-1% candidate
    # reduction at any safe threshold — see SCALING.md "b-bit verify
    # prefilter").
    sets = truncate(_shingle_sets(spark, sf_dir), eager=False)
    cand = lsh_candidate_pairs(spark, sf_dir, sets=sets)
    return _pair_jaccard(cand, sets, _JACCARD_MIN, materialize=False)


def ngram_jaccard_pairs_exact(
    spark: SparkSession, sf_dir: str, threshold: float = _JACCARD_MIN
) -> DataFrame:
    """Brute-force shingle-Jaccard baseline (all pairs, no LSH blocking).

    Test-only oracle for recall measurement — O(n²), never registered.
    """
    sets = _shingle_sets(spark, sf_dir)
    all_pairs = (
        sets.select(F.col("doc_id").alias("doc_a"))
        .join(
            sets.select(F.col("doc_id").alias("doc_b")),
            F.col("doc_a") < F.col("doc_b"),
        )
    )
    return _pair_jaccard(all_pairs, sets, threshold)


# --------------------------------------------------------------------------
# Incremental dedup: new-batch documents vs an indexed corpus.
#
# A 100 TB pipeline never re-deduplicates the whole corpus when a new
# crawl lands: it keeps the banded-MinHash signature table
# (:func:`lsh_band_rows`) as a PERSISTED index (partitioned by ``band``)
# and equi-joins only the new batch's bands against it.  Cost per
# ingest is O(|batch|) signature work + one shuffle bounded by band-key
# collisions — independent of corpus size on the probe side when the
# index is bucketed by band (no index-side shuffle at all).
#
# Here the "new batch" is the deterministic 20% slice
# ``doc_id % _INCR_MOD == 0`` of the driver corpus and the index is the
# remaining 80%, so the query is a pure function of sf_dir and stays
# oracle-checkable; ``write/probe`` of a real persisted index is
# exercised in tests via the same band-row builder.
# --------------------------------------------------------------------------

_INCR_MOD = 5


@query(
    "neardup_incremental_lsh",
    oracle=f"""
WITH {lsh_pairs_ctes()},
__sets AS (SELECT doc_id, list_distinct(sh) AS s FROM __sh),
__cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS index_doc
  FROM __bands n JOIN __bands i ON n.band = i.band
  WHERE n.doc_id % {_INCR_MOD} = 0 AND i.doc_id % {_INCR_MOD} <> 0
)
SELECT c.new_doc, c.index_doc, {_JAC_SQL} AS jaccard
FROM __cand c
JOIN __sets a ON a.doc_id = c.new_doc
JOIN __sets b ON b.doc_id = c.index_doc
WHERE {_JAC_SQL} >= {_JACCARD_MIN}
""",
)
def neardup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch docs that near-duplicate an already-indexed doc.

    Returns (new_doc, index_doc, jaccard) for every batch document
    whose exact shingle Jaccard with an index document is ≥ 0.5,
    candidates generated by the band equi-join (never n×m).
    """
    sets = truncate(_shingle_sets(spark, sf_dir), eager=False)
    bands = truncate(lsh_band_rows(sets, F.col("s")), eager=True)
    is_new = F.col("doc_id") % _INCR_MOD == 0
    cand = (
        bands.filter(is_new)
        .alias("n")
        .join(bands.filter(~is_new).alias("i"), "band")
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("i.doc_id").alias("index_doc"),
        )
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("new_doc"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("doc_id").alias("index_doc"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    return (
        cand.join(sa, "new_doc")
        .join(sb, "index_doc")
        .select("new_doc", "index_doc", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_MIN)
    )


# --------------------------------------------------------------------------
# Corpus-duplication profile: per-document fraction of distinct shingles
# that occur in at least one OTHER document (the corpus-level analogue
# of doc_repetition_metrics' within-doc dup_bigram_frac — the signal
# used to decide how aggressively a crawl snapshot needs deduplication).
# Shape: explode distinct shingles → global shingle document-frequency
# (one groupBy with map-side partial agg) → join back → per-doc ratio.
# Both shuffles key on the shingle/doc hash — uniform, skew-free, linear
# in corpus size; no pairwise stage.
# --------------------------------------------------------------------------


@query(
    "doc_shared_shingle_stats",
    bench=True,
    oracle=f"""
WITH __t0 AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
__sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM __t0 WHERE len(toks) >= 3),
__sets AS (SELECT doc_id, list_distinct(sh) AS s FROM __sh),
__ex AS (SELECT doc_id, unnest(s) AS g FROM __sets),
__freq AS (SELECT g, COUNT(*) AS nd FROM __ex GROUP BY g)
SELECT e.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS shared_frac
FROM __ex e JOIN __freq f ON f.g = e.g
GROUP BY e.doc_id
""",
)
def doc_shared_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpoint the COMPACT array frame and re-derive the explode per
    # consumer: materializing the Generate output itself measured 22 s
    # vs 1.1 s for the array frame + 0.2 s per re-explode at sf0.1 —
    # checkpointing exploded rows pays row-at-a-time storage costs on
    # n_shingles × n_docs rows for no reuse benefit
    # corpus frequency attached by ONE window count over the exploded
    # stream's own key — the former groupBy(g) + join-back exploded the
    # checkpointed set frame twice and shuffled the stream by g twice
    # (once into the count agg, once into the join); the window keeps
    # the same shuffle key with one explode and one exchange (r12,
    # guide §2.3/§2.4; measured at sf0.1: 1.03 → 0.81 s min,
    # 1.13 → 0.87 s median, noop sink min-of-5)
    sets = truncate(_shingle_sets(spark, sf_dir), eager=False)
    ex = sets.select("doc_id", F.explode("s").alias("g"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("g"))
    shared = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("long")
    n = F.count(F.lit(1))
    return (
        ex.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            n.alias("n_shingles"),
            shared.alias("n_shared"),
            (shared.cast("double") / n).alias("shared_frac"),
        )
    )


# --------------------------------------------------------------------------
# Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin;
# operators/setjoin.py).  The LOSSLESS counterpart of the LSH path
# above: same shingle-set Jaccard ≥ 0.5 semantics, but candidates come
# from rarest-prefix token sharing instead of MinHash banding, so
# recall is exactly 1.0 by construction (no s-curve tail) at the cost
# of a join keyed on (rare) shingles rather than fixed-width bands.
# Rule of thumb at 100 TB: prefix filtering when the similarity
# threshold is high / misses are unacceptable (dedup compliance), LSH
# when the corpus is so hot-keyed that even rare-token candidates blow
# up.  The oracle is the O(n²) brute force — at driver SF that's the
# point: the engine's prefix-filtered plan must reproduce it exactly.
# --------------------------------------------------------------------------


@query(
    "neardup_pairs_prefix_filter",
    oracle=f"""
WITH __t0 AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
__sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM __t0 WHERE len(toks) >= 3),
__sets AS (SELECT doc_id, list_distinct(sh) AS s FROM __sh)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_JAC_SQL} AS jaccard
FROM __sets a JOIN __sets b ON a.doc_id < b.doc_id
WHERE {_JAC_SQL} >= {_JACCARD_MIN}
""",
)
def neardup_pairs_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatamlteamrepo_spark.operators.setjoin import prefix_jaccard_join

    sets = _shingle_sets(spark, sf_dir)
    out = prefix_jaccard_join(sets, _JACCARD_MIN, id_col="doc_id", set_col="s")
    return out.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


# --------------------------------------------------------------------------
# b-bit MinHash (Li & König 2010): the compressed dedup index.  A 100 TB
# signature table stores b·k bits per doc instead of k 8-byte hashes —
# 24 hashes × 2 bits = 6 bytes/doc vs 192 — and Jaccard is estimated
# from bit agreement: P[bit match] = J + (1−J)/2^b, so
# Ĵ = (2^b·A − 1)/(2^b − 1) for agreement fraction A.  With k = 24 the
# estimator is a coarse PRE-FILTER (σ_Ĵ ≈ 0.14 at b=2 — bound pinned in
# tests): it ranks candidate pairs so the exact-verify stage reads
# shingle sets only for pairs whose estimate clears a low bar, which is
# the standard two-tier index (b-bit filter → exact verify) at scale.
# --------------------------------------------------------------------------

@query(
    "bbit_minhash_jaccard_pairs",
    oracle=f"""
WITH {lsh_pairs_ctes()}
SELECT doc_a, doc_b, n_agree,
       round(greatest(0.0,
             ({_BBIT_MOD}.0 * n_agree - {LSH_N_HASHES})
               / ({(_BBIT_MOD - 1) * LSH_N_HASHES}.0)), 6) AS est_jaccard
FROM (
  SELECT p.doc_a, p.doc_b,
         {_n_agree_sql()} AS n_agree
  FROM __lsh_pairs p
  JOIN __sig a ON a.doc_id = p.doc_a
  JOIN __sig b ON b.doc_id = p.doc_b
)
""",
)
def bbit_minhash_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LSH-candidate Jaccard ESTIMATE from 2-bit minhash remnants —
    the compressed-signature tier (module comment above).  One
    signature aggregation feeds both the banding (candidates) and the
    2-bit agreement join; only (doc_id, 24 longs) rows shuffle."""
    sig = truncate(
        uh_signature_frame(_shingle_sets(spark, sf_dir), F.col("s")), eager=True
    )
    from bigdatamlteamrepo_spark.functions.text import band_keys

    mh = F.array(*[F.col(f"m{i}") for i in range(LSH_N_HASHES)])
    bands = sig.select(
        "doc_id", F.explode(band_keys(mh, LSH_N_HASHES, LSH_N_BANDS)).alias("band")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[(F.col(f"m{i}") % _BBIT_MOD).alias(f"ba{i}") for i in range(LSH_N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[(F.col(f"m{i}") % _BBIT_MOD).alias(f"bb{i}") for i in range(LSH_N_HASHES)],
    )
    n_agree = sum(
        (F.col(f"ba{i}") == F.col(f"bb{i}")).cast("int")
        for i in range(LSH_N_HASHES)
    ).cast("bigint")
    est = F.round(
        F.greatest(
            F.lit(0.0),
            (F.lit(float(_BBIT_MOD)) * F.col("n_agree") - LSH_N_HASHES)
            / F.lit(float((_BBIT_MOD - 1) * LSH_N_HASHES)),
        ),
        6,
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_agree.alias("n_agree"))
        .select("doc_a", "doc_b", "n_agree", est.alias("est_jaccard"))
    )


def _ind_sig_cte(
    n_hashes: int = BBIT_IND_HASHES, seed: int = BBIT_IND_SEED
) -> str:
    """``__isig(doc_id, n_0..n_{k-1})`` — the independent-family minhash
    signature CTE (embeds the seed-7331 constants as literals, same
    discipline as :func:`lsh_pairs_ctes`).  Depends on ``__w``."""
    from bigdatamlteamrepo_spark.functions.text import UH_MOD, uh_constants

    consts = uh_constants(n_hashes, seed=seed)
    sigs = ",\n         ".join(
        f"list_min(list_transform(ws, w -> ({a} * w.w1 + {b} * w.w2 + {c})"
        f" % {UH_MOD})) AS n_{i}"
        for i, (a, b, c) in enumerate(consts)
    )
    return f"__isig AS (SELECT doc_id, {sigs} FROM __w)"


@query(
    "bbit_independent_agreement",
    oracle=f"""
WITH {lsh_pairs_ctes()},
{_ind_sig_cte()}
SELECT p.doc_a, p.doc_b,
       CAST(list_sum(["""
    + ", ".join(
        f"CASE WHEN a.n_{i} % {_BBIT_MOD} = b.n_{i} % {_BBIT_MOD}"
        f" THEN 1 ELSE 0 END"
        for i in range(BBIT_IND_HASHES)
    )
    + """]) AS BIGINT) AS n_agree
FROM __lsh_pairs p
JOIN __isig a ON a.doc_id = p.doc_a
JOIN __isig b ON b.doc_id = p.doc_b
""",
)
def bbit_independent_agreement_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LSH-candidate remnant agreement from the INDEPENDENT 128-hash
    b-bit sketch (VERDICT_r7 #8; SCALING.md "r08 follow-up") — the
    persisted-index prefilter's scoring face.

    The Spark side exercises the real packed arithmetic (4 longs/doc,
    XOR-OR-popcount); the oracle recomputes all 128 remnants
    symbolically and counts equalities — a hash match pins the hash
    family, the bit-plane packing, and the popcount identity
    ``n_agree = 128 - popcount((p^p')|(q^q'))`` in one check."""
    sets = truncate(_shingle_sets(spark, sf_dir), eager=False)
    cand = lsh_candidate_pairs(spark, sf_dir, sets=sets)
    sk = bbit_sketch_frame(sets, F.col("s"))
    return bbit_independent_agreement(cand, sk)


# --------------------------------------------------------------------------
# Normalization-robust exact dedup: raw md5 misses duplicates that
# differ only by case, whitespace runs, or punctuation — the trivial
# reformattings crawls are full of (CCNet/RefinedWeb normalize before
# hashing for exactly this reason).  The canonical form lowercases,
# maps every non-alphanumeric run to a single space, and trims; the
# summary reports how many extra merges canonicalization finds over
# raw hashing, per source.  Driver word-salad is already near-canonical
# so the delta is ~0 here; the merge behavior on real variants is
# pinned by fixture tests (tests/test_canonical_dedup.py) — the
# doc_pii_scan precedent.
# --------------------------------------------------------------------------


def canonical_text(col) -> F.Column:
    """Lowercase, non-alphanumeric runs → single space, trimmed."""
    c = F.regexp_replace(F.lower(col), "[^a-z0-9]+", " ")
    return F.trim(c)


_CANON_SQL = (
    "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
)


@query(
    "dedup_canonical_summary",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw_clusters,
       CAST(COUNT(DISTINCT md5({_CANON_SQL})) AS BIGINT) AS n_canon_clusters,
       CAST(COUNT(DISTINCT md5(text))
            - COUNT(DISTINCT md5({_CANON_SQL})) AS BIGINT) AS n_extra_merged
FROM documents GROUP BY source
""",
)
def dedup_canonical_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-dedup cluster counts under raw vs canonical
    hashing, and the extra merges canonicalization finds
    (``n_extra_merged`` = raw clusters − canonical clusters: docs that
    are duplicates after normalization but not before).

    Plan: one scan, row-local canonicalization (regex + md5 inside
    codegen), one grouped distinct-hash agg — hash-for-hash the
    standard exact-dedup shuffle, shuffled rows bounded by docs."""
    docs = load_table(spark, sf_dir, "documents")
    raw_h = F.md5("text")
    canon_h = F.md5(canonical_text(F.col("text")))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct(raw_h).cast("bigint").alias("n_raw_clusters"),
        F.countDistinct(canon_h).cast("bigint").alias("n_canon_clusters"),
        (F.countDistinct(raw_h) - F.countDistinct(canon_h))
        .cast("bigint")
        .alias("n_extra_merged"),
    )

"""Statistical text-modeling tier: n-gram LM perplexity filtering,
DSIR-style importance weighting, BPE merge-pair counting, and exact
stratified sampling.

The data-*selection* layer of a pretraining pipeline — after dedup and
rule filters, corpora are scored against statistical models and
subsampled:

* **Bigram-LM perplexity** (CCNet, Wenzek et al. 2020): train an add-k
  smoothed bigram model ON the corpus, score every document by mean
  token log-probability, and bucket each language's documents into
  perplexity terciles (CCNet's head/middle/tail split that downstream
  pipelines sample from).
* **DSIR importance weights** (Xie et al. 2023): hashed-bigram unigram
  models for a target distribution vs the raw corpus; a document's
  weight is its summed per-feature log-likelihood ratio.  The model is
  a fixed-width bucket table (broadcast), so scoring is O(doc tokens)
  regardless of corpus size.
* **BPE pair counts**: the inner statistic of byte-pair-encoding
  tokenizer training — corpus-frequency-weighted counts of adjacent
  symbol pairs (characters + an end-of-word marker) over the *distinct
  word* table, which Zipf collapses to a tiny fraction of the corpus.
* **Stratified exact-n sample**: deterministic K-per-stratum selection
  by portable-hash order, with a pre-filter cutoff so the per-stratum
  sort never sees more than ~4K candidate rows no matter how large the
  corpus is.

Floating-point discipline (the house rule, cf. integer PageRank in
``operators/pagerank.py`` and the decimal TPC-H sums in
``queries/relational.py``): every per-row log-probability is computed
by an identical row-local double expression in both engines, then
**quantized to fixed-point micro units (×1e6, BIGINT)** before any
aggregation — integer sums are associative, so the reduction order
(partial aggs, shuffle order, DuckDB vs Spark) can never perturb the
result.  Doubles only reappear in final row-local arithmetic.

Known residual hazard (documented, not closed): the quantization
``round(ln(...)·1e6)`` happens AFTER a transcendental, so a cross-
engine libm ULP difference (JVM ``Math.log`` vs DuckDB ``ln``) could in
principle flip the round() at an exact .5-micro boundary.  The
discipline above removes *reduction-order* nondeterminism entirely;
*content-dependent* ties on log-derived values remain possible with
measure-zero probability (unlike rationals of integers, which DO hit
exact ties in practice — see ``dsir_importance_weights``'s integer
half-away rounding for that case).  Observed parity: green at
sf0.001/0.01/0.1 across all rounds; if a tie ever fires, the fix is a
±1-micro tolerance on lp/llr columns in the parity harness, not a
plan change.

Reference parity: extends the reference's token-statistics work
(model.py:50-98 word extraction / stopword filtering / frequency
analysis) from per-document features to corpus-level statistical
models, the same capability at pretraining-corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.functions.text import (
    ensure_tokens,
    shingles,
    tokenize,
    tokenize_words,
)
from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.queries.registry import query
from bigdatamlteamrepo_spark.queries.shards import hash32
from bigdatamlteamrepo_spark.queries.text_dedup import _TOKENS_SQL, _with_tokens

#: add-k smoothing mass for the bigram LM (k per continuation type)
LM_K = 0.5
#: fixed-point scale for log-probabilities: 1 micro-nat resolution
MICRO = 1_000_000
#: DSIR hashed-feature width (buckets); the whole model is 2×B counters
DSIR_BUCKETS = 256
#: DSIR Laplace smoothing per bucket
DSIR_SMOOTH = 1.0
#: stratified sample size per stratum
STRAT_K = 25
#: oversampling safety factor for the stratified pre-filter cutoff
STRAT_SAFETY = 4

_WORDS_SQL = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"


def _bigrams_sql(toks: str) -> str:
    """DuckDB: space-joined adjacent token pairs of a token list."""
    return (
        f"list_transform(range(1, len({toks})), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1])"
    )


# --------------------------------------------------------------------------
# Bigram-LM perplexity (CCNet head/middle/tail).
# --------------------------------------------------------------------------

def _lm_oracle_sql(rel: str = "documents") -> str:
    """The bigram-LM perplexity oracle over any relation ``rel`` with
    (doc_id, lang, text) — parameterized so capstones can score a
    survivor CTE with the LM trained on the survivors themselves
    (embed as ``(SELECT ... FROM ({_lm_oracle_sql('__cte')}))``; the
    nested WITH scopes its names away from the caller's chain)."""
    return f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM {rel}
),
bg AS (
  SELECT doc_id, lang, unnest({_bigrams_sql('toks')}) AS bigram
  FROM t WHERE len(toks) >= 2
),
lm AS (
  SELECT bigram, COUNT(*) AS c_xy FROM bg GROUP BY bigram
),
uni AS (
  SELECT string_split(bigram, ' ')[1] AS x, CAST(SUM(c_xy) AS BIGINT) AS c_x
  FROM lm GROUP BY 1
),
v AS (
  SELECT COUNT(*) AS vsz FROM (SELECT DISTINCT unnest(toks) AS tok FROM t)
),
scored AS (
  SELECT bg.doc_id, bg.lang,
         CAST(round(ln((lm.c_xy + {LM_K}) / (uni.c_x + {LM_K} * v.vsz))
                    * {MICRO}) AS BIGINT) AS lp_micro
  FROM bg
  JOIN lm USING (bigram)
  JOIN uni ON string_split(bg.bigram, ' ')[1] = uni.x
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, lang, COUNT(*) AS n_bigrams,
         CAST(SUM(lp_micro) AS BIGINT) AS lp_sum_micro
  FROM scored GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_bigrams, lp_sum_micro,
       round(exp(-(CAST(lp_sum_micro AS DOUBLE) / {MICRO}) / n_bigrams), 6)
         AS perplexity,
       ntile(3) OVER (
         PARTITION BY lang
         ORDER BY CAST(lp_sum_micro AS DOUBLE) / n_bigrams DESC, doc_id
       ) AS ppl_tercile
FROM agg
"""


_LM_ORACLE = _lm_oracle_sql()


@query("doc_lm_perplexity", bench=True, oracle=_LM_ORACLE)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter: an add-k bigram LM trained on the
    corpus itself scores every document; per-language perplexity
    terciles (1 = head / fluent, 3 = tail) are what a sampler consumes.

    Scale shape: the exploded bigram stream is evaluated ONCE and gets
    its model counts (c_xy, c_x) from two window counts over its own
    keys — shuffle keys ``bigram`` then ``x``, the same hot-key
    characteristics as the former count-table join (all instances of a
    bigram land on one task either way) with no second evaluation of
    the stream; then one per-doc integer sum and a per-language ntile
    window over the *per-document* frame (one row per doc, thousands
    of times smaller than the token data).  The per-bigram log-prob is
    quantized to micro-nats (BIGINT) before the per-doc sum, so
    partial-agg order can never change a hash bit.

    The conditional ``p(y|x) = (c_xy + k) / (c_x + k·V)`` uses the
    corpus vocabulary size V — one broadcast scalar."""
    return lm_perplexity_frame(_with_tokens(spark, sf_dir))


def lm_perplexity_frame(docs: DataFrame) -> DataFrame:
    """Core of :func:`doc_lm_perplexity` over any (doc_id, lang, text)
    frame: train the add-k bigram LM on ``docs`` itself and score every
    document — separated so pipeline capstones can score POST-DEDUP
    survivors with a survivor-trained LM (the CCNet caveat: training on
    raw duplicated text biases the head toward boilerplate) without a
    temp-table round-trip."""
    t = ensure_tokens(docs, "doc_id", "lang")
    bg = (
        t.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(shingles(F.col("toks"), 2)).alias("bigram"),
        )
    )
    vsz = t.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("vsz")
    )
    # c_xy / c_x attached to the bigram stream by two window counts
    # instead of a count table + unigram fold + join-back: the model
    # counts are occurrence counts of the stream's OWN keys (c_xy =
    # rows per bigram, c_x = rows per first token), so window counts
    # over the stream equal the table lookups row for row — and the
    # stream (tokenize → shingle → explode, the dominant compute) is
    # evaluated ONCE instead of once per model branch (the former plan
    # re-derived the bigram aggregation for uni and lmx — 8 corpus
    # scans, plans/r12/doc_lm_perplexity_before.txt; r12 measured at
    # sf0.1: 2.09 → 1.64 s min, 2.22 → 1.80 s median, guide §2.3/§2.4)
    lp = F.log(
        (F.col("c_xy") + F.lit(LM_K))
        / (F.col("c_x") + F.lit(LM_K) * F.col("vsz"))
    )
    scored = (
        bg.withColumn(
            "c_xy", F.count(F.lit(1)).over(Window.partitionBy("bigram"))
        )
        .withColumn("x", F.split("bigram", " ")[0])
        .withColumn("c_x", F.count(F.lit(1)).over(Window.partitionBy("x")))
        .crossJoin(F.broadcast(vsz))
        .select(
            "doc_id",
            "lang",
            F.round(lp * MICRO).cast("bigint").alias("lp_micro"),
        )
    )
    agg = scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp_micro").cast("bigint").alias("lp_sum_micro"),
    )
    mean_lp = F.col("lp_sum_micro").cast("double") / MICRO / F.col("n_bigrams")
    w = Window.partitionBy("lang").orderBy(
        (F.col("lp_sum_micro").cast("double") / F.col("n_bigrams")).desc(),
        "doc_id",
    )
    return agg.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "lp_sum_micro",
        F.round(F.exp(-mean_lp), 6).alias("perplexity"),
        F.ntile(3).over(w).cast("bigint").alias("ppl_tercile"),
    )


# --------------------------------------------------------------------------
# DSIR hashed-ngram importance weights.
# --------------------------------------------------------------------------

_DSIR_HASH_SQL = (
    "(('0x' || substr(md5(bigram), 1, 8))::BIGINT % " + str(DSIR_BUCKETS) + ")"
)

_DSIR_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
),
bg AS (
  SELECT doc_id, lang, unnest({_bigrams_sql('toks')}) AS bigram
  FROM t WHERE len(toks) >= 2
),
f AS (
  SELECT doc_id, lang, {_DSIR_HASH_SQL} AS bucket FROM bg
),
counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
         COUNT(*) AS c_r
  FROM f GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(c_t) AS BIGINT) AS n_t, CAST(SUM(c_r) AS BIGINT) AS n_r
  FROM counts
),
model AS (
  SELECT bucket,
         CAST(round((ln((c_t + {DSIR_SMOOTH}) / (n_t + {DSIR_SMOOTH} * {DSIR_BUCKETS}))
                   - ln((c_r + {DSIR_SMOOTH}) / (n_r + {DSIR_SMOOTH} * {DSIR_BUCKETS})))
                    * {MICRO}) AS BIGINT) AS llr_micro
  FROM counts CROSS JOIN tot
),
agg AS (
  SELECT f.doc_id, f.lang, COUNT(*) AS n_feats,
         CAST(SUM(m.llr_micro) AS BIGINT) AS llr_sum_micro
  FROM f JOIN model m USING (bucket)
  GROUP BY f.doc_id, f.lang
)
SELECT doc_id, lang, n_feats, llr_sum_micro,
       CAST(CASE WHEN llr_sum_micro >= 0
                 THEN (2 * llr_sum_micro + n_feats) // (2 * n_feats)
                 ELSE -((2 * (-llr_sum_micro) + n_feats) // (2 * n_feats))
            END AS BIGINT) AS avg_llr_micro
FROM agg
"""


@query("dsir_importance_weights", oracle=_DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023):
    hashed-bigram unigram models for the target distribution (proxy
    here: ``lang = 'en'`` documents) and the raw corpus; a document's
    importance weight is the sum over its features of
    ``log p_target(b) − log p_raw(b)``.

    The model is ONE pass (bucket-count aggregation over a fixed
    {DSIR_BUCKETS}-bucket space — the map-side partial agg reduces each
    task to ≤{DSIR_BUCKETS} rows) and the scorer is a broadcast join of
    that {DSIR_BUCKETS}-row table onto exploded features — no shuffle
    of the corpus at all beyond the per-doc integer sum.  Per-bucket
    log-ratios are micro-nat BIGINTs, so the doc sum is order-free."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", tokenize("text").alias("toks"))
    f = (
        t.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(shingles(F.col("toks"), 2)).alias("bigram"),
        )
        .select(
            "doc_id",
            "lang",
            (hash32(F.col("bigram")) % DSIR_BUCKETS).alias("bucket"),
        )
    )
    counts = f.groupBy("bucket").agg(
        F.sum((F.col("lang") == "en").cast("int")).cast("bigint").alias("c_t"),
        F.count(F.lit(1)).alias("c_r"),
    )
    tot = counts.agg(
        F.sum("c_t").cast("bigint").alias("n_t"),
        F.sum("c_r").cast("bigint").alias("n_r"),
    )
    llr = F.log(
        (F.col("c_t") + DSIR_SMOOTH) / (F.col("n_t") + DSIR_SMOOTH * DSIR_BUCKETS)
    ) - F.log(
        (F.col("c_r") + DSIR_SMOOTH) / (F.col("n_r") + DSIR_SMOOTH * DSIR_BUCKETS)
    )
    model = counts.crossJoin(F.broadcast(tot)).select(
        "bucket", F.round(llr * MICRO).cast("bigint").alias("llr_micro")
    )
    # per-feature mean in micro-nats via EXACT integer arithmetic
    # (half-away-from-zero): round(sum/n, 6-dec) of a rational lands on
    # exact .5 ties often enough that double `round()` diverges between
    # engines — integer division cannot
    avg_micro = F.expr(
        "CAST(CASE WHEN llr_sum_micro >= 0 "
        "THEN (2 * llr_sum_micro + n_feats) DIV (2 * n_feats) "
        "ELSE -((2 * (-llr_sum_micro) + n_feats) DIV (2 * n_feats)) "
        "END AS BIGINT)"
    )
    return (
        f.join(F.broadcast(model), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("llr_micro").cast("bigint").alias("llr_sum_micro"),
        )
        .select(
            "doc_id",
            "lang",
            "n_feats",
            "llr_sum_micro",
            avg_micro.alias("avg_llr_micro"),
        )
    )


# --------------------------------------------------------------------------
# BPE merge-pair counting (tokenizer training, round 1).
# --------------------------------------------------------------------------

_BPE_TOP = 50

_BPE_ORACLE = f"""
WITH w AS (
  SELECT word, COUNT(*) AS freq
  FROM (SELECT unnest({_WORDS_SQL}) AS word FROM documents)
  GROUP BY word
),
p AS (
  SELECT CASE WHEN i < len(word)
              THEN substr(word, i, 1) || ' ' || substr(word, i + 1, 1)
              ELSE substr(word, i, 1) || ' </w>'
         END AS pair,
         freq
  FROM w, unnest(range(1, len(word) + 1)) AS u(i)
),
c AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count FROM p GROUP BY pair
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS BIGINT)
         AS merge_rank,
       pair, pair_count
FROM c
ORDER BY merge_rank
LIMIT {_BPE_TOP}
"""


@query("bpe_pair_counts", oracle=_BPE_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner statistic of BPE tokenizer training: corpus-frequency-
    weighted counts of adjacent symbol pairs, symbols being characters
    plus an ``</w>`` end-of-word marker (Sennrich et al. 2016).  The
    top pair is the first merge a BPE learner would perform.

    Scale shape: the corpus collapses to the *distinct-word* frequency
    table first (Zipf: vocabulary grows ~√corpus, so the explode over
    character positions runs on a frame orders of magnitude smaller
    than the token stream), then one pair-count aggregation and a
    single top-{_BPE_TOP} sort of the tiny pair table.  Everything is
    integer counts — exactly reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(tokenize_words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pos = F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i")
    # substring is 1-based in both engines
    pair = F.when(
        F.col("i") < F.length("word"),
        F.concat(
            F.expr("substring(word, i, 1)"),
            F.lit(" "),
            F.expr("substring(word, i + 1, 1)"),
        ),
    ).otherwise(F.concat(F.expr("substring(word, i, 1)"), F.lit(" </w>")))
    c = (
        w.select("word", "freq", pos)
        .select(pair.alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
    )
    rw = Window.orderBy(F.col("pair_count").desc(), "pair")
    return (
        c.select(
            F.row_number().over(rw).cast("bigint").alias("merge_rank"),
            "pair",
            "pair_count",
        )
        .filter(F.col("merge_rank") <= _BPE_TOP)
        .orderBy("merge_rank")
    )


# --------------------------------------------------------------------------
# Stratified exact-K sample with a scale-safe pre-filter.
# --------------------------------------------------------------------------

_STRAT_HASH_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"

_STRAT_ORACLE = f"""
WITH h AS (
  SELECT doc_id, lang, {_STRAT_HASH_SQL} AS h32 FROM documents
),
n AS (SELECT lang, COUNT(*) AS n_docs FROM h GROUP BY lang),
cut AS (
  SELECT lang, n_docs,
         CASE WHEN n_docs <= {STRAT_SAFETY * STRAT_K} THEN 4294967296
              ELSE CAST(ceil(4294967296.0 * {STRAT_SAFETY * STRAT_K} / n_docs)
                        AS BIGINT)
         END AS h_cut
  FROM n
),
cand AS (
  SELECT h.doc_id, h.lang, h.h32
  FROM h JOIN cut USING (lang) WHERE h.h32 < cut.h_cut
)
SELECT doc_id, lang, pos FROM (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h32, doc_id)
              AS BIGINT) AS pos
  FROM cand
) WHERE pos <= {STRAT_K}
"""


@query("doc_stratified_sample", oracle=_STRAT_ORACLE)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-{STRAT_K}-per-stratum deterministic sample: documents are
    ordered within each language by a portable 32-bit hash of doc_id (a
    reproducible shuffle) and the first {STRAT_K} kept.

    The naive plan sorts every stratum in full — with low-cardinality
    strata that is a handful of tasks sorting the whole corpus.  The
    pre-filter makes it scale-safe: a per-stratum count (tiny agg)
    yields a hash cutoff admitting ~{STRAT_SAFETY}·K uniform-hash
    candidates per stratum, so the window sorts O(K) rows per stratum
    regardless of corpus size.  The cutoff is part of the definition
    (mirrored in the oracle), so parity is exact by construction, and
    strata smaller than {STRAT_SAFETY}·K keep everything (cutoff 2^32 —
    no row lost).

    Shortfall hazard (quantified): the pre-filter is probabilistic —
    for a stratum with n > {STRAT_SAFETY}·K docs, the number of hashes
    under the cutoff is Binomial(n, ~{STRAT_SAFETY}K/n) with mean
    {STRAT_SAFETY}·K = {STRAT_SAFETY * STRAT_K}; returning fewer than
    K = {STRAT_K} rows requires the count to fall below K, i.e. a
    (1 − 1/{STRAT_SAFETY}) = 75% drop below the mean.  By a Chernoff
    bound P < exp(−{STRAT_SAFETY}K·(3/4)²/2) ≈ exp(−28) ≈ 7e−13 per
    stratum.  Because the oracle mirrors the cutoff, a shortfall would
    NOT surface as a parity failure — it is pinned instead by
    tests/test_textmodel.py::
    test_stratified_sample_exact_k_and_prefilter_lossless, which
    asserts every stratum yields exactly min(K, n_docs) rows AND that
    they are precisely the K smallest hashes (no winner dropped)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    h = docs.withColumn("h32", hash32(F.col("doc_id")))
    n = h.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    full = F.lit(4294967296)
    cut = n.select(
        "lang",
        F.when(F.col("n_docs") <= STRAT_SAFETY * STRAT_K, full)
        .otherwise(
            F.ceil(F.lit(4294967296.0) * (STRAT_SAFETY * STRAT_K) / F.col("n_docs"))
            .cast("bigint")
        )
        .alias("h_cut"),
    )
    cand = h.join(F.broadcast(cut), "lang").filter(F.col("h32") < F.col("h_cut"))
    w = Window.partitionBy("lang").orderBy("h32", "doc_id")
    return (
        cand.select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .filter(F.col("pos") <= STRAT_K)
    )


# --------------------------------------------------------------------------
# Weighted K-sample without replacement (Efraimidis–Spirakis 2006).
# --------------------------------------------------------------------------

#: global sample size for the registered weighted-sample query
WSAMPLE_K = 100

_WS_HASH_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"


@query(
    "doc_weighted_sample",
    oracle=f"""
WITH k AS (
  SELECT doc_id, n_chars,
         CAST(round(ln((CAST({_WS_HASH_SQL} AS DOUBLE) + 1) / 4294967296.0)
                    * {MICRO}) AS BIGINT) AS lnu_micro
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, lnu_micro,
       CAST(lnu_micro AS DOUBLE) / CAST(n_chars AS DOUBLE) AS es_key
FROM k
ORDER BY es_key DESC, doc_id
LIMIT {WSAMPLE_K}
""",
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-K weighted sample WITHOUT replacement, weights = document
    length (n_chars): the Efraimidis–Spirakis one-pass algorithm —
    each row draws u ∈ (0,1] and ranks by key u^(1/w); the global
    top-K is a weighted sample without replacement.  Used to draw a
    length-proportional corpus subsample in one distributed pass (no
    per-source loops, no rejection sampling).

    Determinism discipline: u comes from the portable 32-bit hash of
    doc_id ((h+1)/2^32 ∈ (0,1], the reproducible-shuffle device of
    doc_stratified_sample), and the ranking key is computed in log
    form with ln(u) micro-quantized to a BIGINT first — the key is
    then an IEEE-exact division of two integers, so the global top-K
    cutoff is bit-identical across engines and partitionings (ties
    break on doc_id).

    Scale: ORDER BY … LIMIT K compiles to TakeOrdered — a per-partition
    top-K fold + a K-row merge, never a global sort."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (hash32(F.col("doc_id")).cast("double") + 1) / F.lit(4294967296.0)
    k = docs.select(
        "doc_id",
        "n_chars",
        F.round(F.log(u) * MICRO).cast("bigint").alias("lnu_micro"),
    )
    return (
        k.withColumn(
            "es_key",
            F.col("lnu_micro").cast("double") / F.col("n_chars").cast("double"),
        )
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(WSAMPLE_K)
    )


# --------------------------------------------------------------------------
# Corpus-selection capstone: Gopher rules × LM terciles — "what ships".
# --------------------------------------------------------------------------


def _gopher_doc_sql() -> str:
    """Per-document Gopher pass flag (DuckDB), mirroring
    ``queries.pipeline.gopher_rule_flags``."""
    from bigdatamlteamrepo_spark.queries.pipeline import (
        _GO_MAX_WORD_LEN,
        _GO_MAX_WORDS,
        _GO_MIN_ALPHA_FRAC,
        _GO_MIN_STOPWORDS,
        _GO_MIN_WORDS,
        _GO_MWL_RANGE,
        _GO_STOP_SQL,
    )

    return f"""
  SELECT doc_id, source, len(toks) AS n,
         CASE WHEN len(toks) >= {_GO_MIN_WORDS} AND len(toks) <= {_GO_MAX_WORDS}
               AND (CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                    / len(toks)) BETWEEN {_GO_MWL_RANGE[0]} AND {_GO_MWL_RANGE[1]}
               AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                        AS DOUBLE) / len(toks) >= {_GO_MIN_ALPHA_FRAC}
               AND len(list_filter(toks, x -> list_contains({_GO_STOP_SQL}, x)))
                     >= {_GO_MIN_STOPWORDS}
               AND list_max(list_transform(toks, x -> len(x))) <= {_GO_MAX_WORD_LEN}
              THEN 1 ELSE 0 END AS pass_gopher
  FROM (SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents)
  WHERE len(toks) > 0
"""


def _selection_oracle() -> str:
    return f"""
WITH g AS ({_gopher_doc_sql()}),
lmq AS (SELECT doc_id, ppl_tercile FROM ({_LM_ORACLE}))
SELECT g.source,
       COUNT(*) AS n_docs,
       CAST(SUM(g.pass_gopher) AS BIGINT) AS n_gopher_pass,
       CAST(SUM(CASE WHEN g.pass_gopher = 1
                      AND COALESCE(lmq.ppl_tercile, 3) <= 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN g.pass_gopher = 1
                      AND COALESCE(lmq.ppl_tercile, 3) <= 2
                     THEN g.n ELSE 0 END) AS BIGINT) AS tokens_kept
FROM g LEFT JOIN lmq ON g.doc_id = lmq.doc_id
GROUP BY g.source
"""


@query("training_corpus_selection", oracle=_selection_oracle())
def training_corpus_selection(
    spark: SparkSession, sf_dir: str, lm: DataFrame | None = None
) -> DataFrame:
    """The selection capstone: a document ships to training iff it
    passes every Gopher rule AND sits in its language's head or middle
    perplexity tercile (CCNet drops the tail).  Per-source report of
    candidates, rule survivors, shipped docs and shipped token mass —
    the end-of-pipeline accounting a corpus build emits.

    Plan: the Gopher flags are row-local expressions on one scan; the
    LM tercile frame is per-document (corpus-shrunk); their join keys
    on doc_id and the rollup on source.  Documents with <2 bigrams
    have no LM row and are conservatively dropped (COALESCE to the
    tail tercile) — mirrored exactly in the oracle.

    ``lm`` accepts a precomputed perplexity frame (doc_id, ppl_tercile
    + anything else): when this capstone composes with a pipeline that
    already ran ``doc_lm_perplexity`` — the common case, since the
    tercile frame is per-document and cheap to persist — pass it in and
    the second full corpus scan / tokenize / model build disappears.
    Standalone callers (the registry path) leave it None and pay the
    one rebuild."""
    from bigdatamlteamrepo_spark.queries.pipeline import (
        gopher_pass,
        gopher_rule_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_rule_flags(docs, "doc_id", "source").withColumn(
        "pass_gopher", gopher_pass()
    )
    if lm is None:
        lm = doc_lm_perplexity(spark, sf_dir)
    lm = lm.select("doc_id", "ppl_tercile")
    kept = (F.col("pass_gopher") == 1) & (
        F.coalesce(F.col("ppl_tercile"), F.lit(3)) <= 2
    )
    return (
        g.join(lm, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pass_gopher").cast("bigint").alias("n_gopher_pass"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
    )


# --------------------------------------------------------------------------
# End-to-end corpus-build capstone: the full pipelines.build_training_
# corpus decision chain (Gopher gate → exact dedup → near-dup dedup →
# survivor-trained LM selection) as ONE oracle-paired per-source
# accounting query — the driver row for the composed pipeline, not
# just its pieces.
# --------------------------------------------------------------------------


def _corpus_survivor_ctes() -> str:
    """The corpus-build survivor chain as a DuckDB CTE body (requires a
    ``WITH RECURSIVE`` prefix): Gopher gate → exact dedup → near-dup
    keep-rep → survivor-trained-LM tercile selection, ending at
    ``__csel (doc_id)``.  Shared by the corpus_build_summary oracle and
    every oracle composing "the documents the build ships" with a
    downstream stage (e.g. corpus_survivor_knn)."""
    from bigdatamlteamrepo_spark.queries.text_dedup import (
        _JAC_SQL,
        _JACCARD_MIN,
        lsh_pairs_ctes,
    )

    return f"""
__cbg AS ({_gopher_doc_sql()}),
__cs1 AS (SELECT doc_id FROM __cbg WHERE pass_gopher = 1),
__cs2 AS (
  SELECT MIN(d.doc_id) AS doc_id
  FROM documents d JOIN __cs1 USING (doc_id)
  GROUP BY d.lang, md5(d.text)
),
{lsh_pairs_ctes()},
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
__creps AS (
  SELECT MIN(r.doc_id) AS doc_id
  FROM __rep r JOIN __cs2 s USING (doc_id)
  GROUP BY r.rep
),
__cs3 AS (
  SELECT s.doc_id FROM __cs2 s LEFT JOIN __rep r USING (doc_id)
  WHERE r.doc_id IS NULL
  UNION ALL
  SELECT doc_id FROM __creps
),
__cs3d AS (
  SELECT d.doc_id, d.lang, d.text FROM documents d JOIN __cs3 USING (doc_id)
),
__clm AS (
  SELECT doc_id, ppl_tercile FROM ({_lm_oracle_sql("__cs3d")})
),
__csel AS (
  SELECT s.doc_id FROM __cs3 s LEFT JOIN __clm l USING (doc_id)
  WHERE COALESCE(l.ppl_tercile, 3) <= 2
)"""


def _corpus_build_oracle() -> str:
    return f"""
WITH RECURSIVE
{_corpus_survivor_ctes()}
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_input,
       CAST(SUM(CASE WHEN s1.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
       CAST(SUM(CASE WHEN s2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN s3.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
       CAST(SUM(CASE WHEN sel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN sel.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_shipped
FROM documents d
LEFT JOIN __cs1 s1 ON s1.doc_id = d.doc_id
LEFT JOIN __cs2 s2 ON s2.doc_id = d.doc_id
LEFT JOIN __cs3 s3 ON s3.doc_id = d.doc_id
LEFT JOIN __csel sel ON sel.doc_id = d.doc_id
GROUP BY d.source
"""


def corpus_survivor_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc_ids the end-to-end build ships (``__csel`` in the oracle
    CTEs): the product's own decision chain
    (pipelines.corpus_dedup_stages → lm_select) with no optional stage,
    projected to one bigint column of a lineage cut."""
    from bigdatamlteamrepo_spark.pipelines import corpus_dedup_stages, lm_select

    return lm_select(corpus_dedup_stages(spark, sf_dir)["s3"]).select("doc_id")


@query("corpus_build_summary", oracle=_corpus_build_oracle())
def corpus_build_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source accounting of the END-TO-END training-corpus build
    (pipelines.build_training_corpus without the shard write): input →
    Gopher survivors → exact-dedup keepers (min doc_id per (lang,
    md5(text))) → near-dup keepers (LSH→verify→connected components,
    representative chosen AMONG survivors) → LM-selected docs (bigram
    LM trained on the DEDUPED survivors, tercile ≤ 2) → shipped char
    mass.

    Plan: the stages are the product's own chain
    (pipelines.corpus_dedup_stages → lm_select), counted by the
    product's own accounting (pipelines.stage_report: one union of the
    stage frames and one per-source conditional rollup, no join).  At
    100 TB each arrow keeps the scale shape its registered per-stage
    query proves; the LM trains on survivors (the CCNet caveat:
    training on raw duplicated text biases the perplexity head toward
    boilerplate)."""
    from bigdatamlteamrepo_spark.pipelines import (
        corpus_dedup_stages,
        lm_select,
        stage_report,
    )

    stages = corpus_dedup_stages(spark, sf_dir)
    return truncate(
        stage_report(
            {
                "n_input": stages["docs"],
                "n_gopher": stages["s1"],
                "n_exact": stages["s2"],
                "n_neardup": stages["s3"],
                "n_selected": lm_select(stages["s3"]),
            }
        )
    )


def _incremental_ctes() -> str:
    """Oracle CTE chain of the incremental ingest (batch = doc_id %
    _INCR_MOD == 0 curated against the other docs), ending in
    ``__is1``/``__is2``/``__is3`` — the per-stage batch-survivor sets.
    Shared by the build summary and the decon-summary faces."""
    from bigdatamlteamrepo_spark.queries.text_dedup import (
        _INCR_MOD,
        _JAC_SQL,
        _JACCARD_MIN,
        lsh_pairs_ctes,
    )

    return f"""{lsh_pairs_ctes()},
__sets AS (SELECT doc_id, list_distinct(sh) AS s FROM __sh),
__ig AS ({_gopher_doc_sql()}),
__is1 AS (
  SELECT doc_id FROM __ig
  WHERE pass_gopher = 1 AND doc_id % {_INCR_MOD} = 0
),
__ikeys AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
__inew AS (
  SELECT k.doc_id, k.lang, k.h
  FROM __ikeys k JOIN __is1 USING (doc_id)
  WHERE NOT EXISTS (
    SELECT 1 FROM __ikeys x
    WHERE x.doc_id % {_INCR_MOD} <> 0 AND x.lang = k.lang AND x.h = k.h
  )
),
__is2 AS (
  SELECT MIN(doc_id) AS doc_id FROM __inew GROUP BY lang, h
),
__icand AS (
  SELECT DISTINCT n.doc_id AS doc_a, i.doc_id AS doc_b
  FROM __bands n JOIN __bands i ON n.band = i.band
  WHERE n.doc_id IN (SELECT doc_id FROM __is2)
    AND (i.doc_id % {_INCR_MOD} <> 0
         OR (i.doc_id IN (SELECT doc_id FROM __is2)
             AND i.doc_id < n.doc_id))
),
__idrop AS (
  SELECT DISTINCT c.doc_a AS doc_id
  FROM __icand c
  JOIN __sets a ON a.doc_id = c.doc_a
  JOIN __sets b ON b.doc_id = c.doc_b
  WHERE {_JAC_SQL} >= {_JACCARD_MIN}
),
__is3 AS (
  SELECT doc_id FROM __is2
  WHERE doc_id NOT IN (SELECT doc_id FROM __idrop)
)"""


def _incremental_build_oracle() -> str:
    from bigdatamlteamrepo_spark.queries.text_dedup import _INCR_MOD

    return f"""
WITH {_incremental_ctes()}
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(SUM(CASE WHEN s1.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gopher,
       CAST(SUM(CASE WHEN s2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_new,
       CAST(SUM(CASE WHEN s3.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_neardup_new,
       CAST(SUM(CASE WHEN s3.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END)
            AS BIGINT) AS chars_appended
FROM documents d
LEFT JOIN __is1 s1 ON d.doc_id = s1.doc_id
LEFT JOIN __is2 s2 ON d.doc_id = s2.doc_id
LEFT JOIN __is3 s3 ON d.doc_id = s3.doc_id
WHERE d.doc_id % {_INCR_MOD} = 0
GROUP BY d.source
"""


@query("corpus_incremental_build_summary", oracle=_incremental_build_oracle())
def corpus_incremental_build_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source accounting of an INCREMENTAL ingest: the new batch
    (the ``doc_id % 5 == 0`` slice, the neardup_incremental_lsh
    convention) curated against the already-ingested corpus (the other
    80%) without re-deduplicating it: batch → Gopher gate → exact
    dedup (drop (lang, md5) keys already in the index, keep min doc_id
    within the batch) → near-dup (drop batch docs whose shingle
    Jaccard ≥ 0.5 with ANY index doc, or with a SMALLER-id surviving
    batch doc) → appended char mass.

    The within-batch near-dup rule is the standard min-id pair rule,
    not full connected components: at ingest time each accepted doc
    joins the index, so "drop if a smaller-id near-dup exists" is the
    set-expressible form of greedy sequential acceptance (it can
    over-drop only on chains a > b > c where b was itself dropped —
    the conservative direction for a dedup gate).  The full-rebuild
    CC semantics live in :func:`corpus_build_summary`.

    Scale: this is THE 100 TB ingest shape — per-crawl cost is
    O(|batch|) signature/hash work plus band/key equi-joins against
    the persisted index tables (here rebuilt from sf_dir so the query
    stays a pure oracle-checkable function; lsh_band_rows documents
    the persisted-index deployment).  The index side never shuffles
    when the band table is bucketed by band; nothing in this plan
    touches index-index pairs."""
    docs = load_table(spark, sf_dir, "documents")
    from bigdatamlteamrepo_spark.queries.text_dedup import _INCR_MOD

    is_new = F.col("doc_id") % _INCR_MOD == 0
    stages = incremental_stage_frames(docs)
    base = docs.filter(is_new).select("doc_id", "source", "n_chars")
    for name, frame in stages.items():
        if name.startswith("_"):
            continue
        base = base.join(
            frame.withColumn(f"__{name}", F.lit(1)), "doc_id", "left"
        )
    report = truncate(
        base.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batch"),
            F.sum(F.coalesce("__s1", F.lit(0))).cast("bigint").alias("n_gopher"),
            F.sum(F.coalesce("__s2", F.lit(0))).cast("bigint").alias("n_exact_new"),
            F.sum(F.coalesce("__s3", F.lit(0)))
            .cast("bigint")
            .alias("n_neardup_new"),
            F.sum(F.when(F.col("__s3") == 1, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("chars_appended"),
        )
    )
    for frame in stages.values():
        frame.unpersist()
    return report


def _ingest_decon_oracle() -> str:
    from bigdatamlteamrepo_spark.queries.pipeline import (
        _DECON_GRAMS_SQL,
        _DECON_W,
        _EVAL_N,
    )
    from bigdatamlteamrepo_spark.queries.text_dedup import _INCR_MOD

    return f"""
WITH {_incremental_ctes()},
__dt AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
__dg AS (
  SELECT doc_id, unnest({_DECON_GRAMS_SQL}) AS gram
  FROM __dt WHERE len(toks) >= {_DECON_W}
),
__dev AS (SELECT DISTINCT gram FROM __dg WHERE doc_id < {_EVAL_N}),
__dcon AS (
  SELECT DISTINCT g.doc_id FROM __dg g JOIN __dev USING (gram)
  WHERE g.doc_id IN (SELECT doc_id FROM __is3)
),
__is4 AS (
  SELECT doc_id FROM __is3
  WHERE doc_id NOT IN (SELECT doc_id FROM __dcon)
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(SUM(CASE WHEN s3.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_neardup_new,
       CAST(SUM(CASE WHEN s4.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_decon_clean,
       CAST(SUM(CASE WHEN s4.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END)
            AS BIGINT) AS chars_appended
FROM documents d
LEFT JOIN __is3 s3 ON d.doc_id = s3.doc_id
LEFT JOIN __is4 s4 ON d.doc_id = s4.doc_id
WHERE d.doc_id % {_INCR_MOD} = 0
GROUP BY d.source
"""


@query("ingest_decon_summary", oracle=_ingest_decon_oracle())
def ingest_decon_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`corpus_incremental_build_summary` with the
    decontamination gate applied AT INGEST: near-dup survivors that
    share any exact 8-token gram with the eval stand-in (``doc_id <
    _EVAL_N``) are rejected before they ever enter the corpus —
    contamination prevention, vs the build-time cut/drop remediation
    (eval_decontamination_spans / build_training_corpus decon modes).
    Reports per-source batch size, pre-decon survivors, decon-clean
    acceptances, and appended char mass.

    Scale: the eval gram set is benchmark-sized and broadcast; only
    the batch's SURVIVORS explode their gram streams (O(|batch|)
    tokens), so the gate adds no index-side work at all."""
    docs = load_table(spark, sf_dir, "documents")
    from bigdatamlteamrepo_spark.queries.pipeline import eval_gram_frame
    from bigdatamlteamrepo_spark.queries.text_dedup import _INCR_MOD

    is_new = F.col("doc_id") % _INCR_MOD == 0
    stages = incremental_stage_frames(
        docs, eval_grams=eval_gram_frame(docs)
    )
    base = docs.filter(is_new).select("doc_id", "source", "n_chars")
    for name in ("s3", "s4"):
        base = base.join(
            stages[name].withColumn(f"__{name}", F.lit(1)), "doc_id", "left"
        )
    report = truncate(
        base.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batch"),
            F.sum(F.coalesce("__s3", F.lit(0)))
            .cast("bigint")
            .alias("n_neardup_new"),
            F.sum(F.coalesce("__s4", F.lit(0)))
            .cast("bigint")
            .alias("n_decon_clean"),
            F.sum(F.when(F.col("__s4") == 1, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("chars_appended"),
        )
    )
    for frame in stages.values():
        frame.unpersist()
    return report


def batch_ingest_stages(
    batch: DataFrame,
    index_keys: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    bsets: DataFrame | None = None,
    bbands: DataFrame | None = None,
    eval_grams: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Per-stage batch-survivor doc_id sets of one ingest step against
    arbitrary index tables: ``{"s1": gopher pass, "s2": exact-new,
    "s3": neardup-new}`` as PERSISTED frames — callers consume,
    materialize something small, then ``unpersist()`` each (the
    operators/dedup.py discipline; ``_``-keyed entries are
    storage-releasable internals, not presence sets).

    ``batch``: (doc_id, lang, source, text, ...) — the arriving docs.
    ``index_keys``: (lang, h) md5 keys of every already-ingested doc.
    ``index_bands``: (doc_id, band) LSH band rows of the ingested
    corpus (lsh_band_rows — the persisted dedup index).
    ``index_sets``: (doc_id, s) shingle sets for Jaccard verify; index
    doc_ids must be disjoint from batch doc_ids.

    ``bsets``/``bbands``: optionally the BATCH's already-materialized
    shingle sets / band rows (callers that also fold the batch into the
    index — streaming/ingest.py — compute them once and share; the
    frames must cover exactly ``batch``'s doc_ids).

    ``eval_grams``: optionally a one-column ``gram`` frame of the eval
    battery's distinct 8-token grams (queries/pipeline.eval_gram_frame)
    — adds an ``"s4"`` entry: near-dup survivors that also share NO
    exact 8-gram with the eval set (the decontamination gate applied at
    ingest, so contaminated docs never enter the corpus instead of
    being cut at build time).  The gram frame is benchmark-sized and
    broadcast; only s3 survivors explode their gram streams.

    Shared by the registered batch query
    (:func:`corpus_incremental_build_summary`) and the streaming
    foreachBatch ingest (streaming/ingest.py), so stream ≡ batch is
    testable against one implementation."""
    from bigdatamlteamrepo_spark.queries.pipeline import (
        gopher_pass,
        gopher_rule_flags,
    )
    from bigdatamlteamrepo_spark.queries.text_dedup import (
        _JACCARD_MIN,
        _pair_jaccard,
        doc_shingle_sets,
        lsh_band_rows,
    )

    flags = gopher_rule_flags(batch, "doc_id")
    s1 = flags.filter(gopher_pass() == 1).select("doc_id").persist()

    keys = batch.select("doc_id", "lang", F.md5("text").alias("__h"))
    s2 = (
        keys.join(s1, "doc_id", "left_semi")
        .join(
            index_keys.select(F.col("lang"), F.col("h").alias("__h")),
            ["lang", "__h"],
            "left_anti",
        )
        .groupBy("lang", "__h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .persist()
    )

    # persist() (not localCheckpoint) so the caller's final unpersist
    # actually releases the corpus-sized blocks — unpersist on a
    # checkpointed frame is a no-op (the r5-advice storage leak)
    if bsets is None:
        bsets = doc_shingle_sets(batch).persist()
    if bbands is None:
        bbands = lsh_band_rows(bsets, F.col("s"))
    bnew = bbands.join(s2, "doc_id", "left_semi").persist()
    vs_index = (
        bnew.alias("n")
        .join(index_bands.alias("i"), "band")
        .select(
            F.col("n.doc_id").alias("doc_a"), F.col("i.doc_id").alias("doc_b")
        )
    )
    vs_batch = (
        bnew.alias("a")
        .join(
            bnew.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("b.doc_id") < F.col("a.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    cand = vs_index.unionByName(vs_batch).distinct()
    all_sets = bsets.unionByName(index_sets)
    dropped = (
        _pair_jaccard(cand, all_sets, _JACCARD_MIN, materialize=False)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(dropped, "doc_id", "left_anti").persist()
    out = {"s1": s1, "s2": s2, "s3": s3, "_sets": bsets, "_bands": bnew}
    if eval_grams is not None:
        from bigdatamlteamrepo_spark.queries.pipeline import _DECON_W

        bg = (
            batch.join(s3, "doc_id", "left_semi")
            .withColumn("toks", tokenize("text"))
            .filter(F.size("toks") >= _DECON_W)
            .select(
                "doc_id",
                F.explode(shingles(F.col("toks"), _DECON_W)).alias("gram"),
            )
        )
        contaminated = (
            bg.join(F.broadcast(eval_grams), "gram", "left_semi")
            .select("doc_id")
            .distinct()
        )
        out["s4"] = s3.join(contaminated, "doc_id", "left_anti").persist()
    return out


def incremental_stage_frames(
    docs: DataFrame, eval_grams: DataFrame | None = None
) -> dict[str, DataFrame]:
    """:func:`batch_ingest_stages` over the registered 20/80 split:
    batch = ``doc_id % 5 == 0``, index tables derived from the other
    80% (in production these are the PERSISTED key/band/set tables;
    see streaming/ingest.py for the maintained-index path).
    ``eval_grams`` is passed through (adds the ``"s4"`` decon stage)."""
    from bigdatamlteamrepo_spark.queries.text_dedup import (
        _INCR_MOD,
        doc_shingle_sets,
        lsh_band_rows,
    )

    is_new = F.col("doc_id") % _INCR_MOD == 0
    index = docs.filter(~is_new)
    index_keys = (
        index.select("lang", F.md5("text").alias("h")).distinct().persist()
    )
    index_sets = doc_shingle_sets(index).persist()
    index_bands = lsh_band_rows(index_sets, F.col("s")).persist()
    stages = batch_ingest_stages(
        docs.filter(is_new),
        index_keys,
        index_bands,
        index_sets,
        eval_grams=eval_grams,
    )
    stages["_index_keys"] = index_keys
    stages["_index_sets"] = index_sets
    stages["_index_bands"] = index_bands
    return stages


# --------------------------------------------------------------------------
# Iterative BPE merge learning (full loop over bpe_pair_counts' stat).
# --------------------------------------------------------------------------

_BPE_ROUNDS = 5


def _apply_merge(symbols, a: str, b: str):
    """Leftmost-first non-overlapping replacement of adjacent (a, b)
    with the merged symbol — one sequential fold over the array (the
    standard greedy BPE application), as a pure expression."""
    return F.aggregate(
        symbols,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_bpe_merges(
    words: DataFrame, n_rounds: int = _BPE_ROUNDS
) -> list[tuple[int, str, int]]:
    """The full BPE training loop (Sennrich et al. 2016) over a
    (word, freq) frame: per round, count adjacent symbol pairs
    frequency-weighted (one agg over the distinct-word table), take the
    top pair (count desc, pair asc — deterministic), and apply the
    merge to every word via a sequential array fold.  Returns
    [(rank, "a b", count)].

    Driver involvement is one 1-row collect per round (the argmax) —
    the per-round data work is a distributed agg + map, and the symbol
    frame is localCheckpoint-ed each round to truncate lineage, the
    same pattern as integer PageRank's iteration.

    This one-merge-per-round form is the textbook algorithm and the
    parity anchor; at vocab-scale merge counts (32k) use
    :func:`learn_bpe_merges_batched`, which applies the top-``batch``
    symbol-disjoint merges per round and bounds driver round-trips at
    O(n_merges / batch)."""
    syms = truncate(
        words.select(
            "freq",
            F.concat(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.col("word").substr(i, F.lit(1)),
                ),
                F.array(F.lit("</w>")),
            ).alias("symbols"),
        )
    )
    merges: list[tuple[int, str, int]] = []
    for r in range(1, n_rounds + 1):
        pairs = (
            syms.select(
                "freq",
                # guard fully-merged single-symbol words: sequence(1, 0)
                # is DESCENDING in Spark, which would index out of bounds
                F.explode(
                    F.when(
                        F.size("symbols") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("symbols") - 1),
                            lambda i: F.concat(
                                F.element_at("symbols", i),
                                F.lit(" "),
                                F.element_at("symbols", i + 1),
                            ),
                        ),
                    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "pair").limit(1).collect()
        if not top:
            break
        pair, cnt = top[0]["pair"], top[0]["cnt"]
        merges.append((r, pair, cnt))
        a, b = pair.split(" ", 1)
        syms = truncate(
            syms.select(
                "freq", _apply_merge(F.col("symbols"), a, b).alias("symbols")
            )
        )
    return merges


def _apply_merge_batch(symbols, rules: list[tuple[str, str]]):
    """Apply a BATCH of symbol-disjoint merge rules in one sequential
    fold (leftmost-first, non-overlapping).  Because the rules share no
    symbols, at most one rule can match at any position and rule
    applications cannot interact — one pass is equivalent to applying
    them one-by-one in any order."""
    def step(acc, x):
        out = None
        for a, b in rules:
            cond = (
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b))
            )
            merged = F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            )
            out = F.when(cond, merged) if out is None else out.when(cond, merged)
        return out.otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(symbols, F.expr("CAST(array() AS ARRAY<STRING>)"), step)


def learn_bpe_merges_batched(
    words: DataFrame,
    n_merges: int = 500,
    batch: int = 16,
    stats: dict | None = None,
) -> list[tuple[int, str, int]]:
    """Vocab-scale BPE training: per round, select the top-``batch``
    SYMBOL-DISJOINT pairs from one pair-count aggregation and apply
    them in a single fold — bounding driver round-trips at
    O(n_merges / batch) instead of one Spark job chain per merge (the
    r03 verdict finding against the sequential learner: 32k merges =
    32k jobs).  This is the standard trainer optimization (e.g.
    Sennrich's own ``--num-workers`` batching and every production BPE
    trainer): merges whose pairs share no symbol cannot interact, so

      * their counts are invariant under each other's application
        (merging (a,b) can neither create nor destroy an adjacent
        (c,d) occurrence when {a,b} ∩ {c,d} = ∅), making the recorded
        counts exact, and
      * one leftmost-first pass applies the whole batch exactly as
        sequential application would.

    The SEQUENCE can differ from the one-at-a-time learner beyond the
    first merge of each round (a fresh pair created by merge #1 could
    outrank the round's #2 candidate) — the accepted trade in batched
    trainers; ``batch=1`` reproduces the sequential algorithm exactly
    (pinned in tests/test_textmodel.py).

    Per round: one distributed pair-count agg, ONE bounded collect of
    the top ``8·batch`` candidate rows (the greedy disjointness filter
    runs on those scalars driver-side), one fold + localCheckpoint.
    Returns [(rank, "a b", count)]; ``stats['rounds']`` reports the
    round count when a dict is passed."""
    syms = truncate(
        words.select(
            "freq",
            F.concat(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.col("word").substr(i, F.lit(1)),
                ),
                F.array(F.lit("</w>")),
            ).alias("symbols"),
        )
    )
    merges: list[tuple[int, str, int]] = []
    rounds = 0
    while len(merges) < n_merges:
        pairs = (
            syms.select(
                "freq",
                # guard fully-merged single-symbol words: sequence(1, 0)
                # is DESCENDING in Spark, which would index out of bounds
                F.explode(
                    F.when(
                        F.size("symbols") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("symbols") - 1),
                            lambda i: F.concat(
                                F.element_at("symbols", i),
                                F.lit(" "),
                                F.element_at("symbols", i + 1),
                            ),
                        ),
                    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "pair").limit(8 * batch).collect()
        if not top:
            break
        rounds += 1
        used: set[str] = set()
        selected: list[tuple[str, str, int]] = []
        for row in top:
            if len(selected) >= batch or len(merges) + len(selected) >= n_merges:
                break
            a, b = row["pair"].split(" ", 1)
            # disjointness must cover the merged PRODUCT too: with
            # rules (t,h) and (th,e) in one batch, the fold would chain
            # "t h e" → "the" in a single round — a sequence no
            # one-at-a-time application of this batch produces.
            if a in used or b in used or (a + b) in used:
                continue
            used.update((a, b, a + b))
            selected.append((a, b, row["cnt"]))
        if not selected:
            break
        for a, b, cnt in selected:
            merges.append((len(merges) + 1, f"{a} {b}", cnt))
        syms = truncate(
            syms.select(
                "freq",
                _apply_merge_batch(
                    F.col("symbols"), [(a, b) for a, b, _ in selected]
                ).alias("symbols"),
            )
        )
    if stats is not None:
        stats["rounds"] = rounds
    return merges


@query("bpe_learn_merges_batched")
def bpe_learn_merges_batched_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (iterative): 60 BPE merges learned in batched rounds
    (batch=16 → ≤ ~5 driver round-trips).  Pinned against an
    independent in-Python batched learner and, at batch=1, against the
    sequential learner in test_textmodel."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize_words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = learn_bpe_merges_batched(words, n_merges=60, batch=16)
    return spark.createDataFrame(
        merges, "merge_rank bigint, pair string, pair_count bigint"
    )


@query("bpe_learn_merges")
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (iterative, driver-coordinated argmax per round — not
    SQL-expressible as one statement): the first {_BPE_ROUNDS} BPE
    merges learned from the corpus word frequencies.  Pinned against an
    independent in-Python BPE learner in test_textmodel."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize_words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = learn_bpe_merges(words)
    return spark.createDataFrame(
        merges, "merge_rank bigint, pair string, pair_count bigint"
    )


def bpe_encode_words(words: DataFrame, merges: list[str]) -> DataFrame:
    """Apply learned merges (rank order) to the distinct-word table:
    standard BPE encoding as a chain of sequential array folds — one
    pure expression per merge, no UDFs.  Returns (word, freq, symbols)."""
    syms = words.select(
        "word",
        "freq",
        F.concat(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.col("word").substr(i, F.lit(1)),
            ),
            F.array(F.lit("</w>")),
        ).alias("symbols"),
    )
    col = F.col("symbols")
    for pair in merges:
        a, b = pair.split(" ", 1)
        col = _apply_merge(col, a, b)
    return syms.select("word", "freq", col.alias("symbols"))


@query("bpe_encode_summary")
def bpe_encode_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (consumes the iteratively learned merges): corpus
    compression from applying the learned BPE merges — frequency-
    weighted symbol counts before/after.  The encode itself touches
    only the DISTINCT-word table (Zipf-collapsed); re-joining subword
    ids back onto the token stream is one broadcast of the vocab."""
    docs = load_table(spark, sf_dir, "documents")
    words = truncate(
        docs.select(F.explode(tokenize_words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = [m[1] for m in learn_bpe_merges(words)]
    enc = bpe_encode_words(words, merges)
    return enc.agg(
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.sum(F.col("freq") * (F.length("word") + 1))
        .cast("bigint")
        .alias("symbols_before"),
        F.sum(F.col("freq") * F.size("symbols"))
        .cast("bigint")
        .alias("symbols_after"),
        F.lit(len(merges)).cast("bigint").alias("n_merges"),
    )


# --------------------------------------------------------------------------
# Corpus statistics: Zipf rank-frequency fit and term burstiness.
# --------------------------------------------------------------------------

#: burstiness: number of top-frequency terms profiled
_BURST_K = 20


@query(
    "vocab_zipf_fit",
    oracle=f"""
WITH t AS (
  SELECT lang, unnest({_TOKENS_SQL}) AS term FROM documents
),
v AS (
  SELECT lang, term, COUNT(*) AS freq FROM t GROUP BY lang, term
),
r AS (
  SELECT lang,
         CAST(round(ln(CAST(ROW_NUMBER() OVER (
             PARTITION BY lang ORDER BY freq DESC, term) AS DOUBLE))
             * {MICRO}) AS BIGINT) AS x,
         CAST(round(ln(CAST(freq AS DOUBLE)) * {MICRO}) AS BIGINT) AS y
  FROM v
),
s AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM r GROUP BY lang
)
SELECT lang, n_terms, sx, sy, sxy, sxx,
       round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope
FROM s
""",
)
def vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf exponent: least-squares slope of ln(freq) vs
    ln(rank) over the vocabulary (a natural corpus hits ≈ −1; strong
    deviation flags synthetic, templated, or spam-heavy sources — a
    cheap corpus-health gauge).

    Determinism: ln(rank) and ln(freq) are micro-quantized per term
    (the house fixed-point rule), so the regression sufficient
    statistics are exact integer sums (rank ties broken by term —
    identical ordering in both engines) and the slope is derived
    row-locally from those exact integers.  Scale: the vocab frame is
    Zipf-collapsed; one groupBy + one per-lang window over vocab-sized
    rows + one tiny agg."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("lang", F.explode(tokenize("text")).alias("term"))
    v = t.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), "term")
    r = v.select(
        "lang",
        F.round(F.log(F.row_number().over(w).cast("double")) * MICRO)
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * MICRO)
        .cast("bigint")
        .alias("y"),
    )
    s = r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("sxx"),
    )
    nd = F.col("n_terms").cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return s.select(
        "lang", "n_terms", "sx", "sy", "sxy", "sxx",
        F.round(slope, 6).alias("zipf_slope"),
    )


@query(
    "doc_term_burstiness",
    oracle=f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tc AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY doc_id, term
),
top AS (
  SELECT term, CAST(SUM(c) AS BIGINT) AS total_count
  FROM tc GROUP BY term
  ORDER BY total_count DESC, term LIMIT {_BURST_K}
),
s AS (
  SELECT tc.term, top.total_count,
         CAST(COUNT(*) AS BIGINT) AS n_docs_with,
         CAST(SUM(tc.c * tc.c) AS BIGINT) AS sum_c2
  FROM tc JOIN top USING (term)
  GROUP BY tc.term, top.total_count
)
SELECT s.term, s.total_count, s.n_docs_with, s.sum_c2,
       CAST((
         (n.n_docs * s.sum_c2 - s.total_count * s.total_count) * {MICRO}
         + (n.n_docs * s.total_count) // 2
       ) // (n.n_docs * s.total_count) AS BIGINT) AS vmr_micro
FROM s CROSS JOIN n
""",
)
def doc_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio of per-document counts for the top
    {_BURST_K} corpus terms — the classical burstiness statistic
    (VMR = 1 under Poisson scatter; ≫ 1 means the term clumps in few
    documents, the signature of boilerplate and topical spikes).

    Zero-count documents are part of the population (n = all docs):
    VMR = (n·Σc² − (Σc)²) / (n·Σc) from integer sufficient statistics
    only — Σc over non-occurrences adds nothing, so the zeros never
    materialize.  The ratio is a rational of integers, which is
    exactly the case where round() ties bite (the DSIR lesson), so it
    is emitted as half-away-from-zero integer micro units via integer
    division — tie-proof in both engines.  The ×1e6 numerator stays
    within int64 up to ~9e12·n_docs count mass; the production-scale
    variant accumulates the numerator in DECIMAL(38,0) first (cf.
    operators/stats.py::moment_aggs)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tc = t.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    top = (
        tc.groupBy("term")
        .agg(F.sum("c").cast("bigint").alias("total_count"))
        .orderBy(F.desc("total_count"), "term")
        .limit(_BURST_K)
    )
    s = (
        tc.join(F.broadcast(top), "term")
        .groupBy("term", "total_count")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_with"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
        )
    )
    vmr = F.expr(
        f"CAST(((n_docs * sum_c2 - total_count * total_count) * {MICRO}"
        " + (n_docs * total_count) div 2)"
        " div (n_docs * total_count) AS BIGINT)"
    )
    return s.crossJoin(F.broadcast(n_docs)).select(
        "term", "total_count", "n_docs_with", "sum_c2", vmr.alias("vmr_micro")
    )


# --------------------------------------------------------------------------
# Heuristic × model signal calibration: the full contingency of the
# Gopher rule gate against the LM perplexity terciles — not just the
# "kept" AND-corner that training_corpus_selection reports, but every
# cell, so a curator can SEE where the two signals disagree (rule-pass
# but perplexity-tail = fluent-looking junk the rules miss; rule-fail
# but perplexity-head = formatting-odd docs the LM likes) before
# choosing thresholds.
# --------------------------------------------------------------------------


def _calibration_oracle() -> str:
    return f"""
WITH g AS ({_gopher_doc_sql()}),
lmq AS (SELECT doc_id, ppl_tercile FROM ({_LM_ORACLE}))
SELECT g.source, g.pass_gopher,
       COALESCE(l.ppl_tercile, 0) AS ppl_tercile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
FROM g
JOIN documents d ON g.doc_id = d.doc_id
LEFT JOIN lmq l ON g.doc_id = l.doc_id
GROUP BY g.source, g.pass_gopher, COALESCE(l.ppl_tercile, 0)
"""


@query("quality_ppl_calibration", oracle=_calibration_oracle())
def quality_ppl_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency of (Gopher pass flag × LM perplexity tercile) per
    source: doc counts and char mass in every cell.  ``ppl_tercile = 0``
    is the unscored bucket (docs with < 2 bigrams — they have no
    perplexity, which is itself a signal; empty-token docs are outside
    the gate's domain and excluded, mirroring the rules query).

    Plan: the two signal frames are both per-doc_id aggregates the
    engine already proves independently (row-local rule flags; the
    one-shuffle bigram-LM score); here they meet in a single doc_id
    hash join followed by a low-cardinality rollup (sources × 2 × 4
    cells).  At 100 TB nothing new shuffles: the join key is the same
    doc_id both frames are already keyed by, and the output is
    constant-sized."""
    from bigdatamlteamrepo_spark.queries.pipeline import (
        gopher_pass,
        gopher_rule_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    flags = gopher_rule_flags(docs, "doc_id", "source", "n_chars")
    lm = lm_perplexity_frame(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "ppl_tercile"
    )
    return (
        flags.select(
            "doc_id", "source", "n_chars", gopher_pass().alias("pass_gopher")
        )
        .join(lm, "doc_id", "left")
        .groupBy(
            "source",
            "pass_gopher",
            F.coalesce(F.col("ppl_tercile"), F.lit(0)).alias("ppl_tercile"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# --------------------------------------------------------------------------
# Quality-curriculum phase plan: order training data so the highest-
# quality text is seen LAST (the annealing/midtraining schedule —
# final-phase data dominates what the model retains).  Phases come
# from the LM perplexity terciles the selection stage already
# computes: phase 1 = unscored + worst kept tercile, ..., final phase
# = the perplexity head.  This is the plan a trainer consumes BEFORE
# shard ordering; it adds zero new corpus passes (the tercile frame is
# the registered doc_lm_perplexity plan).
# --------------------------------------------------------------------------


@query(
    "curriculum_phase_plan",
    oracle=f"""
WITH lmq AS (SELECT doc_id, ppl_tercile FROM ({_LM_ORACLE})),
t AS (
  SELECT d.source, len({_TOKENS_SQL}) AS n_tokens,
         CASE COALESCE(l.ppl_tercile, 3)
              WHEN 3 THEN 1 WHEN 2 THEN 2 ELSE 3 END AS phase
  FROM documents d LEFT JOIN lmq l ON d.doc_id = l.doc_id
),
a AS (
  SELECT phase, source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS phase_tokens
  FROM t GROUP BY phase, source
)
SELECT phase, source, n_docs, phase_tokens,
       CAST(SUM(phase_tokens) OVER (PARTITION BY source ORDER BY phase
            ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / SUM(phase_tokens) OVER (PARTITION BY source)
         AS cum_token_frac
FROM a
""",
)
def curriculum_phase_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (phase, source): docs, token mass, and the cumulative token
    fraction a trainer has consumed by the END of that phase.  Phase 1
    = highest-perplexity tercile plus unscored (< 2-bigram) docs,
    phase 3 = the perplexity head — worst first, best last.

    Plan: the tercile frame is the existing one-shuffle LM scoring
    plan; phases are a row-local CASE, the rollup keys on (phase,
    source) — constant cardinality — and the cumulative fraction is a
    window over ≤ 3 rows per source.  Integer-over-integer division,
    bit-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    lm = lm_perplexity_frame(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "ppl_tercile"
    )
    phase = (
        F.when(F.coalesce(F.col("ppl_tercile"), F.lit(3)) == 3, 1)
        .when(F.col("ppl_tercile") == 2, 2)
        .otherwise(3)
    )
    t = (
        docs.select(
            "doc_id", "source", F.size(tokenize("text")).alias("n_tokens")
        )
        .join(lm, "doc_id", "left")
        .select("source", "n_tokens", phase.alias("phase"))
    )
    a = t.groupBy("phase", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("phase_tokens"),
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("phase")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    return a.select(
        "phase",
        "source",
        "n_docs",
        "phase_tokens",
        (
            F.sum("phase_tokens").over(w_cum).cast("double")
            / F.sum("phase_tokens").over(w_all)
        ).alias("cum_token_frac"),
    )


# --------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM (interpolated, fixed discount).
# --------------------------------------------------------------------------

#: absolute discount for interpolated Kneser-Ney (Chen & Goodman 1999's
#: canonical fixed value; estimating D = n1/(n1+2*n2) would also be
#: deterministic but a fixed constant keeps the oracle trivially equal)
KN_D = 0.75

_KN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
),
bg AS (
  SELECT doc_id, lang, unnest({_bigrams_sql('toks')}) AS bigram
  FROM t WHERE len(toks) >= 2
),
lm AS (
  SELECT bigram, COUNT(*) AS c_xy FROM bg GROUP BY bigram
),
lmx AS (
  SELECT bigram, c_xy,
         string_split(bigram, ' ')[1] AS x,
         string_split(bigram, ' ')[2] AS y
  FROM lm
),
ctx AS (
  SELECT x, CAST(SUM(c_xy) AS BIGINT) AS c_x, COUNT(*) AS n1f
  FROM lmx GROUP BY x
),
back AS (
  SELECT y, COUNT(*) AS n1b FROM lmx GROUP BY y
),
b AS (SELECT COUNT(*) AS n_bigram_types FROM lm),
model AS (
  SELECT lmx.bigram, lmx.c_xy, ctx.c_x, ctx.n1f, back.n1b
  FROM lmx JOIN ctx ON lmx.x = ctx.x JOIN back ON lmx.y = back.y
),
scored AS (
  SELECT bg.doc_id, bg.lang,
         CAST(round(ln(
             (m.c_xy - {KN_D}) / m.c_x
             + ({KN_D} * m.n1f / m.c_x)
               * (CAST(m.n1b AS DOUBLE) / b.n_bigram_types)
           ) * {MICRO}) AS BIGINT) AS lp_micro
  FROM bg JOIN model m USING (bigram) CROSS JOIN b
),
agg AS (
  SELECT doc_id, lang, COUNT(*) AS n_bigrams,
         CAST(SUM(lp_micro) AS BIGINT) AS lp_sum_micro
  FROM scored GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_bigrams, lp_sum_micro,
       round(exp(-(CAST(lp_sum_micro AS DOUBLE) / {MICRO}) / n_bigrams), 6)
         AS perplexity,
       ntile(3) OVER (
         PARTITION BY lang
         ORDER BY CAST(lp_sum_micro AS DOUBLE) / n_bigrams DESC, doc_id
       ) AS ppl_tercile
FROM agg
"""


def kn_bigram_model(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram model table from a (doc_id, lang,
    text) frame: one row per OBSERVED bigram with every statistic the
    scorer needs — (bigram, c_xy, c_x, n1f, n1b, n_bigram_types) where

    * ``c_xy``/``c_x`` are the raw bigram/context counts,
    * ``n1f``  = |{{y : c(x,y) > 0}}| (continuation fan-out of x),
    * ``n1b``  = |{{x : c(x,y) > 0}}| (continuation history count of y —
      KN's "how many contexts has y completed", the quantity that
      demotes boilerplate-frequent-but-context-locked tokens),
    * ``n_bigram_types`` = total distinct bigrams (Σ n1b normalizer).

    All three statistics reduce from the LM TABLE, not the corpus
    stream — Zipf collapses the heavy token traffic into the bigram
    vocabulary first, so the extra KN aggregations cost a tiny fraction
    of the base count stage.

    (c_x, n1f, n1b) are attached to the LM table by WINDOW aggregates
    over its own keys instead of two grouped-count branches joined
    back: each aggregate+join branch re-derived the corpus bigram
    aggregation (10 corpus scans in the lazy plan,
    plans/r12/doc_lm_perplexity_kn_before.txt); the windows shuffle
    only the LM TABLE (bigram-type-sized) and leave 3 corpus scans —
    this table, the B branch, and the caller's scorer stream (r12,
    guide §2.3/§2.4; measured at sf0.1 end-to-end: 1.80 → 1.58 s
    median, 1.51 → 1.40 s min, interleaved A/B).  An eager or lazy
    localCheckpoint of the LM table measured SLOWER than both (storage
    write on ~1M rows, r12 negative result)."""
    bg = (
        ensure_tokens(docs, "doc_id", "lang")
        .filter(F.size("toks") >= 2)
        .select(F.explode(shingles(F.col("toks"), 2)).alias("bigram"))
    )
    lm = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_xy"))
    lmx = lm.select(
        "bigram",
        "c_xy",
        F.split("bigram", " ")[0].alias("x"),
        F.split("bigram", " ")[1].alias("y"),
    )
    wx, wy = Window.partitionBy("x"), Window.partitionBy("y")
    b = lm.agg(F.count(F.lit(1)).alias("n_bigram_types"))
    return (
        lmx.withColumn("c_x", F.sum("c_xy").over(wx).cast("bigint"))
        .withColumn("n1f", F.count(F.lit(1)).over(wx))
        .withColumn("n1b", F.count(F.lit(1)).over(wy))
        .crossJoin(F.broadcast(b))
        .select("bigram", "c_xy", "c_x", "n1f", "n1b", "n_bigram_types")
    )


@query("doc_lm_perplexity_kn", bench=True, oracle=_KN_ORACLE)
def doc_lm_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney counterpart of :func:`doc_lm_perplexity`: interpolated
    KN with fixed discount {KN_D} — p(y|x) = (c_xy − D)/c_x +
    (D·n1f/c_x)·(n1b/B).  Scoring the training corpus itself means
    every scored bigram is observed, so the discounted term never goes
    negative and no unseen-history backoff branch is needed.

    Same distributed shape as the add-k LM (one bigram count agg, model
    folded to ONE table before the single doc-stream join, micro-nat
    BIGINT sums, per-language ntile over the per-doc frame); the KN
    statistics add only LM-table-sized aggregations.  The per-bigram
    double expression is written with identical association in both
    engines, then quantized — the house float discipline.

    The model's (c_x, n1f, n1b) statistics are window aggregates over
    the LM table inside :func:`kn_bigram_model` — the former
    aggregate+join branches re-derived the corpus bigram aggregation
    per branch (10 corpus scans → 3; r12, guide §2.3/§2.4)."""
    docs = _with_tokens(spark, sf_dir)
    model = kn_bigram_model(docs)
    bg = (
        ensure_tokens(docs, "doc_id", "lang")
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(shingles(F.col("toks"), 2)).alias("bigram"),
        )
    )
    p = (F.col("c_xy") - KN_D) / F.col("c_x") + (
        F.lit(KN_D) * F.col("n1f") / F.col("c_x")
    ) * (F.col("n1b").cast("double") / F.col("n_bigram_types"))
    scored = bg.join(model, "bigram").select(
        "doc_id",
        "lang",
        F.round(F.log(p) * MICRO).cast("bigint").alias("lp_micro"),
    )
    agg = scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp_micro").cast("bigint").alias("lp_sum_micro"),
    )
    mean_lp = F.col("lp_sum_micro").cast("double") / MICRO / F.col("n_bigrams")
    w = Window.partitionBy("lang").orderBy(
        (F.col("lp_sum_micro").cast("double") / F.col("n_bigrams")).desc(),
        "doc_id",
    )
    return agg.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "lp_sum_micro",
        F.round(F.exp(-mean_lp), 6).alias("perplexity"),
        F.ntile(3).over(w).cast("bigint").alias("ppl_tercile"),
    )

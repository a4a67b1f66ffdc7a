"""Training-shard planning: mixture weights, temperature sampling,
sequence packing, and deterministic shard assignment.

The step between a deduplicated corpus and a training run: decide how
much of each source to sample, pack documents into fixed-length
sequences, and deal documents to output shards.  Everything here is
deterministic (portable md5-derived hashes, no ``rand()``) so every
query is oracle-checkable, and every plan is one scan plus one
small-key shuffle — the shapes that survive 100 TB:

* **Token budgets / mixture weights** (temperature sampling, Raffel et
  al. 2020 §3.4.3 / GPT-3 Appendix A): per-source token mass, corpus
  share, and the alpha-tempered mixture weight — one grouped agg plus a
  broadcast of 20 totals.
* **Temperature subsampling**: deterministic Bernoulli keep-decision
  per doc (``md5(doc_id)``-derived uniform < per-source rate).  No
  ``rand()`` means re-runs and retried tasks keep identical rows — a
  property worth more than true randomness in a reproducible pipeline.
* **Sequence packing** (concat-then-chunk): documents are concatenated
  per source in doc_id order and sliced into SEQ_LEN-token windows; a
  document's shard is the window its first token lands in.  The running
  token sum is a window cumsum PARTITIONED BY source, so each source
  packs independently — no single-partition global window (the
  classic scale trap for ``SUM() OVER (ORDER BY ...)`` with no
  PARTITION BY).
* **Shard assignment**: shard = portable_hash(doc_id) mod N plus a
  within-shard position — the deterministic "global shuffle" a trainer
  consumes; each shard's ordering sorts locally within its own hash
  partition.

Reference parity: extends the reference's train/val/test splitting
(model.py:114-116, 76.5/13.5/10 via sklearn) to the corpus-level
mixing/packing a 100 TB pretraining pipeline needs; same
deterministic-split philosophy, corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.functions.text import tokenize
from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.queries.registry import query
from bigdatamlteamrepo_spark.queries.text_dedup import _TOKENS_SQL

#: mixture temperature — weight_s ∝ tokens_s^ALPHA (α<1 upweights
#: small sources, the T5/GPT-3 convention)
MIX_ALPHA = 0.5
#: packed sequence length (tokens per training sample window)
SEQ_LEN = 2048
#: output shard count for the deterministic deal (driver-SF default;
#: window parallelism equals the shard count, so a production deal passes
#: thousands of shards to ``shard_assignment``, not 8)
N_SHARDS = 8
#: doc_id-range bucket width for the skew-split pack: the cumsum window
#: partitions by (source, bucket) so parallelism is ~corpus_size/BUCKET
#: instead of #sources — a single-source 100 TB corpus still packs wide
PACK_BUCKET = 4096

#: 32-bit uniform in [0,1) from the first 8 md5 hex digits — identical
#: in Spark (conv/base-16) and DuckDB ('0x' literal cast); granularity
#: 2^-32 is plenty for per-doc Bernoulli decisions
_U32 = 4294967296.0


def _unit_hash(col) -> "F.Column":
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
    return h / F.lit(_U32)


def _unit_hash_sql(expr: str) -> str:
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT / {_U32})"


def hash32(col) -> "F.Column":
    """Portable 32-bit hash of an id column (first 8 md5 hex digits)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def shard_of(col, n_shards: int = N_SHARDS) -> "F.Column":
    """Deterministic shard id in [0, n_shards) for an id column."""
    return hash32(col) % n_shards


# --------------------------------------------------------------------------
# Per-source token budgets + tempered mixture weights.
# --------------------------------------------------------------------------


@query(
    "source_token_budgets",
    oracle=f"""
WITH t AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT *, pow(CAST(total_tokens AS DOUBLE), {MIX_ALPHA}) AS raw_w FROM t
)
SELECT source, n_docs, total_tokens,
       CAST(total_tokens AS DOUBLE) / SUM(total_tokens) OVER () AS token_share,
       raw_w / SUM(raw_w) OVER () AS mix_weight,
       (raw_w / SUM(raw_w) OVER ())
         / (CAST(total_tokens AS DOUBLE) / SUM(total_tokens) OVER ())
         AS oversample_factor
FROM w
""",
)
def source_token_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token mass and α-tempered mixture weight.  The
    OVER () totals are a broadcast of one row per source (≤ domains in
    the corpus — thousands at most), never a data shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.withColumn("n_tokens", F.size(tokenize("text")))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .withColumn("raw_w", F.pow(F.col("total_tokens").cast("double"), MIX_ALPHA))
    )
    tot = Window.partitionBy()
    share = F.col("total_tokens").cast("double") / F.sum("total_tokens").over(tot)
    mix = F.col("raw_w") / F.sum("raw_w").over(tot)
    return t.select(
        "source",
        "n_docs",
        "total_tokens",
        share.alias("token_share"),
        mix.alias("mix_weight"),
        (mix / share).alias("oversample_factor"),
    )


# --------------------------------------------------------------------------
# Temperature subsampling: per-source keep-rate ∝ tokens^(α-1),
# normalized so the largest source's rate is the anchor; deterministic
# md5 Bernoulli per doc.  Rates quantized to 6 decimals so the keep
# boundary is engine-exact.
# --------------------------------------------------------------------------


@query(
    "doc_mixture_sample",
    oracle=f"""
WITH t AS (
  SELECT source, CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens
  FROM documents GROUP BY source
),
r AS (
  SELECT source,
         round(pow(CAST(total_tokens AS DOUBLE) /
                   MIN(total_tokens) OVER (), {MIX_ALPHA} - 1.0), 6) AS keep_rate
  FROM t
),
d AS (
  SELECT d.source, r.keep_rate,
         CASE WHEN {_unit_hash_sql('d.doc_id')} < r.keep_rate
              THEN 1 ELSE 0 END AS kept
  FROM documents d JOIN r ON d.source = r.source
)
SELECT source, keep_rate,
       COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept
FROM d GROUP BY source, keep_rate
""",
)
def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic temperature subsample: keep_rate_s =
    (t_s/t_min)^(α-1) — sampled tokens per source become ∝ t_s^α, the
    tempered mixture, with the SMALLEST source anchored at rate 1.0
    (α-1 < 0, so bigger sources are downsampled harder).  The
    per-source rate table is tiny and broadcast; the keep decision is a
    row-local expression."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.withColumn("n_tokens", F.size(tokenize("text")))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("bigint").alias("total_tokens"))
    )
    tmin = F.min("total_tokens").over(Window.partitionBy())
    frac = F.col("total_tokens").cast("double") / tmin
    rates = t.select(
        "source",
        F.round(F.pow(frac, MIX_ALPHA - 1.0), 6).alias("keep_rate"),
    )
    d = docs.select("doc_id", "source").join(F.broadcast(rates), "source")
    kept = (_unit_hash(F.col("doc_id")) < F.col("keep_rate")).cast("int")
    return (
        d.withColumn("kept", kept)
        .groupBy("source", "keep_rate")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# Concat-then-chunk sequence packing, per source.
# --------------------------------------------------------------------------


#: concat-then-chunk pack semantics — shared by the per-source plan and
#: the bucketed skew-split plan (identical results by construction, so
#: one oracle serves both)
_PACK_ORACLE = f"""
WITH t AS (
  SELECT source, doc_id, len({_TOKENS_SQL}) AS n_tokens FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_offset
  FROM t
)
SELECT source,
       CAST(tok_offset // {SEQ_LEN} AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c GROUP BY source, shard_id
"""


@query("doc_pack_plan", bench=True, oracle=_PACK_ORACLE)
def doc_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents concatenated per source in doc_id order, sliced into
    SEQ_LEN-token windows; a doc belongs to the window containing its
    first token.  The cumsum window is partitioned by source, so the
    sort/aggregate parallelizes across sources (per-source skew would
    need a second-level split key — e.g. pre-bucketing doc_id ranges —
    before this runs on a 100 TB single-source corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", F.size(tokenize("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("tok_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return _pack_rollup(c)


def _pack_rollup(c: DataFrame) -> DataFrame:
    """(source, doc_id, n_tokens, tok_offset) → per-(source, shard) stats."""
    return (
        c.withColumn("shard_id", F.floor(F.col("tok_offset") / SEQ_LEN).cast("bigint"))
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query("doc_pack_plan_bucketed", oracle=_PACK_ORACLE)
def doc_pack_plan_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-split pack: byte-identical results to ``doc_pack_plan`` with
    the cumsum window partitioned by (source, doc_id-range bucket), not
    source alone — the two-level plan a 100 TB single-source corpus
    needs (the per-source window's parallelism is #sources; this one's
    is ~corpus/PACK_BUCKET).

    Two-pass offset folding:

    1. per-(source, bucket) token totals — one hash agg; a window over
       this TINY table (≈ docs/PACK_BUCKET rows) turns totals into
       per-bucket starting offsets;
    2. within-bucket cumsum windows run in parallel across buckets; the
       broadcast-joined bucket offset is added back, reconstructing the
       exact global per-source offsets.

    Buckets follow doc_id order (bucket = doc_id div PACK_BUCKET), so
    concatenation order is preserved.  Shares ``doc_pack_plan``'s oracle
    because the results are identical by construction — the parity check
    proves the fold is exact."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "doc_id",
        F.size(tokenize("text")).alias("n_tokens"),
        (F.col("doc_id") / PACK_BUCKET).cast("bigint").alias("bucket"),
    )
    bucket_totals = t.groupBy("source", "bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    # tiny table: one row per (source, bucket); the per-source running
    # offset over it is a metadata-scale window, not a data window
    bw = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucket_offsets = bucket_totals.select(
        "source",
        "bucket",
        (F.sum("bucket_tokens").over(bw) - F.col("bucket_tokens")).alias(
            "bucket_offset"
        ),
    )
    ww = (
        Window.partitionBy("source", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.join(F.broadcast(bucket_offsets), ["source", "bucket"]).withColumn(
        "tok_offset",
        F.col("bucket_offset") + F.sum("n_tokens").over(ww) - F.col("n_tokens"),
    )
    return _pack_rollup(c)


# --------------------------------------------------------------------------
# Deterministic shard deal + within-shard order (the "global shuffle"
# a trainer reads).
# --------------------------------------------------------------------------


def _shard_assignment_oracle(n_shards: int) -> str:
    return f"""
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h32
  FROM documents
)
SELECT doc_id,
       h32 % {n_shards} AS shard,
       ROW_NUMBER() OVER (PARTITION BY h32 % {n_shards}
                          ORDER BY h32, doc_id) AS pos
FROM h
"""


def shard_assignment(
    spark: SparkSession, sf_dir: str, n_shards: int = N_SHARDS
) -> DataFrame:
    """Hash-deal docs to ``n_shards`` with a deterministic within-shard
    order (sort by the same hash → pseudorandom but reproducible read
    order).  One hash-partition shuffle on ``shard`` + a local sort —
    exactly Spark's native repartition+sortWithinPartitions shape; no
    global ordering bottleneck.

    The window's parallelism IS ``n_shards``: each shard is one sort
    task.  A production deal therefore sizes n_shards to the cluster
    (hundreds to thousands — shards are also the trainer's read unit),
    never the driver-SF default of 8.  Only the parameter changes with
    scale, not the plan; ``tests/test_shards_properties.py`` pins the
    deal at 16 shards."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = docs.withColumn("h32", hash32(F.col("doc_id"))).withColumn(
        "shard", F.col("h32") % n_shards
    )
    w = Window.partitionBy("shard").orderBy("h32", "doc_id")
    return d.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


@query("doc_shard_assignment", oracle=_shard_assignment_oracle(N_SHARDS))
def doc_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-SF default deal (N_SHARDS=8) — see :func:`shard_assignment`."""
    return shard_assignment(spark, sf_dir, N_SHARDS)


# --------------------------------------------------------------------------
# Per-document pack-boundary metadata: the row-level face of the pack
# plan.  doc_pack_plan reports per-shard rollups; a tokenizer/loader
# additionally needs, PER DOCUMENT, which packed sequence it starts in,
# at what offset, and whether it spans a sequence boundary (the rows an
# attention-mask builder must split).  Same per-source cumsum as the
# plan (one window, identical offsets — the bucketed fold in
# doc_pack_plan_bucketed is the 100 TB variant of this same stage);
# everything after the cumsum is row-local modular arithmetic.
# --------------------------------------------------------------------------


@query(
    "doc_pack_offsets",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id, len({_TOKENS_SQL}) AS n_tokens FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_offset
  FROM t
)
SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(tok_offset // {SEQ_LEN} AS BIGINT) AS shard_id,
       CAST(tok_offset % {SEQ_LEN} AS BIGINT) AS offset_in_shard,
       CAST(CASE WHEN tok_offset % {SEQ_LEN} + n_tokens > {SEQ_LEN}
                 THEN 1 ELSE 0 END AS INT) AS spans_boundary
FROM c
""",
)
def doc_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, doc_id, n_tokens, shard_id, offset_in_shard,
    spans_boundary) — each document's position inside the packed
    SEQ_LEN-token sequences of its source: the metadata a loader uses
    to reconstruct document boundaries (and an attention-mask builder
    uses to split boundary-spanning rows) without re-tokenizing."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", F.size(tokenize("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn(
        "tok_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    off = F.col("tok_offset") % SEQ_LEN
    return c.select(
        "source",
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor(F.col("tok_offset") / SEQ_LEN).cast("bigint").alias("shard_id"),
        off.cast("bigint").alias("offset_in_shard"),
        (off + F.col("n_tokens") > SEQ_LEN).cast("int").alias("spans_boundary"),
    )


# --------------------------------------------------------------------------
# Materialized packed sequences: the actual loader input.  Where
# doc_pack_plan/doc_pack_offsets report the GEOMETRY of packing, this
# query emits the packed rows themselves — per source, the document
# token streams concatenated in doc_id order, vocab-encoded, and
# sliced into SEQ_LEN-id sequences.  The vocab is the corpus's global
# frequency-rank table (id 1 = most frequent token, ties broken by
# token text), the deterministic stand-in for a trained tokenizer —
# the BPE tier (queries/textmodel.bpe_encode_words) drops into the
# same packer by swapping the encode join.
# --------------------------------------------------------------------------


@query(
    "packed_token_sequences",
    bench=True,
    oracle=f"""
WITH t AS (
  SELECT source, doc_id, {_TOKENS_SQL} AS toks FROM documents
),
s AS (
  SELECT source, doc_id, toks[i] AS token, CAST(i AS BIGINT) AS pos
  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
),
v AS (
  SELECT token,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS tok_id
  FROM s GROUP BY token
),
n AS (SELECT source, doc_id, len(toks) AS n_tokens FROM t),
o AS (
  SELECT source, doc_id,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS tok_offset
  FROM n
),
g AS (
  SELECT s.source, o.tok_offset + s.pos - 1 AS gpos, v.tok_id
  FROM s JOIN o ON s.source = o.source AND s.doc_id = o.doc_id
  JOIN v USING (token)
)
SELECT source,
       CAST(gpos // {SEQ_LEN} AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_ids,
       md5(string_agg(CAST(tok_id AS VARCHAR), ' ' ORDER BY gpos))
         AS ids_md5,
       CAST(MIN(CASE WHEN gpos % {SEQ_LEN} = 0 THEN tok_id END) AS BIGINT)
         AS first_id,
       CAST(SUM(tok_id) AS BIGINT) AS ids_sum
FROM g
GROUP BY source, gpos // {SEQ_LEN}
""",
)
def packed_token_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, seq_id, n_ids, ids_md5, first_id, ids_sum) — every
    source's packed SEQ_LEN-id training sequences (the last one per
    source ragged), the id array carried as a portable md5 of the
    space-joined ids (the sketch-tier convention: array columns don't
    survive the driver's value comparator, hashes do) plus two cheap
    scalars.  :func:`packed_sequence_rows` returns the actual
    input_ids arrays for the loader/tests.

    Plan: ONE materialized posexplode of the corpus feeds both the
    vocab count (map-side combined, Zipf-collapsed) and the encode
    join (broadcast
    at driver SFs, hash join when the vocab outgrows it); per-doc
    offsets are the doc_pack_offsets cumsum (windowed per SOURCE, never
    global); the final group-by moves each id exactly once, keyed on
    (source, seq) — the one unavoidable shuffle, since packing IS a
    repartition of the token stream.  The vocab rank window is global
    but vocab-sized (the vocab_coverage_by_lang precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    # checkpoint the COMPACT array frame and re-derive the posexplode
    # per consumer (the doc_shared_shingle_stats lesson: materializing
    # exploded rows pays row-at-a-time storage on |tokens| rows; the
    # array frame is |docs| rows and the re-explode is cheap).  The
    # per-doc token count needs no explode at all — it is F.size(toks)
    # off the array frame (r12, guide §2.3; measured at sf0.1:
    # 0.84 → 0.71 s min, 0.91 → 0.74 s median).
    t = truncate(docs.select("source", "doc_id", tokenize("text").alias("toks")))
    s = t.select(
        "source",
        "doc_id",
        F.posexplode("toks").alias("pos0", "token"),
    )
    v = (
        s.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "tok_id",
            F.row_number().over(
                Window.orderBy(F.desc("freq"), F.asc("token"))
            ),
        )
        .select("token", "tok_id")
    )
    # greatest(size, 0): F.size of a NULL array is -1, which would
    # silently shift every later doc's tok_offset in the cumsum window
    # (ADVICE_r12) — null-text docs contribute zero tokens, like the
    # posexplode side where they simply emit no rows
    n = t.select(
        "source",
        "doc_id",
        F.greatest(F.size("toks"), F.lit(0)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = n.withColumn(
        "tok_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    ).select("source", "doc_id", "tok_offset")
    g = (
        s.join(o, ["source", "doc_id"])
        .join(v, "token")
        .select(
            "source",
            (F.col("tok_offset") + F.col("pos0")).alias("gpos"),
            "tok_id",
        )
    )
    return _md5_face(packed_sequence_rows(g))


def _md5_face(rows: DataFrame) -> DataFrame:
    """The driver-comparable projection of packed rows: the id array as
    a portable md5 of the space-joined ids plus two cheap scalars.  ONE
    definition — packed_token_sequences and packed_bpe_sequences must
    stay directly comparable."""
    return rows.select(
        "source",
        "seq_id",
        "n_ids",
        F.md5(
            F.concat_ws(
                " ", F.transform("input_ids", lambda x: x.cast("string"))
            )
        ).alias("ids_md5"),
        F.get("input_ids", 0).cast("bigint").alias("first_id"),
        F.aggregate(
            "input_ids", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("ids_sum"),
    )


def packed_sequence_rows(g: DataFrame) -> DataFrame:
    """(source, seq_id, n_ids, input_ids) from a (source, gpos,
    tok_id) global-position stream — the loader-facing rows; ids move
    exactly once, keyed on (source, seq)."""
    return g.groupBy(
        "source",
        F.floor(F.col("gpos") / SEQ_LEN).cast("bigint").alias("seq_id"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ids"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("gpos", "tok_id"))),
            lambda x: x.tok_id,
        ).alias("input_ids"),
    )


@query("packed_bpe_sequences")
def packed_bpe_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (consumes the iteratively learned BPE merges — the
    house rule for learner-derived outputs, like bpe_encode_summary):
    the packed-sequence face over SUBWORD ids instead of whitespace
    vocab ids — learn merges on the distinct-word table, encode it
    (Zipf-collapsed: the corpus never re-tokenizes), fan each doc's
    word stream out to symbol ids, pack with the SAME
    :func:`packed_sequence_rows` shuffle.  Output matches
    packed_token_sequences' md5-face schema, so the two tiers are
    directly comparable (BPE packs ~the compression ratio fewer
    sequences).

    Plan: the encode table joins on ``word`` (broadcast at driver SFs);
    per-doc symbol order is (word pos, symbol pos) — a per-DOC window,
    never global; offsets are the per-source cumsum.  Everything after
    the learner is one pass + the one packing shuffle."""
    from bigdatamlteamrepo_spark.functions.text import tokenize_words
    from bigdatamlteamrepo_spark.queries.textmodel import (
        bpe_encode_words,
        learn_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = truncate(
        docs.select(F.explode(tokenize_words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = [m[1] for m in learn_bpe_merges(words)]
    enc = bpe_encode_words(words, merges).select("word", "symbols")
    sym_vocab = (
        enc.select(F.explode("symbols").alias("sym"))
        .distinct()
        .withColumn("tok_id", F.row_number().over(Window.orderBy("sym")))
    )
    t = docs.select(
        "source", "doc_id",
        F.posexplode(tokenize_words("text")).alias("wpos", "word"),
    )
    # wsyms feeds both the per-doc count and the id stream — one
    # materialization (word fan-out + two joins are the heavy stage)
    wsyms = truncate(
        t.join(enc, "word")
        .select(
            "source", "doc_id", "wpos",
            F.posexplode("symbols").alias("spos", "sym"),
        )
        .join(sym_vocab, "sym")
    )
    per_doc = wsyms.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_syms")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = per_doc.withColumn(
        "doc_off", F.sum("n_syms").over(w) - F.col("n_syms")
    )
    win_doc = Window.partitionBy("source", "doc_id").orderBy("wpos", "spos")
    g = (
        wsyms.withColumn("in_doc", F.row_number().over(win_doc) - 1)
        .join(o.select("source", "doc_id", "doc_off"), ["source", "doc_id"])
        .select(
            "source",
            (F.col("doc_off") + F.col("in_doc")).alias("gpos"),
            "tok_id",
        )
    )
    return _md5_face(packed_sequence_rows(g))


@query(
    "packed_sequence_doc_starts",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id, len({_TOKENS_SQL}) AS n_tokens FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_offset
  FROM t
)
SELECT source,
       CAST(tok_offset // {SEQ_LEN} AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_doc_starts,
       CAST(MIN(tok_offset % {SEQ_LEN}) AS BIGINT) AS first_start,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
       md5(string_agg(CAST(tok_offset % {SEQ_LEN} AS VARCHAR), ' '
                      ORDER BY tok_offset)) AS starts_md5
FROM c
GROUP BY source, tok_offset // {SEQ_LEN}
""",
)
def packed_sequence_doc_starts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per packed sequence, the in-sequence offsets where documents
    START — the attention/loss-mask builder's input alongside
    packed_token_sequences (positions reset at each start; a sequence
    absent from this table — possible only when one doc exceeds
    SEQ_LEN — is wholly mid-document; first_start > 0 means the row
    opens mid-document).  The offset list travels as a portable md5
    (the packed-sequence face convention) plus cheap scalars.

    Plan: pure per-doc arithmetic over the doc_pack_offsets cumsum —
    no token explode at all; one source-partitioned window plus one
    (source, seq)-keyed rollup of doc-COUNT-sized rows."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", F.size(tokenize("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn(
        "tok_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        c.groupBy(
            "source",
            F.floor(F.col("tok_offset") / SEQ_LEN).cast("bigint").alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_doc_starts"),
            F.min(F.col("tok_offset") % SEQ_LEN)
            .cast("bigint")
            .alias("first_start"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "tok_offset",
                                    (F.col("tok_offset") % SEQ_LEN).alias("o"),
                                )
                            )
                        ),
                        lambda x: x.o.cast("string"),
                    ),
                )
            ).alias("starts_md5"),
        )
    )


# --------------------------------------------------------------------------
# Pack-efficiency sweep: the SEQ_LEN decision, quantified before any
# tokens are materialized.  For each candidate sequence length the two
# packing regimes trade off differently — concat-and-chop wastes zero
# padding but fragments documents across sequence boundaries (attention
# masks then cross documents or truncate context); doc-respecting
# padding keeps every document whole but pays padding waste.  Both
# costs are pure arithmetic over ONE per-source offset cumsum (the
# offsets don't depend on seq_len), so the whole sweep is the existing
# pack window plus a 4× row-local fan-out.
# --------------------------------------------------------------------------

_SWEEP_LENS = [512, 1024, 2048, 4096]


@query(
    "pack_efficiency_by_seqlen",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id, len({_TOKENS_SQL}) AS n_tokens FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_offset
  FROM t
),
l AS (SELECT unnest([{", ".join(str(x) for x in _SWEEP_LENS)}]) AS seq_len),
x AS (SELECT * FROM c CROSS JOIN l),
a AS (
  SELECT source, seq_len,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(CASE WHEN tok_offset % seq_len + n_tokens > seq_len
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_frag_docs,
         CAST(SUM((n_tokens + seq_len - 1) // seq_len) AS BIGINT) AS n_seqs_pad
  FROM x GROUP BY source, seq_len
)
SELECT source, seq_len, n_docs, total_tokens,
       CAST((total_tokens + seq_len - 1) // seq_len AS BIGINT) AS n_seqs_chop,
       n_frag_docs, n_seqs_pad,
       1.0 - CAST(total_tokens AS DOUBLE) / (n_seqs_pad * seq_len)
         AS pad_waste_frac
FROM a
""",
)
def pack_efficiency_by_seqlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, seq_len ∈ {512, 1024, 2048, 4096}): sequence counts
    and costs under both packing regimes — ``n_seqs_chop`` /
    ``n_frag_docs`` (concat-and-chop: zero padding, fragmented docs)
    vs ``n_seqs_pad`` / ``pad_waste_frac`` (doc-respecting one-doc-
    per-ceil(len/L)-sequences padding: whole docs, wasted tokens).

    Plan: the offset cumsum is seq_len-independent, so it runs ONCE
    (same window as doc_pack_plan — per-source parallelism, bucketed
    variant available for single-source corpora); the sweep is a
    4-element literal explode and a constant-cardinality rollup.  All
    outputs are integer arithmetic except the final ratio —
    integer-over-integer, bit-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", F.size(tokenize("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn(
        "tok_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    x = c.withColumn(
        "seq_len", F.explode(F.array(*[F.lit(L) for L in _SWEEP_LENS]))
    )
    frag = (
        F.col("tok_offset") % F.col("seq_len") + F.col("n_tokens")
        > F.col("seq_len")
    ).cast("long")
    a = x.groupBy("source", "seq_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(frag).cast("bigint").alias("n_frag_docs"),
        F.sum(
            F.expr("(n_tokens + seq_len - 1) div seq_len")
        ).cast("bigint").alias("n_seqs_pad"),
    )
    return a.select(
        "source",
        "seq_len",
        "n_docs",
        "total_tokens",
        F.expr(
            "CAST((total_tokens + seq_len - 1) div seq_len AS BIGINT)"
        ).alias("n_seqs_chop"),
        "n_frag_docs",
        "n_seqs_pad",
        (
            F.lit(1.0)
            - F.col("total_tokens").cast("double")
            / (F.col("n_seqs_pad") * F.col("seq_len"))
        ).alias("pad_waste_frac"),
    )

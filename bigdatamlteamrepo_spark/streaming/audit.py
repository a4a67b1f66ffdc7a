"""Streaming corpus-quality audit: the Gopher rule rollup over a
document STREAM — byte-identical logic to the batch query.

``queries.pipeline.gopher_rule_flags`` is pure column expressions, so
the exact same function body drives both the batch ``doc_gopher_rules``
query and this streaming aggregation — the "write once, run in both
modes" property the engine maintains across its streaming surface
(tumbling/sliding/session windows, HLL, funnel).  The per-source
counts are an unwatermarked running aggregation: state is one row per
(source), bounded by the source-domain cardinality, emitted in
complete/update mode as an ingest monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import TABLE_SCHEMAS


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents layout (pinned schema —
    no inference pass, exactly as the batch loader)."""
    # file-stream source requires a directory basePath; select the
    # single documents file with a glob filter (as read_events_stream)
    return (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def gopher_audit_stream(docs_stream: DataFrame) -> DataFrame:
    """Per-source running Gopher audit of a document stream; reuses the
    batch rule expressions verbatim."""
    from bigdatamlteamrepo_spark.queries.pipeline import (
        gopher_pass,
        gopher_rule_flags,
    )

    r = gopher_rule_flags(docs_stream, "source")
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_words").cast("bigint").alias("fail_word_count"),
        F.sum("f_mwl").cast("bigint").alias("fail_mean_word_len"),
        F.sum("f_alpha").cast("bigint").alias("fail_alpha_frac"),
        F.sum("f_stop").cast("bigint").alias("fail_stopwords"),
        F.sum("f_longword").cast("bigint").alias("fail_long_word"),
        F.sum(gopher_pass()).cast("bigint").alias("pass_all"),
    )


def datacard_running(docs: DataFrame, p: int = 6) -> DataFrame:
    """The data card as a RUNNING per-source aggregation — one builder
    for both modes (batch frame in, batch card out; stream in,
    complete/update-mode monitor out), so stream ≡ batch by
    construction (pinned in tests/test_streaming_datacard.py).

    Differences from the batch-only ``corpus_datacard`` query, both
    forced by the streaming single-aggregation rule: distinct text
    count is a 2^p-register HLL (exact streaming distinct would hold
    unbounded per-source state; the registers are conditional MAXes —
    associative, fold-safe), and the domain is Gopher's (docs with ≥ 1
    token) because the pass flags ride the same single agg.  Sums and
    the decimal-quantized TTR mean are exact in both modes.  (Each row
    tokenizes twice — once for the local stats, once inside
    gopher_rule_flags; row-local, and the monitor's per-trigger input
    is micro-batch-sized.)"""
    from bigdatamlteamrepo_spark.functions.numeric import dsum
    from bigdatamlteamrepo_spark.functions.text import tokenize
    from bigdatamlteamrepo_spark.operators.sketches import (
        h60,
        hll_agg_exprs,
        hll_agg_finalize,
    )
    from bigdatamlteamrepo_spark.queries.pipeline import (
        gopher_pass,
        gopher_rule_flags,
    )

    toks = tokenize("text")
    pre = docs.select(
        "source",
        "n_chars",
        "text",
        h60(F.col("text")).alias("__h"),
        F.size(toks).alias("__n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)).cast("double")
        ).alias("__ttr"),
    )
    flags = gopher_rule_flags(
        pre, "source", "n_chars", "__h", "__n_tokens", "__ttr"
    )
    regs = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("__n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(gopher_pass()).cast("bigint").alias("n_gopher_pass"),
        dsum("__ttr", 9).alias("__ttr_sum"),
        *hll_agg_exprs(F.col("__h"), p),
    )
    return regs.select(
        "source",
        "n_docs",
        "total_chars",
        "total_tokens",
        (
            F.col("n_gopher_pass").cast("double") / F.col("n_docs")
        ).alias("gopher_pass_rate"),
        (F.col("__ttr_sum") / F.col("n_docs")).alias("mean_type_token_ratio"),
        hll_agg_finalize(p).alias("approx_distinct_texts"),
    )

"""Streaming model-based quality scoring: score (and optionally
filter) a documents stream against a FROZEN quality classifier.

The model is fit in batch (``ml.quality.train_quality_classifier``)
and deployed as DATA — the (term, weight) parquet table written by
``save_quality_weights``.  Each trigger then runs the identical
expression plan the batch scorer uses (``score_with_weights``: explode
terms → broadcast-join the weights table → per-doc ``Σ tf·w + b`` →
sigmoid), so stream and batch scores are equal by construction, not by
approximation: scoring is per-document row-local given the broadcast
model, and documents arrive whole within a micro-batch.

Mechanics mirror ``streaming.ingest``/``streaming.drift``: foreachBatch
with batch-scoped overwrite subdirectories namespaced by the checkpoint
location, so at-least-once replays land exactly once.

Scale: the weights table is vocab-sized (constant, a few thousand rows
— broadcast); per-trigger work is one scan of the micro-batch, one
doc-keyed partial-aggregated sum, zero stream-to-stream shuffle and no
maintained state.  This is the shape of corpus-curation scoring at
ingest time: the 100 TB firehose never lands unscored.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.ml.quality import (
    load_quality_weights,
    score_with_weights,
)
from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.streaming.ingest import _batch_tag, _join


def score_quality_stream(
    stream_docs: DataFrame,
    weights_dir: str,
    scores_dir: str,
    checkpoint_dir: str,
    threshold: float | None = None,
):
    """Wire a streaming documents source into the frozen scorer: per
    trigger, write ``(doc_id, source, quality_prob)`` for the batch's
    docs to a batch-scoped subdirectory of ``scores_dir``.  With
    ``threshold`` set, only docs scoring ``>= threshold`` are written —
    the streaming form of the pipeline's model-quality gate.  Docs
    whose text yields zero terms score ``sigmoid(b)`` exactly like the
    batch path.  Returns the started query."""
    spark = stream_docs.sparkSession
    weights, intercept = load_quality_weights(spark, weights_dir)
    # the model is frozen for the life of the stream: materialize the
    # vocab-sized table once, not once per trigger
    weights = truncate(weights)
    ns = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]

    def _process(batch: DataFrame, batch_id: int) -> None:
        scored = score_with_weights(batch, weights, intercept).join(
            batch.select("doc_id", "source"), "doc_id"
        )
        if threshold is not None:
            scored = scored.filter(F.col("quality_prob") >= threshold)
        scored.select("doc_id", "source", "quality_prob").write.mode(
            "overwrite"
        ).parquet(_join(scores_dir, _batch_tag(batch_id, ns)))

    return (
        stream_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_stream_scores(spark: SparkSession, scores_dir: str) -> DataFrame:
    """The union of every trigger's scores so far."""
    return (
        spark.read.schema("doc_id bigint, source string, quality_prob double")
        .option("recursiveFileLookup", "true")
        .parquet(scores_dir)
    )

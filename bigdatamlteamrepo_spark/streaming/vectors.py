"""Streaming maintenance of the persisted IVF-PQ index
(operators/pq.build_ivfpq_index): newly arriving vectors are assigned
to the index's FROZEN coarse cells, PQ-encoded against its FROZEN
codebooks, and appended as batch-scoped increments that the query path
(pq.read_index_part → ivfpq_index_topk / semdedup_from_index) unions
with the partitioned base — so ANN search and SemDeDup stay fresh
without ever re-running a KMeans fit.

Freezing the quantizer is the production contract (FAISS's add-after-
train): assignment/encode are deterministic folds over the persisted
``centroids/`` and ``codebooks/`` tables, so a replayed batch writes
byte-identical rows, and stream ≡ batch-append holds by construction
(pinned in tests/test_streaming_vectors.py).  Drift is the operator's
job to monitor (cell-occupancy skew says when to re-train and rebuild).

Exactly-once on the at-least-once runtime reuses the ingest discipline
(streaming/ingest.py): every trigger writes ``<table>_inc/b<ns>-<id>/``
with overwrite semantics, a replay first deletes its own subdirs, the
namespace derives from the checkpoint location, and compaction folds
increments into the cell-partitioned base behind the single-compactor
lease with the same rename-swap + heal windows as the inverted-index
compactor (streaming/index.py).

Scale: per batch the work is |batch| × n_cells distance folds (one
broadcast of the K-row centroid table) and |batch| × m × k codebook
folds — no corpus rescan; increments are cell-sorted so probed-cell
reads prune their row groups until compaction restores directory-level
partition pruning.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.functions.vectors import l2_sq
from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.operators.pq import (
    PQ_M,
    PQ_SUB,
    _PART_SCHEMAS,
    pq_encode,
)
from bigdatamlteamrepo_spark.streaming.ingest import (
    _acquire_compaction_lease,
    _batch_tag,
    _delete,
    _exists,
    _join,
    _kept_newest,
    _list_children,
    _ns_checkpoint_alive,
    _read_text,
    _record_namespace,
    _release_compaction_lease,
    _rename,
    _tag_batch_id,
    _write_text,
)

_TABLES = ("codes", "vectors")


def assign_cells(batch: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell): nearest frozen centroid by L2², ties
    to the lowest cell id — the KMeans.transform assignment rule as a
    deterministic expression, so replays and the batch/stream twins
    agree bit-for-bit."""
    j = batch.select("vec_id", "embedding").crossJoin(F.broadcast(centroids))
    d2 = l2_sq(F.col("embedding").cast("array<double>"), F.col("center"))
    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    return (
        j.select("vec_id", "embedding", "cell", d2.alias("d2"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", "embedding", "cell")
    )


def append_vectors_batch(
    batch: DataFrame,
    index_dir: str,
    batch_id: int | None = None,
    namespace: str = "",
    m: int = PQ_M,
    sub: int = PQ_SUB,
) -> None:
    """Fold one batch of (vec_id, embedding) into the index: frozen-
    quantizer cell assignment + PQ encode, landed as ``codes_inc`` /
    ``vectors_inc`` increments.  With a ``batch_id`` the writes go to
    an overwrite-semantics subdirectory named by (namespace, batch_id)
    — replay-idempotent; without one they append (batch-mode backfill).
    Rows are sorted by cell within files so probed-cell reads prune row
    groups even before compaction."""
    spark = batch.sparkSession
    centroids = spark.read.parquet(_join(index_dir, "centroids"))
    books = spark.read.parquet(_join(index_dir, "codebooks"))
    assigned = truncate(assign_cells(batch, centroids))
    codes = (
        pq_encode(batch, books, m, sub)
        .join(assigned.select("vec_id", "cell"), "vec_id")
        .select(
            F.col("vec_id").cast("long"),
            F.col("s").cast("int"),
            F.col("code").cast("int"),
            F.col("cell").cast("int"),
        )
    )
    vectors = assigned.select(
        F.col("vec_id").cast("long"),
        F.col("embedding").cast("array<float>").alias("embedding"),
        F.col("cell").cast("int"),
    )
    for table, frame in (("codes", codes), ("vectors", vectors)):
        root = _join(index_dir, f"{table}_inc")
        out = frame.sortWithinPartitions("cell")
        if batch_id is not None:
            out.write.mode("overwrite").parquet(
                _join(root, _batch_tag(batch_id, namespace))
            )
        else:
            out.write.mode("append").parquet(_join(root, "backfill"))


def incremental_vector_index_stream(
    stream_vecs: DataFrame, index_dir: str, checkpoint_dir: str
):
    """Wire a streaming (vec_id, embedding) source into the index: per
    trigger the batch's codes/vectors contributions land in batch-
    scoped overwrite subdirectories namespaced by the checkpoint
    location; a replayed trigger first deletes its own subdirs, so the
    at-least-once runtime lands each batch exactly once.  Returns the
    started query."""
    spark = stream_vecs.sparkSession
    ns = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]
    _record_namespace(spark, index_dir, ns, checkpoint_dir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        for table in _TABLES:
            partial = _join(index_dir, f"{table}_inc", _batch_tag(batch_id, ns))
            if _exists(spark, partial):
                _delete(spark, partial)
        append_vectors_batch(batch, index_dir, batch_id=batch_id, namespace=ns)

    return (
        stream_vecs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cell_occupancy(spark: SparkSession, index_dir: str) -> DataFrame:
    """(cell, n_base, n_streamed): occupancy of the partitioned base vs
    the not-yet-compacted increments — the operational face of the
    frozen-quantizer drift monitor (the registered corpus-level twin is
    ``embedding_cell_occupancy_drift``).  A cell whose streamed share
    runs far from its base share is the re-train signal.  Metadata-
    cheap: two per-cell counts, no vector math."""
    from bigdatamlteamrepo_spark.operators.pq import _PART_SCHEMAS

    base_dir = _join(index_dir, "vectors")
    base = (
        spark.read.parquet(base_dir).groupBy("cell").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_base")
        )
        if _exists(spark, base_dir)
        else None
    )
    inc_root = _join(index_dir, "vectors_inc")
    subs = (
        sorted(c[1] for c in _list_children(spark, inc_root) if c[2])
        if _exists(spark, inc_root)
        else []
    )
    inc = (
        spark.read.schema(_PART_SCHEMAS["vectors"])
        .option("recursiveFileLookup", "true")
        .parquet(*subs)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_streamed"))
        if subs
        else None
    )
    if base is None and inc is None:
        raise FileNotFoundError(f"no vectors at {index_dir}")
    if base is None:
        return inc.withColumn("n_base", F.lit(0).cast("bigint")).select(
            "cell", "n_base", "n_streamed"
        )
    if inc is None:
        return base.withColumn("n_streamed", F.lit(0).cast("bigint"))
    return (
        base.join(inc, "cell", "full_outer")
        .select(
            "cell",
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_streamed", F.lit(0)).cast("bigint").alias("n_streamed"),
        )
    )


def _heal_vector_index(spark: SparkSession, index_dir: str) -> None:
    """Recover an interrupted compaction — the streaming/index.py heal
    windows applied to the codes/vectors layout (write order per table:
    tmp → manifest → base→old → tmp→base → delete incs → delete old →
    delete manifest)."""
    for table in _TABLES:
        base = _join(index_dir, table)
        tmp, old, man = base + ".compacting", base + ".old", base + ".folded"
        tmp_present = _exists(spark, tmp)
        if tmp_present:
            _delete(spark, tmp)

        def _drop_folded() -> None:
            if _exists(spark, man):
                for sub_name in _read_text(spark, man).split():
                    p = _join(index_dir, f"{table}_inc", sub_name)
                    if _exists(spark, p):
                        _delete(spark, p)

        if _exists(spark, old):
            if not _exists(spark, base):
                _rename(spark, old, base)
            else:
                _drop_folded()
                _delete(spark, old)
        elif not tmp_present and _exists(spark, man) and _exists(spark, base):
            _drop_folded()
        if _exists(spark, man):
            _delete(spark, man)


def compact_vector_index(
    spark: SparkSession,
    index_dir: str,
    keep_last: int = 1,
    retire_after_sec: float | None = None,
) -> dict[str, int]:
    """Fold codes/vectors increments into the cell-PARTITIONED base —
    restoring directory-level partition pruning for probed-cell reads —
    behind the single-compactor lease, preserving the ``keep_last``
    newest increments per checkpoint namespace (the replayable-batch
    rule, streaming/ingest.py) and honoring ``retire_after_sec`` with
    checkpoint-liveness verification.  Rename-swap + heal-first, the
    exact streaming/index.py crash-window contract.  Returns folded-
    increment counts per table."""
    lease = _acquire_compaction_lease(spark, index_dir)
    try:
        return _compact_vector_index_locked(
            spark, index_dir, keep_last, retire_after_sec
        )
    finally:
        _release_compaction_lease(spark, lease)


def _compact_vector_index_locked(
    spark: SparkSession,
    index_dir: str,
    keep_last: int,
    retire_after_sec: float | None,
) -> dict[str, int]:
    _heal_vector_index(spark, index_dir)
    alive = (
        _ns_checkpoint_alive(spark, index_dir)
        if retire_after_sec is not None
        else None
    )
    out: dict[str, int] = {}
    for table in _TABLES:
        root = _join(index_dir, f"{table}_inc")
        if not _exists(spark, root):
            continue
        subs = sorted(
            [c for c in _list_children(spark, root) if c[2]],
            key=lambda c: (_tag_batch_id(c[0]), c[3], c[0]),
        )
        kept = _kept_newest(subs, keep_last, retire_after_sec, alive)
        fold = [c for c in subs if c[0] not in kept]
        if not fold:
            continue
        base = _join(index_dir, table)
        tmp, old, man = base + ".compacting", base + ".old", base + ".folded"
        inc_rows = (
            spark.read.schema(_PART_SCHEMAS[table])
            .option("recursiveFileLookup", "true")
            .parquet(*[c[1] for c in fold])
        )
        merged = (
            spark.read.parquet(base).unionByName(inc_rows)
            if _exists(spark, base)
            else inc_rows
        )
        (
            merged.repartition("cell")
            .sortWithinPartitions("vec_id")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp)
        )
        _write_text(spark, man, "\n".join(c[0] for c in fold))
        if _exists(spark, base):
            _rename(spark, base, old)
        _rename(spark, tmp, base)
        for c in fold:
            _delete(spark, c[1])
        if _exists(spark, old):
            _delete(spark, old)
        _delete(spark, man)
        out[table] = len(fold)
    return out

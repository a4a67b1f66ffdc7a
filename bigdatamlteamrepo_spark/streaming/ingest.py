"""Streaming incremental corpus ingest: the full curation gate
(Gopher → exact dedup → LSH near-dup) applied per micro-batch against
PERSISTED index tables that the stream itself maintains — the
continuously-running form of the batch capstone
(queries/textmodel.corpus_incremental_build_summary).

Why ``foreachBatch`` and not stateful operators: one ingest decision
needs a gopher scan, two grouped aggregations, three equi-joins and an
anti-join — far outside what append-mode streaming or
``applyInPandasWithState`` can express, and the index is shared
corpus-wide state, not per-key state.  ``foreachBatch`` hands each
micro-batch over as a static DataFrame, so the EXACT batch
implementation (queries/textmodel.batch_ingest_stages) runs unchanged
and stream ≡ sequential-batch-fold holds by construction (pinned in
tests/test_streaming_ingest.py).

Exactly-once on an at-least-once runtime: every write lands in a
batch-scoped subdirectory (``b<ns>-<batch_id>/``, ns derived from the
checkpoint location so a fresh checkpoint can never collide with an
older run's contributions) with overwrite semantics, and a replayed
trigger first DELETES its own subdirectories — so a crash between the
decisions write and the index fold replays cleanly.  Compaction
preserves the newest batch subdirectory per table: the only batch an
at-least-once restart can replay is the last uncommitted one, and its
replay marker must survive the fold (see compact_ingest_indexes).
Tables are read with ``recursiveFileLookup`` (plain appends from
batch-mode callers and batch subdirectories coexist).

All path operations go through the Hadoop FileSystem API, so
``index_dir`` may live on any supported scheme (file://, hdfs://,
s3a://) — never ``os.path`` probes, which read every remote path as
absent (the silently-empty-index trap).

Semantics note: sequential ingest is STRICTER than the one-shot batch
query.  Every arriving doc joins the index (ingested = seen, the
conservative reading — a rejected doc's content still counts as known),
so a later micro-batch's doc near-duplicating an earlier REJECTED doc
is dropped, where the batch-at-once min-id rule would keep it.  On a
single micro-batch the two coincide exactly (pinned in tests).

Scale: per micro-batch cost is O(|batch|) hash/signature work plus
equi-joins against the index tables; the index grows by |batch| rows
per trigger and never rescans.  At 100 TB the band table is bucketed by
``band`` and the key table by ``(lang, h)`` so the probe side shuffles
only the batch (lsh_band_rows documents the layout); here the indexes
are parquet directories — the local stand-in for the same contract.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.queries.text_dedup import (
    doc_shingle_sets,
    lsh_band_rows,
)
from bigdatamlteamrepo_spark.queries.textmodel import batch_ingest_stages

#: index subdirectories: md5 content keys, LSH band rows, shingle sets
_KEYS, _BANDS, _SETS = "keys", "bands", "sets"
_TABLES = (_KEYS, _BANDS, _SETS)

_EMPTY = {
    _KEYS: "lang string, h string",
    _BANDS: "doc_id bigint, band string",
    _SETS: "doc_id bigint, s array<string>",
}

#: per-table sort key for compaction (row-group min/max pruning on the
#: probe joins)
_SORT = {_KEYS: ("lang", "h"), _BANDS: ("band",), _SETS: ("doc_id",)}


# --------------------------------------------------------------------------
# Hadoop-FS path helpers (scheme-agnostic: file://, hdfs://, s3a://...)
# --------------------------------------------------------------------------


def _fs_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf), p, jvm


def _exists(spark: SparkSession, path: str) -> bool:
    fs, p, _ = _fs_path(spark, path)
    return fs.exists(p)


def _delete(spark: SparkSession, path: str) -> None:
    fs, p, _ = _fs_path(spark, path)
    fs.delete(p, True)


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, p, jvm = _fs_path(spark, src)
    if not fs.rename(p, jvm.org.apache.hadoop.fs.Path(dst)):
        raise OSError(f"rename failed: {src} -> {dst}")


def _join(*parts: str) -> str:
    return "/".join(x.rstrip("/") for x in parts)


def _list_children(spark: SparkSession, path: str):
    """[(name, full_path, is_dir, mtime)] of a directory's children."""
    fs, p, _ = _fs_path(spark, path)
    out = []
    for st in fs.listStatus(p):
        out.append(
            (
                st.getPath().getName(),
                st.getPath().toString(),
                st.isDirectory(),
                st.getModificationTime(),
            )
        )
    return out


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Small control file (e.g. the compaction fold manifest) written
    atomically enough for recovery: create-overwrite + close."""
    fs, p, _ = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    # NB: py4j passes a COPY of a Python bytearray into
    # InputStream.read(byte[]) — the Java-side fill never reaches
    # Python — so drain the stream JVM-side via commons-io (shipped
    # with Hadoop) and let py4j convert the returned byte[].
    fs, p, jvm = _fs_path(spark, path)
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def _tag_batch_id(name: str) -> int:
    """Numeric batch id parsed from a batch-tag subdirectory name
    (``b{id}`` / ``b{ns}-{id}``), -1 for non-conforming names.  Used as
    the PRIMARY newest-batch sort key: mtime alone ties under coarse
    filesystem timestamp granularity, and a lexicographic tiebreak
    orders b10 before b2 — folding the truly-newest (replayable) batch
    and double-counting its replay."""
    tail = name.rsplit("-", 1)[-1]
    if tail.startswith("b"):
        tail = tail[1:]
    try:
        return int(tail)
    except ValueError:
        return -1


def _batch_tag(batch_id: int, namespace: str = "") -> str:
    return f"b{namespace}-{batch_id}" if namespace else f"b{batch_id}"


class CompactionLeaseHeld(RuntimeError):
    """Another compactor holds the lease on this index directory."""


#: a lease older than this is treated as a crashed compactor's leftover
#: and stolen; compactions here run minutes, so 15 min is generous
_LEASE_TTL_SEC = 900


def _acquire_compaction_lease(
    spark: SparkSession, root: str, ttl_sec: int = _LEASE_TTL_SEC
) -> tuple[str, str]:
    """Take the single-compactor lease on ``root`` (VERDICT_r7 #6).

    Compaction's crash-safety story (manifest + rename-swap + heal)
    assumes ONE maintainer: two compactors interleaving their swaps can
    each fold the other's kept increments.  The lease makes the
    contract explicit — a marker file created with create-if-absent; a
    second compactor raises :class:`CompactionLeaseHeld` instead of
    corrupting.  A lease older than *ttl_sec* belongs to a crashed
    compactor (the heal path would recover its partial state anyway)
    and is STOLEN VIA RENAME: rename is the FileSystem API's atomic
    primitive, so when several contenders see the same stale lease only
    the one whose rename succeeds proceeds — a delete+create steal
    would let a second contender delete the winner's fresh lease.
    Residual honesty: ``create(overwrite=False)`` is check-then-create
    on the local filesystem (atomic on HDFS), and a compaction that
    legitimately outlives the TTL can have its live lease stolen — the
    lease is an operational guardrail against double-maintainers, not a
    distributed lock manager; size *ttl_sec* above the worst compaction
    wall.  The lease body is a unique OWNER TOKEN (pid + nanotime +
    nonce): release compares the token before deleting, so an
    over-TTL compactor whose lease was stolen can no longer delete the
    new holder's fresh lease on its way out (ADVICE_r8 #1) — the
    original double-compactor window stays open only between the
    stolen-from compactor's read and delete, a microsecond-scale race
    vs the previous always-delete.  Live triggers are NOT gated:
    increment writes land in batch-scoped subdirectories and never
    touch the swap (pinned in
    tests/test_streaming_index.py::test_trigger_during_interrupted_compaction).

    Returns ``(lease_path, owner_token)`` — pass the pair to
    :func:`_release_compaction_lease`.
    """
    import os as _os
    import secrets as _secrets
    import time as _time

    lease = _join(root, "_compaction.lease")
    fs, p, jvm = _fs_path(spark, lease)
    if fs.exists(p):
        age_ms = int(_time.time() * 1000) - fs.getFileStatus(
            p
        ).getModificationTime()
        if age_ms < ttl_sec * 1000:
            raise CompactionLeaseHeld(
                f"compaction lease on {root} held for {age_ms / 1000:.0f}s "
                f"(ttl {ttl_sec}s) — a second concurrent compactor is out "
                "of contract"
            )
        # stale: steal by rename — exactly one contender's rename wins
        steal = jvm.org.apache.hadoop.fs.Path(
            f"{lease}.steal-{_os.getpid()}-{_time.time_ns()}"
        )
        if not fs.rename(p, steal):
            raise CompactionLeaseHeld(
                f"stale compaction lease on {root} stolen by a "
                "concurrent contender"
            )
        fs.delete(steal, False)
    token = f"{_os.getpid()}-{_time.time_ns()}-{_secrets.token_hex(8)}"
    try:
        out = fs.create(p, False)  # create-if-absent
        try:
            out.write(bytearray(token.encode("utf-8")))
        finally:
            out.close()
    except Exception as ex:  # create-if-absent lost the race
        raise CompactionLeaseHeld(
            f"compaction lease on {root} taken concurrently: {ex}"
        ) from None
    return lease, token


def _release_compaction_lease(
    spark: SparkSession, lease: tuple[str, str]
) -> None:
    """Release an acquired lease — ``lease`` is the ``(path, token)``
    pair from :func:`_acquire_compaction_lease`.  The file is
    read-and-compared first: a mismatch means a contender stole the
    lease past its TTL and the fresh lease is THEIRS — deleting it
    would re-open the double-compactor window (ADVICE_r8 #1), so
    release becomes a no-op."""
    path, token = lease
    try:
        current = _read_text(spark, path)
    except Exception:
        return  # lease already gone (stolen + released): nothing to do
    if current != token:
        return  # stolen by a contender — the fresh lease is theirs
    fs, p, _ = _fs_path(spark, path)
    fs.delete(p, False)


def _tag_namespace(name: str) -> str:
    """Checkpoint namespace of a batch-tag subdirectory name
    (``b{ns}-{id}`` → ``b{ns}``; un-namespaced ``b{id}`` → ``""``).
    Namespaces are dash-free md5 prefixes, so the last dash is the
    separator."""
    return name.rsplit("-", 1)[0] if "-" in name else ""


#: subdirectory of an index dir holding one marker file per checkpoint
#: namespace, body = the checkpoint location — lets compaction verify a
#: namespace's checkpoint is really gone before retiring it
_NS_DIR = "_namespaces"


def _record_namespace(
    spark: SparkSession, index_dir: str, ns: str, checkpoint_dir: str
) -> None:
    """Marker ``<index_dir>/_namespaces/<ns>`` → checkpoint location,
    written when a stream is wired up, so ``retire_after_sec`` can
    check checkpoint liveness instead of trusting mtime alone
    (ADVICE_r8 #2)."""
    _write_text(spark, _join(index_dir, _NS_DIR, ns), checkpoint_dir)


def _ns_checkpoint_alive(spark: SparkSession, index_dir: str):
    """→ ``alive(ns)`` callable: True (checkpoint dir still exists —
    the stream can restart and replay, never retire), False (marker
    present, checkpoint gone — safe to retire), None (no marker:
    hand-built namespace, fall back to the mtime-only horizon, which
    then must exceed the max trigger gap plus clock skew)."""
    marks: dict[str, str] = {}
    root = _join(index_dir, _NS_DIR)
    if _exists(spark, root):
        for name, full, is_dir, _ in _list_children(spark, root):
            if not is_dir:
                marks[name] = _read_text(spark, full)

    def alive(ns: str):
        ck = marks.get(ns)
        return None if ck is None else _exists(spark, ck)

    return alive


def _kept_newest(
    subdirs: list,
    keep_last: int,
    retire_after_sec: float | None = None,
    ckpt_alive=None,
) -> set:
    """Names of the ``keep_last`` NEWEST batch subdirectories PER
    CHECKPOINT NAMESPACE (ADVICE_r7): batch ids restart at 0 per
    checkpoint, so a single global newest-by-id sort would let a dead
    run's high-id batch displace the live stream's replayable newest
    batch — folding it means its at-least-once replay recreates the
    subdir and double-counts rows already folded into the base.
    ``subdirs`` entries are ``(name, path, is_dir, mtime)``; within a
    namespace, newest = max (batch_id, mtime, name) — id primary,
    mtime only as tiebreak.

    Per-namespace protection means a RETIRED stream's newest batch
    would otherwise survive forever (every restart mints a fresh
    namespace).  ``retire_after_sec`` bounds that: a namespace whose
    newest subdir is older than the horizon loses protection, so
    compaction eventually drains dead namespaces completely.  None
    (the default) keeps the conservative keep-everything behavior.

    mtime-vs-wall-clock alone can misfire on a live-but-idle stream
    (ADVICE_r8 #2), so when ``ckpt_alive`` is provided (built by
    :func:`_ns_checkpoint_alive` from the ``_namespaces`` markers)
    the horizon only retires a namespace whose checkpoint directory is
    VERIFIED absent (``alive(ns) is False``) or unknown (no marker —
    hand-built namespaces keep the legacy mtime-only contract, where
    ``retire_after_sec`` must exceed the max trigger gap plus clock
    skew); a namespace whose checkpoint still exists stays protected
    no matter how stale its newest batch looks."""
    if not keep_last:
        return set()
    import time as _time

    horizon_ms = (
        _time.time() * 1000 - retire_after_sec * 1000
        if retire_after_sec is not None
        else None
    )
    by_ns: dict[str, list] = {}
    for c in subdirs:
        by_ns.setdefault(_tag_namespace(c[0]), []).append(c)
    kept: set = set()
    for ns, group in by_ns.items():
        group.sort(key=lambda c: (_tag_batch_id(c[0]), c[3], c[0]))
        if horizon_ms is not None and group[-1][3] < horizon_ms:
            # tag namespaces carry the "b" prefix (b{ns}-{id}); the
            # _namespaces markers use the bare ns
            bare = ns[1:] if ns.startswith("b") else ns
            alive = ckpt_alive(bare) if ckpt_alive is not None else None
            if alive is not True:
                continue  # retired namespace: fold everything
        kept.update(c[0] for c in group[-keep_last:])
    return kept


# --------------------------------------------------------------------------
# Index build / read / fold
# --------------------------------------------------------------------------


def _batch_frames(batch: DataFrame) -> dict[str, DataFrame]:
    """The batch's index contributions, shingle sets computed ONCE and
    shared between the band rows and the caller (persisted — caller
    unpersists after its writes/decisions materialize)."""
    sets = doc_shingle_sets(batch).persist()
    return {
        _KEYS: batch.select("lang", F.md5("text").alias("h")),
        _BANDS: lsh_band_rows(sets, F.col("s")),
        _SETS: sets,
    }


def build_ingest_indexes(docs: DataFrame, index_dir: str) -> None:
    """Seed the persisted index tables from an already-ingested corpus
    (one-time backfill; after this the stream maintains them)."""
    frames = _batch_frames(docs)
    for sub in _TABLES:
        frames[sub].write.mode("overwrite").parquet(_join(index_dir, sub))
    frames[_SETS].unpersist()


def _read_index(spark: SparkSession, index_dir: str, sub: str) -> DataFrame:
    """One index table, or a typed empty frame for a genuinely
    never-seeded path.  Any OTHER read failure propagates: silently
    treating a broken index as empty would accept every duplicate in
    the corpus (and an interrupted compaction leaves a recoverable
    ``.old`` sibling that must not be mistaken for 'unseeded')."""
    path = _join(index_dir, sub)
    if not _exists(spark, path):
        for leftover in (path + ".old", path + ".compacting"):
            if _exists(spark, leftover):
                raise RuntimeError(
                    f"index table {path} missing but {leftover} exists — "
                    "interrupted compaction; run compact_ingest_indexes "
                    "(self-healing) or restore it before resuming"
                )
        return spark.createDataFrame([], _EMPTY[sub])
    return (
        spark.read.schema(_EMPTY[sub])
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def ingest_decisions(
    batch: DataFrame,
    spark: SparkSession,
    index_dir: str,
    frames: dict[str, DataFrame] | None = None,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, source, n_chars, decision) for one batch of arriving
    docs against the CURRENT index tables.  ``decision``:
    ``gopher_fail`` | ``exact_dup`` | ``near_dup`` | ``accepted``
    (first failing stage, the doc_quality_filter routing convention);
    with ``eval_grams`` (the broadcast eval-suite gram frame,
    queries/pipeline.eval_gram_frame) an ``eval_contaminated`` decision
    gates survivors sharing any exact 8-gram with the eval set.
    Pure read — index maintenance is :func:`append_to_indexes`.
    ``frames`` optionally carries :func:`_batch_frames` output so the
    batch's sets/bands are computed once per trigger."""
    index_keys = _read_index(spark, index_dir, _KEYS).distinct()
    index_bands = _read_index(spark, index_dir, _BANDS)
    index_sets = _read_index(spark, index_dir, _SETS)
    stages = batch_ingest_stages(
        batch,
        index_keys,
        index_bands,
        index_sets,
        bsets=frames[_SETS] if frames else None,
        bbands=frames[_BANDS] if frames else None,
        eval_grams=eval_grams,
    )
    stage_names = ("s1", "s2", "s3", "s4") if eval_grams is not None else (
        "s1",
        "s2",
        "s3",
    )
    base = batch.select("doc_id", "source", "n_chars")
    for name in stage_names:
        base = base.join(
            stages[name].withColumn(f"__{name}", F.lit(1)), "doc_id", "left"
        )
    decision = (
        F.when(F.col("__s1").isNull(), "gopher_fail")
        .when(F.col("__s2").isNull(), "exact_dup")
        .when(F.col("__s3").isNull(), "near_dup")
    )
    if eval_grams is not None:
        decision = decision.when(
            F.col("__s4").isNull(), "eval_contaminated"
        )
    out = truncate(
        base.select(
            "doc_id",
            "source",
            "n_chars",
            decision.otherwise("accepted").alias("decision"),
        )
    )
    for name, frame in stages.items():
        # the shared batch-sets frame is the CALLER's to release (it
        # still feeds append_to_indexes) — skip it by its dict key,
        # never by object identity, which any innocuous rewrap inside
        # batch_ingest_stages would silently break
        if frames is not None and name == "_sets":
            continue
        frame.unpersist()
    return out


def append_to_indexes(
    batch: DataFrame,
    index_dir: str,
    batch_id: int | None = None,
    frames: dict[str, DataFrame] | None = None,
    namespace: str = "",
) -> None:
    """Every arriving doc joins the index — accepted or not (ingested
    = seen; a rejected doc's content still counts as known).  With a
    ``batch_id`` the contribution lands in an overwrite-semantics
    subdirectory named by (namespace, batch_id) — replay-idempotent,
    and collision-proof across checkpoint resets when the namespace
    derives from the checkpoint location; without one it appends in
    place (batch-mode callers)."""
    own = frames if frames is not None else _batch_frames(batch)
    for sub in _TABLES:
        path = _join(index_dir, sub)
        if batch_id is not None:
            own[sub].write.mode("overwrite").parquet(
                _join(path, _batch_tag(batch_id, namespace))
            )
        else:
            own[sub].write.mode("append").parquet(path)
    if frames is None:
        own[_SETS].unpersist()


def ingest_batch(
    batch: DataFrame,
    spark: SparkSession,
    index_dir: str,
    batch_id: int | None = None,
    namespace: str = "",
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """One full ingest step: decide, then fold the batch into the
    index.  Returns the decisions frame (already materialized, so the
    decisions reflect the PRE-append index state).  The batch-mode
    building block the stream applies per trigger — fold it over
    splits by hand to get the reference semantics the stream must
    match.  On a replay (same namespace + batch_id), any partial
    contribution from a crashed attempt is removed before deciding."""
    if batch_id is not None:
        for sub in _TABLES:
            partial = _join(
                index_dir, sub, _batch_tag(batch_id, namespace)
            )
            if _exists(spark, partial):
                _delete(spark, partial)
    frames = _batch_frames(batch)
    out = ingest_decisions(
        batch, spark, index_dir, frames=frames, eval_grams=eval_grams
    )
    append_to_indexes(
        batch, index_dir, batch_id=batch_id, frames=frames, namespace=namespace
    )
    frames[_SETS].unpersist()
    return out


def read_ingest_decisions(spark: SparkSession, decisions_dir: str) -> DataFrame:
    """The decisions log (batch-scoped subdirectories)."""
    return (
        spark.read.schema("doc_id bigint, source string, n_chars bigint, decision string")
        .option("recursiveFileLookup", "true")
        .parquet(decisions_dir)
    )


# --------------------------------------------------------------------------
# Compaction
# --------------------------------------------------------------------------


def _heal_table(spark: SparkSession, src: str) -> None:
    """Recover any interrupted-compaction leftovers for one table:
    a ``.compacting`` build is always discardable; a ``.old`` with the
    table missing means the swap died mid-flight (restore it); a
    ``.old`` alongside a live table may still hold the preserved batch
    subdirectories (move back only the ones the ``.folded`` manifest
    says were NOT folded into the compacted files — restoring a folded
    subdir would duplicate its rows in the index tables)."""
    tmp, old, man = src + ".compacting", src + ".old", src + ".folded"
    if _exists(spark, tmp):
        _delete(spark, tmp)
    if _exists(spark, old):
        if not _exists(spark, src):
            _rename(spark, old, src)
        else:
            folded: set[str] = set()
            if _exists(spark, man):
                folded = set(_read_text(spark, man).split())
            for name, full, is_dir, _ in _list_children(spark, old):
                if (
                    is_dir
                    and name not in folded
                    and not _exists(spark, _join(src, name))
                ):
                    _rename(spark, full, _join(src, name))
            _delete(spark, old)
    if _exists(spark, man):
        _delete(spark, man)


def compact_ingest_indexes(
    spark: SparkSession,
    index_dir: str,
    target_mb: int = 128,
    keep_last: int = 1,
    retire_after_sec: float | None = None,
) -> dict[str, int]:
    """Compact the per-trigger subdirectory writes into ~``target_mb``
    files sorted on the probe key (row-group min/max pruning for the
    next batch's joins) — the OPTIMIZE half of running this ingest
    indefinitely.  Safe to run between triggers of a LIVE checkpoint:
    the ``keep_last`` NEWEST batch subdirectories per table AND PER
    CHECKPOINT NAMESPACE are preserved as-is, because the only batch an
    at-least-once restart can replay is the last uncommitted one OF ITS
    OWN CHECKPOINT and its replay marker must survive the fold —
    folding it would make the replay judge the batch against its own
    contribution (batch ids restart at 0 per checkpoint, so newest is
    only meaningful within a namespace).  The swap is rename-based and
    self-healing (:func:`_heal_table` runs first; an interruption
    leaves recoverable ``.old``/``.compacting`` siblings, never a
    silently-empty table).  Guarded by the single-compactor lease
    (:func:`_acquire_compaction_lease`): a second concurrent compactor
    raises :class:`CompactionLeaseHeld`.  Returns the output file count
    per table."""
    lease = _acquire_compaction_lease(spark, index_dir)
    try:
        return _compact_ingest_indexes_locked(
            spark, index_dir, target_mb, keep_last, retire_after_sec
        )
    finally:
        _release_compaction_lease(spark, lease)


def _compact_ingest_indexes_locked(
    spark: SparkSession,
    index_dir: str,
    target_mb: int,
    keep_last: int,
    retire_after_sec: float | None = None,
) -> dict[str, int]:
    out = {}
    alive = (
        _ns_checkpoint_alive(spark, index_dir)
        if retire_after_sec is not None
        else None
    )
    for sub in _TABLES:
        src = _join(index_dir, sub)
        _heal_table(spark, src)
        if not _exists(spark, src):
            continue
        children = _list_children(spark, src)
        kept = _kept_newest(
            [c for c in children if c[2]], keep_last, retire_after_sec, alive
        )
        fold = [c[1] for c in children if c[0] not in kept]
        fold_names = [c[0] for c in children if c[0] not in kept]
        if not fold:
            continue
        fs, _, _jvm = _fs_path(spark, src)
        total = 0
        for path in fold:
            total += fs.getContentSummary(
                _jvm.org.apache.hadoop.fs.Path(path)
            ).getLength()
        n_files = max(1, -(-total // (target_mb * 1024 * 1024)))
        tmp, old = src + ".compacting", src + ".old"
        (
            spark.read.schema(_EMPTY[sub])
            .option("recursiveFileLookup", "true")
            .parquet(*fold)
            .repartition(int(n_files))
            .sortWithinPartitions(*_SORT[sub])
            .write.mode("overwrite")
            .parquet(tmp)
        )
        man = src + ".folded"
        _write_text(spark, man, "\n".join(fold_names))
        _rename(spark, src, old)
        _rename(spark, tmp, src)
        for name in kept:
            _rename(spark, _join(old, name), _join(src, name))
        _delete(spark, old)
        _delete(spark, man)
        out[sub] = int(n_files)
    return out


def incremental_ingest_stream(
    stream_docs: DataFrame,
    index_dir: str,
    decisions_dir: str,
    checkpoint_dir: str,
    eval_grams: DataFrame | None = None,
):
    """Wire a streaming documents source into the ingest: per trigger,
    write this micro-batch's decisions to ``decisions_dir`` and fold
    the batch into the index tables — both into batch-scoped overwrite
    subdirectories namespaced by the checkpoint location, so an
    at-least-once replay lands exactly once and a RESTARTED stream
    with a fresh checkpoint can never clobber an older run's
    contributions.  ``eval_grams`` (a STATIC frame — the eval suite
    doesn't stream) turns on the per-trigger decontamination gate.
    Returns the started query."""
    spark = stream_docs.sparkSession
    ns = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]
    _record_namespace(spark, index_dir, ns, checkpoint_dir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch,
            spark,
            index_dir,
            batch_id=batch_id,
            namespace=ns,
            eval_grams=eval_grams,
        ).write.mode("overwrite").parquet(
            _join(decisions_dir, _batch_tag(batch_id, ns))
        )

    return (
        stream_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

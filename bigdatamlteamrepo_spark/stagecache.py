"""Opt-in session-scoped cache for shared query prefixes.

The dedup/curation families share a tokenize → shingle → signature
prefix (one definition each: ``text_dedup.doc_shingle_sets``,
``text_dedup.uh_signature_frame``); invoked query-by-query — the way
the driver's correctness harness runs them — each registered query
rebuilds that prefix from the parquet scan.  That is the honest
cold-query cost and stays the DEFAULT: with the cache disabled,
:func:`shared` just runs the builder and :func:`materialized` cuts its
lineage with ``operators.checkpoint.truncate``, so every query face has
ONE plan — the cache only decides whether a shared prefix comes from
that plan's own builder or from the session's persisted frame.

A long-lived session running many queries of the same family (the
bench harness, an interactive audit session) enables the cache:
the first builder call per key materializes via
``persist(MEMORY_AND_DISK) + count()`` and every later call reuses the
materialized frame — the moral equivalent of the persisted
signature/band table a 100 TB deployment maintains anyway (see
``operators/retrieval.py`` for the fully-persisted variant of the
same discipline).  ``persist`` (not ``localCheckpoint``) for two
reasons: (a) :func:`disable` can then release executor storage
deterministically with ``unpersist`` — checkpointed RDD blocks linger
until the ContextCleaner runs; (b) persist keeps lineage, so on a real
cluster a lost cached block is recomputed from the parquet scan,
whereas a local checkpoint is NOT fault-tolerant under executor loss.

Keys are plain tuples, by convention ``(stage_name, sf_dir, *params)``
— the sf_dir component keeps corpora from different directories apart.
Entries additionally remember their owning SparkSession: a frame cached
under a stopped/replaced session is rebuilt, never returned (a cached
DataFrame outliving its session would fail or misbehave downstream).
Locking is two-level (ADVICE_r8 #3): the global lock guards only the
dicts (lookups, per-key-lock creation — microseconds), while each
key's materialization serializes under its OWN lock, so concurrent
first-calls on one key still build once but hits on other keys and
builds of unrelated keys never wait out a full Spark materialization.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from bigdatamlteamrepo_spark.operators.checkpoint import truncate

_enabled = False
_lock = threading.RLock()
_key_locks: dict[tuple, threading.RLock] = {}
_frames: dict[tuple, DataFrame] = {}
#: wall seconds spent materializing each cached prefix (bench.py
#: reports the sum as ``stage_build_sec`` so the steady-state numbers
#: carry their one-time build price — VERDICT_r7 item #3)
_build_secs: dict[tuple, float] = {}


def enabled() -> bool:
    return _enabled


def enable() -> None:
    """Turn on prefix sharing for this session (bench harness /
    interactive audits).  Registered queries stay pure functions of
    (spark, sf_dir); only materialization is shared."""
    global _enabled
    _enabled = True


def disable() -> None:
    """Back to self-contained queries; release every cached frame.
    ``unpersist`` is deterministic here because frames are persisted,
    not checkpointed — executor storage is freed immediately."""
    global _enabled
    with _lock:
        _enabled = False
        for df in _frames.values():
            try:
                df.unpersist()
            except Exception:
                pass
        _frames.clear()
        _build_secs.clear()


def build_secs() -> dict[tuple, float]:
    """Copy of the per-key materialization costs accumulated so far."""
    with _lock:
        return dict(_build_secs)


def _stale(df: DataFrame) -> bool:
    """A cached frame is unusable when its owning session is stopped or
    no longer the active session (session restarted between calls)."""
    try:
        sess = df.sparkSession
        if sess.sparkContext._jsc is None:
            return True
        active = SparkSession.getActiveSession()
        return active is not None and active is not sess
    except Exception:
        return True


def shared(key: tuple, builder: Callable[[], DataFrame]) -> DataFrame:
    """``builder()`` routed through the cache: disabled = just run the
    builder (the lazy plan); enabled = first call per key materializes
    eagerly, later calls from the same session reuse it.  Callers that
    cut the prefix's lineage when the cache is off use
    :func:`materialized` instead."""
    if not _enabled:
        return builder()
    with _lock:  # fast path: dict lookups only, never a build
        df = _frames.get(key)
        if df is not None and not _stale(df):
            return df
        key_lock = _key_locks.setdefault(key, threading.RLock())
    with key_lock:  # same-key builds serialize; other keys proceed
        with _lock:
            df = _frames.get(key)
            if df is not None and not _stale(df):
                return df  # built by the thread that held key_lock first
            if df is not None:  # stale: drop AND release — the owning
                # session may still be alive in this JVM (merely not
                # active), and an un-unpersisted frame would pin
                # executor storage until that session is GC'd
                try:
                    df.unpersist()
                except Exception:
                    pass  # owning session truly dead: blocks die with it
                _frames.pop(key, None)
                _build_secs.pop(key, None)
        t0 = time.perf_counter()
        df = builder().persist(StorageLevel.MEMORY_AND_DISK)
        df.count()  # eager: materialize outside downstream query timings
        with _lock:
            if not _enabled:  # disable() ran mid-build: don't strand a
                # persisted frame in a cleared cache
                try:
                    df.unpersist()
                except Exception:
                    pass
                return df
            _frames[key] = df
            _build_secs[key] = round(time.perf_counter() - t0, 3)
        return df


def materialized(
    key: tuple, builder: Callable[[], DataFrame], eager: bool
) -> DataFrame:
    """A materialized ``builder()``: the session's shared persisted
    frame when the cache is on (it is already materialized, so cutting
    it again would copy the partitions for nothing), else
    ``truncate(builder(), eager)`` — the one plan the face runs with
    the cache off."""
    if _enabled:
        return shared(key, builder)
    return truncate(builder(), eager=eager)

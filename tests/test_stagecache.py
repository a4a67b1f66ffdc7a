"""Session stage cache: enabling prefix sharing must never change any
query's result — only where the shared prefix materializes."""

from __future__ import annotations

import pytest

from bigdatamlteamrepo_spark import stagecache
from bigdatamlteamrepo_spark.queries import QUERIES

#: queries whose plans route through the cacheable prefixes
#: (doc_tokens / shingle_sets / uh_signatures / lsh_bands)
_AFFECTED = [
    "doc_keyword_label_counts",
    "minhash_signatures",
    "neardup_pairs_lsh",
    "neardup_incremental_lsh",
    "neardup_dedup_summary",
    "doc_shared_shingle_stats",
    "bbit_minhash_jaccard_pairs",
    "passage_dedup_summary",
    "passage_neardup_pairs",
    "substring_dedup_summary",
    "doc_tfidf_top_terms",
    "doc_ngram_novelty",
    "source_overlap_audit",
    "source_distinct_ngrams",
    "doc_lm_perplexity",
    "corpus_datacard",
]


@pytest.fixture()
def cache_session():
    stagecache.enable()
    yield
    stagecache.disable()


def _rows(df):
    return sorted(
        [tuple(r) for r in df.collect()], key=repr
    ), [f.name for f in df.schema.fields]


@pytest.mark.parametrize("name", _AFFECTED)
def test_cached_equals_uncached(spark, sf_dir, name, cache_session):
    stagecache.disable()
    cold, cold_cols = _rows(QUERIES[name](spark, sf_dir))
    stagecache.enable()
    # run twice: first call builds the cache, second reuses it
    warm1, _ = _rows(QUERIES[name](spark, sf_dir))
    warm2, warm_cols = _rows(QUERIES[name](spark, sf_dir))
    assert cold_cols == warm_cols
    assert cold == warm1 == warm2


def test_disable_clears_frames(spark, sf_dir):
    stagecache.enable()
    QUERIES["doc_shared_shingle_stats"](spark, sf_dir).collect()
    assert stagecache._frames
    # every cached frame reports its one-time materialization cost
    # (bench.py sums these into stage_build_sec, VERDICT_r7 #3)
    builds = stagecache.build_secs()
    assert set(builds) == set(stagecache._frames)
    assert all(v >= 0 for v in builds.values())
    # persisted (not checkpointed): unpersist releases storage
    assert all(df.storageLevel.useMemory for df in stagecache._frames.values())
    stagecache.disable()
    assert not stagecache._frames
    assert not stagecache.build_secs()
    assert not stagecache.enabled()


def test_stale_session_entry_is_rebuilt(spark, sf_dir):
    """A frame cached under a session that is no longer the active one
    must be rebuilt, not returned (ADVICE_r7: cache keys carried no
    session identity)."""
    stagecache.enable()
    try:
        built = []
        key = ("unit-test-stale", sf_dir)
        df1 = stagecache.shared(
            key, lambda: (built.append(1), spark.range(3))[1]
        )
        assert built == [1]
        # same session: reused, no rebuild
        stagecache.shared(key, lambda: (built.append(2), spark.range(3))[1])
        assert built == [1]
        # simulate a dead owning session: _stale must say so and the
        # next call must rebuild
        assert stagecache._stale(df1) is False
        stagecache._frames[key] = df1
        import unittest.mock as mock

        with mock.patch.object(stagecache, "_stale", return_value=True):
            stagecache.shared(
                key, lambda: (built.append(3), spark.range(3))[1]
            )
        assert built == [1, 3]
    finally:
        stagecache.disable()


def test_candidate_pairs_honor_subset_sets_with_cache_on(spark, sf_dir, cache_session):
    """With the stage cache ENABLED, lsh_candidate_pairs over a SUBSET
    shingle frame must compute that subset's candidates — never
    substitute the session's cached full-corpus band table (that
    substitution is opt-in via corpus_sets=True and reserved for
    full-corpus callers)."""
    from pyspark.sql import functions as F

    from bigdatamlteamrepo_spark.queries.text_dedup import (
        _shingle_sets,
        lsh_candidate_pairs,
    )

    stagecache.enable()
    # warm the full-corpus caches so substitution WOULD be available
    full = lsh_candidate_pairs(spark, sf_dir)
    n_full = full.count()
    subset = _shingle_sets(spark, sf_dir).filter(
        F.col("doc_id") % 3 == 0
    ).localCheckpoint(eager=True)
    got = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(spark, sf_dir, sets=subset).collect()
    }
    stagecache.disable()
    want = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(spark, sf_dir, sets=subset).collect()
    }
    assert got == want
    # the subset's pairs are a strict restriction of the corpus's
    assert all(a % 3 == 0 and b % 3 == 0 for a, b in got)
    assert len(got) <= n_full


def test_hll_ngrams_cached_equals_uncached(spark, sf_dir, cache_session):
    """source_distinct_ngrams_hll shares only the tokenized-documents
    prefix with the cache on; its gram stream and registers are the
    cache-off plan, so values must be identical."""
    stagecache.disable()
    cold, cols = _rows(QUERIES["source_distinct_ngrams_hll"](spark, sf_dir))
    stagecache.enable()
    warm, wcols = _rows(QUERIES["source_distinct_ngrams_hll"](spark, sf_dir))
    assert cols == wcols and cold == warm


def test_per_key_locking_hits_dont_wait_for_builds(spark, cache_session):
    """ADVICE_r8 #3: a slow build on key A must not block a cache HIT
    on an already-built key B — the global lock guards only the dicts,
    materialization serializes per key."""
    import threading
    import time

    # build B up front
    b = stagecache.shared(("fast", "b"), lambda: spark.range(10))
    assert b.count() == 10

    release = threading.Event()
    a_started = threading.Event()

    def slow_builder():
        a_started.set()
        assert release.wait(30), "test deadlock"
        return spark.range(5)

    t = threading.Thread(
        target=lambda: stagecache.shared(("slow", "a"), slow_builder)
    )
    t.start()
    assert a_started.wait(30)
    # while A is mid-build, a hit on B must return promptly
    t0 = time.perf_counter()
    again = stagecache.shared(("fast", "b"), lambda: spark.range(10))
    hit_secs = time.perf_counter() - t0
    assert again is b
    assert hit_secs < 5.0  # not serialized behind the 30 s build window
    # and a DIFFERENT key's build proceeds concurrently too
    c = stagecache.shared(("fast", "c"), lambda: spark.range(3))
    assert c.count() == 3
    release.set()
    t.join(60)
    assert not t.is_alive()


def test_same_key_concurrent_first_calls_build_once(spark, cache_session):
    """Two threads racing the same cold key: exactly one builder runs."""
    import threading

    builds = []
    barrier = threading.Barrier(2)
    results = []

    def call():
        barrier.wait(10)
        results.append(
            stagecache.shared(
                ("race", "k"),
                lambda: (builds.append(1), spark.range(7))[1],
            )
        )

    ts = [threading.Thread(target=call) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(60)
    assert len(builds) == 1
    assert results[0] is results[1]

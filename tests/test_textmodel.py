"""Hand-computed ground truth for the statistical text-modeling tier
(bigram LM perplexity, DSIR weights, BPE pair counts, stratified
sample).  The parity suite already cross-checks every query against
DuckDB; these tests pin the MATH against values derived by hand /
by an independent in-Python implementation, so an error shared by
both engine and oracle can't hide."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.queries.textmodel import (
    DSIR_BUCKETS,
    LM_K,
    MICRO,
    STRAT_K,
    STRAT_SAFETY,
    bpe_pair_counts,
    doc_lm_perplexity,
    doc_stratified_sample,
    dsir_importance_weights,
)


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_lm_scores(rows):
    """Independent bigram-LM implementation (token lists per doc)."""
    bigrams = Counter()
    vocab = set()
    per_doc: dict[int, list[str]] = {}
    for doc_id, toks in rows:
        vocab.update(toks)
        if len(toks) >= 2:
            bs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            per_doc[doc_id] = bs
            bigrams.update(bs)
    c_x = Counter()
    for bg, c in bigrams.items():
        c_x[bg.split(" ")[0]] += c
    v = len(vocab)
    out = {}
    for doc_id, bs in per_doc.items():
        total = 0
        for bg in bs:
            lp = math.log((bigrams[bg] + LM_K) / (c_x[bg.split(" ")[0]] + LM_K * v))
            total += round(lp * MICRO)
        out[doc_id] = (len(bs), total)
    return out


def test_lm_perplexity_matches_independent_python(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = [
        (r["doc_id"], r["text"].lower().split())
        for r in docs.select("doc_id", "text").collect()
    ]
    expected = _py_lm_scores([(d, [t for t in toks if t != ""]) for d, toks in rows])
    got = {
        r["doc_id"]: (r["n_bigrams"], r["lp_sum_micro"])
        for r in doc_lm_perplexity(spark, sf_dir).collect()
    }
    assert got == expected


def test_lm_terciles_partition_each_language(spark, sf_dir):
    df = doc_lm_perplexity(spark, sf_dir)
    per = (
        df.groupBy("lang", "ppl_tercile")
        .count()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            (F.max("count") - F.min("count")).alias("spread"),
        )
        .collect()
    )
    for r in per:
        assert r["n_buckets"] == 3
        assert r["spread"] <= 1  # ntile balance invariant
    # head (tercile 1) must have lower mean perplexity than tail (3)
    m = {
        (r["lang"], r["ppl_tercile"]): r["avg"]
        for r in df.groupBy("lang", "ppl_tercile")
        .agg(F.avg("perplexity").alias("avg"))
        .collect()
    }
    for (lang, t), v in m.items():
        if t == 1:
            assert v < m[(lang, 3)]


def test_dsir_weight_sign_tracks_target_language(spark, sf_dir):
    """Averaged over many docs, en documents (the target) must score a
    higher mean log-likelihood ratio than the corpus at large."""
    df = dsir_importance_weights(spark, sf_dir)
    m = {
        r["is_en"]: r["avg"]
        for r in df.withColumn("is_en", F.col("lang") == "en")
        .groupBy("is_en")
        .agg(F.avg("avg_llr_micro").alias("avg"))
        .collect()
    }
    assert m[True] > m[False]


def test_dsir_matches_independent_python(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "lang", "text").collect()
    feats = {}
    c_t: Counter = Counter()
    c_r: Counter = Counter()
    for r in rows:
        toks = [t for t in r["text"].lower().split() if t != ""]
        if len(toks) < 2:
            continue
        bs = [
            _h32(f"{a} {b}") % DSIR_BUCKETS for a, b in zip(toks, toks[1:])
        ]
        feats[r["doc_id"]] = bs
        c_r.update(bs)
        if r["lang"] == "en":
            c_t.update(bs)
    n_t, n_r = sum(c_t.values()), sum(c_r.values())
    llr_micro = {
        b: round(
            (
                math.log((c_t[b] + 1.0) / (n_t + DSIR_BUCKETS))
                - math.log((c_r[b] + 1.0) / (n_r + DSIR_BUCKETS))
            )
            * MICRO
        )
        for b in c_r
    }
    expected = {
        d: (len(bs), sum(llr_micro[b] for b in bs)) for d, bs in feats.items()
    }
    got = {
        r["doc_id"]: (r["n_feats"], r["llr_sum_micro"])
        for r in dsir_importance_weights(spark, sf_dir).collect()
    }
    assert got == expected


def test_bpe_pairs_match_independent_python(spark, sf_dir):
    import re

    docs = load_table(spark, sf_dir, "documents")
    words: Counter = Counter()
    for r in docs.select("text").collect():
        words.update(re.findall(r"[a-z]+", r["text"].lower()))
    pairs: Counter = Counter()
    for w, freq in words.items():
        syms = list(w) + ["</w>"]
        for a, b in zip(syms, syms[1:]):
            pairs[f"{a} {b}"] += freq
    top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    expected = [
        (i + 1, pair, cnt) for i, (pair, cnt) in enumerate(top)
    ]
    got = [
        (r["merge_rank"], r["pair"], r["pair_count"])
        for r in bpe_pair_counts(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert got == expected


def test_stratified_sample_exact_k_and_prefilter_lossless(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sizes = {
        r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    got = doc_stratified_sample(spark, sf_dir).collect()
    per_lang: dict[str, list] = {}
    for r in got:
        per_lang.setdefault(r["lang"], []).append(r)
    for lang, n in sizes.items():
        assert len(per_lang[lang]) == min(STRAT_K, n)
    # selection = the K smallest portable hashes per stratum (the
    # pre-filter must not have dropped a winner)
    all_rows = docs.select("doc_id", "lang").collect()
    by_lang: dict[str, list] = {}
    for r in all_rows:
        by_lang.setdefault(r["lang"], []).append(
            (_h32(str(r["doc_id"])), r["doc_id"])
        )
    for lang, hs in by_lang.items():
        expect_ids = [d for _, d in sorted(hs)[:STRAT_K]]
        got_ids = [
            r["doc_id"] for r in sorted(per_lang[lang], key=lambda r: r["pos"])
        ]
        assert got_ids == expect_ids


def test_stratified_prefilter_bounds_candidates(spark, sf_dir):
    """The cutoff admits ~SAFETY*K expected candidates per stratum —
    the property that keeps the per-stratum sort O(K) at any scale.
    Checked structurally: cutoff * n_docs / 2^32 ≈ SAFETY*K."""
    docs = load_table(spark, sf_dir, "documents")
    for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect():
        n = r["n"]
        if n > STRAT_SAFETY * STRAT_K:
            cut = math.ceil(4294967296.0 * STRAT_SAFETY * STRAT_K / n)
            assert cut * n / 4294967296.0 == pytest.approx(
                STRAT_SAFETY * STRAT_K, rel=0.01
            )


def _py_bpe(words: Counter, rounds: int):
    """Independent BPE learner: greedy leftmost merge application."""
    vocab = {w: list(w) + ["</w>"] for w in words}
    merges = []
    for r in range(1, rounds + 1):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[f"{a} {b}"] += words[w]
        if not pairs:
            break
        pair, cnt = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((r, pair, cnt))
        a, b = pair.split(" ", 1)
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_learner_matches_independent_python(spark, sf_dir):
    import re

    from bigdatamlteamrepo_spark.queries.textmodel import bpe_learn_merges

    docs = load_table(spark, sf_dir, "documents")
    words: Counter = Counter()
    for r in docs.select("text").collect():
        words.update(re.findall(r"[a-z]+", r["text"].lower()))
    expected = _py_bpe(words, 5)
    got = [
        (r["merge_rank"], r["pair"], r["pair_count"])
        for r in bpe_learn_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert got == expected
    # round 1 must agree with the one-shot pair-count query's top row
    top = bpe_pair_counts(spark, sf_dir).orderBy("merge_rank").first()
    assert (1, top["pair"], top["pair_count"]) == got[0]


def _py_bpe_batched(words: Counter, n_merges: int, batch: int):
    """Independent BATCHED BPE learner mirroring the engine's contract:
    per round take the top symbol-AND-product-disjoint ``batch`` pairs
    by (count desc, pair asc), apply them in one leftmost pass."""
    vocab = {w: list(w) + ["</w>"] for w in words}
    merges = []
    while len(merges) < n_merges:
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[f"{a} {b}"] += words[w]
        if not pairs:
            break
        ranked = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[: 8 * batch]
        used: set = set()
        selected = []
        for pair, cnt in ranked:
            if len(selected) >= batch or len(merges) + len(selected) >= n_merges:
                break
            a, b = pair.split(" ", 1)
            if a in used or b in used or (a + b) in used:
                continue
            used.update((a, b, a + b))
            selected.append((a, b, cnt))
        if not selected:
            break
        for a, b, cnt in selected:
            merges.append((len(merges) + 1, f"{a} {b}", cnt))
        rules = {(a, b): a + b for a, b, _ in selected}
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) in rules:
                    out.append(rules[(syms[i], syms[i + 1])])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_batched_bpe_matches_independent_python(spark, sf_dir):
    import re

    from bigdatamlteamrepo_spark.queries.textmodel import learn_bpe_merges_batched

    docs = load_table(spark, sf_dir, "documents")
    words: Counter = Counter()
    for r in docs.select("text").collect():
        words.update(re.findall(r"[a-z]+", r["text"].lower()))
    wdf = spark.createDataFrame(sorted(words.items()), "word string, freq long")
    stats: dict = {}
    got = learn_bpe_merges_batched(wdf, n_merges=40, batch=8, stats=stats)
    expected = _py_bpe_batched(words, 40, 8)
    assert got == expected
    # the whole point: driver round-trips are O(n_merges / batch)
    assert stats["rounds"] <= 40 // 8 + 2


def test_batched_bpe_with_batch_1_equals_sequential(spark, sf_dir):
    import re

    from bigdatamlteamrepo_spark.queries.textmodel import (
        learn_bpe_merges,
        learn_bpe_merges_batched,
    )

    docs = load_table(spark, sf_dir, "documents")
    words: Counter = Counter()
    for r in docs.select("text").collect():
        words.update(re.findall(r"[a-z]+", r["text"].lower()))
    wdf = spark.createDataFrame(sorted(words.items()), "word string, freq long")
    seq = learn_bpe_merges(wdf, n_rounds=5)
    one = learn_bpe_merges_batched(wdf, n_merges=5, batch=1)
    assert one == seq


def test_bpe_encode_matches_independent_python(spark, sf_dir):
    """Applying the learned merges must reproduce the independent
    Python encoder's symbol sequences word-for-word."""
    import re

    from bigdatamlteamrepo_spark.queries.textmodel import (
        bpe_encode_summary,
        bpe_encode_words,
        learn_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    words: Counter = Counter()
    for r in docs.select("text").collect():
        words.update(re.findall(r"[a-z]+", r["text"].lower()))
    wdf = spark.createDataFrame(
        sorted(words.items()), "word string, freq long"
    )
    merges = [m[1] for m in learn_bpe_merges(wdf)]
    # independent python: re-run _py_bpe and capture final vocab state
    vocab = {w: list(w) + ["</w>"] for w in words}
    for pair in merges:
        a, b = pair.split(" ", 1)
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(syms[i]); i += 1
            vocab[w] = out
    got = {
        r["word"]: list(r["symbols"])
        for r in bpe_encode_words(wdf, merges).collect()
    }
    assert got == vocab
    row = bpe_encode_summary(spark, sf_dir).collect()[0]
    assert row["symbols_after"] < row["symbols_before"]
    assert row["symbols_after"] == sum(
        words[w] * len(s) for w, s in vocab.items()
    )


def test_whitening_yields_identity_covariance(spark, sf_dir):
    """After ZCA whitening the leading dims, the sample covariance must
    be ~identity (diagonal ≈1, off-diagonal ≈0)."""
    import numpy as np

    from bigdatamlteamrepo_spark.operators.stats import whitening_transform

    emb = load_table(spark, sf_dir, "embeddings")
    out = whitening_transform(emb, dims=8)
    X = np.array([r["white"] for r in out.select("white").collect()])
    c = np.cov(X.T, bias=True)
    assert np.allclose(np.diag(c), 1.0, atol=0.05)
    off = c - np.diag(np.diag(c))
    assert np.abs(off).max() < 0.05


def test_weighted_sample_is_length_biased_and_takeordered(spark, sf_dir):
    """E-S sampling with w = n_chars must overrepresent long documents
    (inclusion probability ∝ weight), and the global top-K must compile
    to TakeOrdered, not a full sort."""
    from bigdatamlteamrepo_spark.queries.textmodel import doc_weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    samp = doc_weighted_sample(spark, sf_dir)
    sample_mean = samp.agg(F.avg("n_chars")).first()[0]
    assert sample_mean > corpus_mean
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:500]

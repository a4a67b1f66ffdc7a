"""Curation tier (queries/curation.py): passage-level near-dup
semantics, n-gram novelty / source containment vs independent Python
twins, diversity-sample bucket reconstruction, and plan gates."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.queries import QUERIES
from bigdatamlteamrepo_spark.queries.curation import (
    _DIV_DIM,
    _DIV_PLANES,
    _DIV_SEED,
    _NG,
    _PW,
    ngram_novelty,
    overlap_matrix,
    passage_neardup_doc_pairs,
)


def _docs_frame(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


# --------------------------------------------------------------------------
# passage_neardup_pairs semantics
# --------------------------------------------------------------------------


def _words(seed: int, n: int) -> list[str]:
    """n deterministic distinct 5-letter words."""
    out = []
    for j in range(n):
        v = seed * 1000 + j
        w = ""
        for _ in range(5):
            w += chr(ord("a") + v % 26)
            v //= 26
        out.append(w)
    return out


def test_passage_neardup_exact_fuzzy_and_negative(spark):
    base = _words(1, _PW)  # a 20-token passage
    edited = list(base)
    edited[-1] = "zzzzz"  # one substitution → jaccard 15/21 ≈ 0.714
    filler_a = _words(2, _PW)
    filler_b = _words(3, _PW)
    filler_c = _words(4, _PW)
    rows = [
        # docs 100/101 share the EXACT passage (plus distinct filler)
        (100, " ".join(base + filler_a), "en", "s0", 0),
        (101, " ".join(base + filler_b), "en", "s0", 0),
        # docs 102/103 share the passage with one token edited
        (102, " ".join(filler_a + base), "en", "s0", 0),
        (103, " ".join(filler_c + edited), "en", "s0", 0),
        # doc 104 shares nothing
        (104, " ".join(_words(5, 2 * _PW)), "en", "s0", 0),
    ]
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in passage_neardup_doc_pairs(_docs_frame(spark, rows)).collect()
    }
    # exact match found with jaccard exactly 1.0
    assert (100, 101) in got
    assert got[(100, 101)]["max_jaccard"] == 1.0
    # docs 100/102 also share base exactly (different window offsets)
    assert (100, 102) in got
    # fuzzy match found below 1.0 but above the 0.5 verify threshold
    assert (102, 103) in got
    fuzzy = got[(102, 103)]["max_jaccard"]
    assert 0.5 <= fuzzy < 1.0, fuzzy
    # the unrelated doc appears in no pair
    assert not any(104 in k for k in got), got.keys()


def test_passage_neardup_exact_recall_is_total(spark):
    """Exact-duplicate passages collide in EVERY band: every doc pair
    sharing an identical window must be reported (probability-1 claim
    in the docstring)."""
    shared = _words(7, _PW)
    rows = [
        (i, " ".join(shared + _words(10 + i, _PW)), "en", "s0", 0)
        for i in range(6)
    ]
    got = {
        (r["doc_a"], r["doc_b"])
        for r in passage_neardup_doc_pairs(_docs_frame(spark, rows)).collect()
    }
    want = {(i, j) for i in range(6) for j in range(i + 1, 6)}
    assert want <= got, want - got


def test_passage_neardup_ignores_sub_window_tail(spark):
    """Tokens beyond the last full _PW window never form a passage: two
    docs sharing only a 10-token tail must not pair."""
    tail = _words(8, 10)
    rows = [
        (0, " ".join(_words(20, _PW) + tail), "en", "s0", 0),
        (1, " ".join(_words(21, _PW) + tail), "en", "s0", 0),
    ]
    assert passage_neardup_doc_pairs(_docs_frame(spark, rows)).count() == 0


def _boilerplate_corpus():
    boiler = _words(40, _PW)  # exact passage repeated in 30 docs
    base = _words(41, _PW)
    edited = list(base)
    edited[-1] = "qqqqq"
    return [
        (i, " ".join(boiler + _words(50 + i, _PW)), "en", "s0", 0)
        for i in range(30)
    ] + [
        (100, " ".join(base), "en", "s0", 0),
        (101, " ".join(edited), "en", "s0", 0),
    ]


def test_passage_neardup_bucket_cap_drops_boilerplate_only(spark):
    """max_bucket drops mass-duplicated passages from the candidate
    step (the exact tier's job) while fuzzy low-multiplicity pairs
    survive — and the capped result is a subset of the uncapped one."""
    docs = _docs_frame(spark, _boilerplate_corpus())
    full = {
        (r["doc_a"], r["doc_b"])
        for r in passage_neardup_doc_pairs(docs, max_bucket=None).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in passage_neardup_doc_pairs(docs, max_bucket=10).collect()
    }
    assert capped <= full
    # the boilerplate clique (30·29/2 pairs) is gone under the cap...
    assert not any(a < 30 and b < 30 for a, b in capped), capped
    assert len(full) >= 30 * 29 // 2
    # ...but the fuzzy low-multiplicity pair survives
    assert (100, 101) in capped


def test_passage_neardup_auto_cap_is_scale_safe_default(spark):
    """The DEFAULT (max_bucket='auto') derives a cap from the
    bucket-width distribution: the 30-doc boilerplate clique (bucket
    width 30 ≫ 8× mean width) is excluded without any tuning, while
    the fuzzy low-multiplicity pair still pairs — the registered
    query's 100 TB-safe behavior."""
    docs = _docs_frame(spark, _boilerplate_corpus())
    auto = {
        (r["doc_a"], r["doc_b"])
        for r in passage_neardup_doc_pairs(docs).collect()
    }
    assert not any(a < 30 and b < 30 for a, b in auto), auto
    assert (100, 101) in auto


def test_passage_neardup_auto_cap_floor_keeps_small_cliques(spark):
    """Cliques at or below the cap floor (16) survive the auto cap:
    a passage shared by 6 docs is NOT boilerplate-scale and all 15
    pairs must be reported under the default."""
    shared = _words(70, _PW)
    rows = [
        (i, " ".join(shared + _words(80 + i, _PW)), "en", "s0", 0)
        for i in range(6)
    ]
    got = {
        (r["doc_a"], r["doc_b"])
        for r in passage_neardup_doc_pairs(_docs_frame(spark, rows)).collect()
    }
    want = {(i, j) for i in range(6) for j in range(i + 1, 6)}
    assert want <= got, want - got


# --------------------------------------------------------------------------
# n-gram novelty / source overlap vs independent Python twins
# --------------------------------------------------------------------------


def _twin_grams(text: str) -> set[str]:
    toks = text.lower().split()
    return {
        " ".join(toks[i : i + _NG]) for i in range(len(toks) - _NG + 1)
    }


def _random_corpus(seed: int):
    rng = random.Random(seed)
    vocab = _words(9, 12)
    rows = []
    for d in range(20):
        n = rng.randrange(4, 30)
        text = " ".join(rng.choice(vocab) for _ in range(n))
        rows.append((d, text, "en", f"s{d % 3}", len(text)))
    return rows


def test_ngram_novelty_matches_python_twin(spark):
    for seed in (1, 2, 3):
        rows = _random_corpus(seed)
        first: dict[str, int] = {}
        grams = {}
        for doc_id, text, *_ in rows:
            gs = _twin_grams(text)
            grams[doc_id] = gs
            for g in gs:
                first[g] = min(first.get(g, doc_id), doc_id)
        want = {
            doc_id: (
                len(gs),
                sum(1 for g in gs if first[g] < doc_id),
            )
            for doc_id, gs in grams.items()
            if gs
        }
        got = {
            r["doc_id"]: (r["n_ngrams"], r["n_seen_before"])
            for r in ngram_novelty(_docs_frame(spark, rows)).collect()
        }
        assert got == want, seed
        # novelty column is consistent with the counts
        for r in ngram_novelty(_docs_frame(spark, rows)).collect():
            assert r["novelty"] == 1.0 - r["n_seen_before"] / r["n_ngrams"]


def test_overlap_matrix_matches_python_twin(spark):
    for seed in (4, 5):
        rows = _random_corpus(seed)
        by_src: dict[str, set[str]] = {}
        for _, text, _, src, _ in rows:
            by_src.setdefault(src, set()).update(_twin_grams(text))
        want = {}
        for a, ga in by_src.items():
            for b, gb in by_src.items():
                if a != b and ga & gb:
                    want[(a, b)] = (len(ga & gb), len(ga))
        got = {
            (r["source_a"], r["source_b"]): (r["n_shared"], r["n_a"])
            for r in overlap_matrix(_docs_frame(spark, rows)).collect()
        }
        assert got == want, seed


def test_overlap_matrix_is_asymmetric(spark):
    """A small source fully quoted by a big one: containment must be
    high from the small side, low from the big side."""
    small = " ".join(_words(30, _NG))  # exactly one 8-gram
    big_extra = " ".join(_words(31, 40))
    rows = [
        (0, small, "en", "small", 0),
        (1, small + " " + big_extra, "en", "big", 0),
    ]
    got = {
        (r["source_a"], r["source_b"]): r["containment"]
        for r in overlap_matrix(_docs_frame(spark, rows)).collect()
    }
    assert got[("small", "big")] == 1.0
    assert got[("big", "small")] < 0.2


# --------------------------------------------------------------------------
# source_overlap_kmv: sketch estimate vs the exact matrix
# --------------------------------------------------------------------------


def test_overlap_kmv_exact_when_sketch_holds_all(spark):
    """With fewer than k distinct grams per source the bottom-k sketch
    IS the gram set: every estimate must equal the exact matrix value
    (theta = full range, counts exact)."""
    from bigdatamlteamrepo_spark.queries.curation import overlap_kmv

    rows = _random_corpus(6)  # tiny vocab → far fewer than 256 grams
    exact = {
        (r["source_a"], r["source_b"]): (r["n_shared"], r["containment"])
        for r in overlap_matrix(_docs_frame(spark, rows)).collect()
    }
    est = {
        (r["source_a"], r["source_b"]): (r["n_common"], r["est_containment"])
        for r in overlap_kmv(_docs_frame(spark, rows)).collect()
    }
    assert set(est) == set(exact)
    for pair, (n_common, cont) in est.items():
        assert n_common == exact[pair][0], pair
        assert abs(cont - exact[pair][1]) < 1e-6, pair


def test_overlap_audit_is_exact_matrix_restricted_to_flagged(spark):
    """The routed audit's rows must be EXACTLY the exact matrix's rows
    for the sketch-flagged pairs (same n_shared / n_a / containment),
    carrying the sketch estimate alongside — the sketch only routes,
    it never changes an exact value."""
    from bigdatamlteamrepo_spark.queries.curation import (
        overlap_audit,
        overlap_kmv,
    )

    rows = _random_corpus(7)
    docs = _docs_frame(spark, rows)
    exact = {
        (r["source_a"], r["source_b"]): (
            r["n_shared"],
            r["n_a"],
            r["containment"],
        )
        for r in overlap_matrix(docs).collect()
    }
    tau = 0.01
    flagged = {
        (r["source_a"], r["source_b"]): r["est_containment"]
        for r in overlap_kmv(docs).collect()
        if r["est_containment"] >= tau
    }
    audit = {
        (r["source_a"], r["source_b"]): (
            r["n_shared"],
            r["n_a"],
            r["containment"],
            r["est_containment"],
        )
        for r in overlap_audit(docs, tau=tau).collect()
    }
    assert set(audit) == set(flagged) & set(exact)
    for pair, (n_shared, n_a, cont, est) in audit.items():
        assert (n_shared, n_a, cont) == exact[pair], pair
        assert est == flagged[pair], pair


def test_overlap_audit_empty_when_nothing_flagged(spark):
    """tau above every estimate: typed empty frame, exact stage never
    runs."""
    from bigdatamlteamrepo_spark.queries.curation import overlap_audit

    out = overlap_audit(_docs_frame(spark, _random_corpus(8)), tau=2.0)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "source_a",
        "source_b",
        "n_shared",
        "n_a",
        "containment",
        "est_containment",
    ]


def test_overlap_kmv_error_bound_in_estimation_regime(spark):
    """Sources with thousands of distinct 8-grams (≫ k=256): the
    containment estimate must land within the theta-sketch error bound
    of the exact value.  rsd of each cardinality ≈ 1/√k ≈ 6.3%, of the
    ratio ≈ 9% — assert a 3σ-ish absolute bound of 0.2 plus a mean
    bound of 0.05 across pairs (the corpus is fixed, so this is a
    deterministic regression pin, not a flaky statistical test)."""
    import random

    from bigdatamlteamrepo_spark.queries.curation import overlap_kmv

    rng = random.Random(11)
    # 3 sources over a shared 400-word vocab → tens of thousands of
    # distinct 8-grams each, with real cross-source overlap from shared
    # passages
    vocab = _words(60, 400)
    shared_passages = [
        " ".join(rng.choice(vocab) for _ in range(60)) for _ in range(40)
    ]
    rows = []
    did = 0
    for s in range(3):
        for _ in range(120):
            own = " ".join(rng.choice(vocab) for _ in range(40))
            parts = [own]
            # each doc quotes a couple of shared passages with
            # source-dependent probability → asymmetric containment
            for p in shared_passages:
                if rng.random() < 0.15 * (s + 1):
                    parts.append(p)
            rows.append((did, " ".join(parts), "en", f"s{s}", 0))
            did += 1
    docs = _docs_frame(spark, rows)
    exact = {
        (r["source_a"], r["source_b"]): r["containment"]
        for r in overlap_matrix(docs).collect()
    }
    est = {
        (r["source_a"], r["source_b"]): r["est_containment"]
        for r in overlap_kmv(docs).collect()
    }
    # every exact-overlapping pair must be estimated (shared mass is
    # far above the sketch floor here)
    assert set(exact) == set(est), (set(exact) ^ set(est))
    errs = [abs(est[p] - exact[p]) for p in exact]
    assert max(errs) <= 0.2, sorted(
        (abs(est[p] - exact[p]), p) for p in exact
    )[-3:]
    assert sum(errs) / len(errs) <= 0.05, errs


# --------------------------------------------------------------------------
# diversity_sample_lsh bucket reconstruction
# --------------------------------------------------------------------------


def test_diversity_sample_buckets_reconstruct(spark, sf_dir):
    from bigdatamlteamrepo_spark.operators.similarity import hyperplane_values

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }
    planes = [
        hyperplane_values(_DIV_DIM, p, _DIV_SEED) for p in range(_DIV_PLANES)
    ]
    buckets: dict[str, list[int]] = {}
    for vid, v in vecs.items():
        bits = ""
        for pl in planes:
            acc = 0.0  # sequential fold, mirroring the engine's dot()
            for x, y in zip(v, pl):
                acc += x * y
            bits += "1" if acc >= 0 else "0"
        buckets.setdefault(bits, []).append(vid)
    want = {
        b: (min(ids), len(ids)) for b, ids in buckets.items()
    }
    got = {
        r["bucket"]: (r["rep_vec_id"], r["n_members"])
        for r in QUERIES["diversity_sample_lsh"](spark, sf_dir).collect()
    }
    assert got == want
    # the sample is a partition: member counts sum to the corpus size
    assert sum(n for _, n in got.values()) == len(vecs)


# --------------------------------------------------------------------------
# plan gates
# --------------------------------------------------------------------------


def test_curation_plans_no_cartesian(spark, sf_dir, monkeypatch):
    """Registered passage_neardup_pairs / source_overlap_matrix return
    a checkpointed frame whose plan is just a scan, so the gate swaps
    the lineage cut for identity and inspects the production join tree
    underneath: no cartesian product, no nested-loop join (the auto
    cap is a collected literal, so no scalar broadcast either)."""
    from bigdatamlteamrepo_spark.queries import curation

    monkeypatch.setattr(curation, "truncate", lambda df, eager=True: df)
    docs = _docs_frame(
        spark,
        [(i, " ".join(_words(90 + i, 2 * _PW)), "en", f"s{i % 2}", 0) for i in range(4)],
    )
    plans = {
        "passage_neardup_pairs": passage_neardup_doc_pairs(docs),
        "source_overlap_matrix": overlap_matrix(docs),
        "doc_ngram_novelty": QUERIES["doc_ngram_novelty"](spark, sf_dir),
        "diversity_sample_lsh": QUERIES["diversity_sample_lsh"](spark, sf_dir),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_diversity_sample_is_single_shuffle(spark, sf_dir):
    """The signature is row-local: exactly one exchange (the bucket
    groupBy) in the whole plan."""
    plan = (
        QUERIES["diversity_sample_lsh"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 2, plan[:600]  # partial+final agg pair


def test_distinct_ngrams_hll_within_error_envelope(spark, sf_dir):
    """The HLL estimate must sit within 3σ (p=6 → rse ≈ 13%) of the
    exact distinct count for every (source, n) cell."""
    from bigdatamlteamrepo_spark.queries.curation import (
        source_distinct_ngrams,
        source_distinct_ngrams_hll,
    )

    exact = {
        (r.source, r.n): r.distinct_ngrams
        for r in source_distinct_ngrams(spark, sf_dir).collect()
    }
    approx = {
        (r.source, r.n): r.approx_distinct_ngrams
        for r in source_distinct_ngrams_hll(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        true = exact[k]
        assert abs(est - true) <= max(3, 0.4 * true), (k, est, true)


def test_contamination_width_monotone(spark, sf_dir):
    """A shared w-gram contains shared (w-1)-grams, so the flagged-doc
    set must shrink (weakly) as the audit width grows: flagged(13) ⊆
    flagged(8) ⊆ flagged(6)."""
    from bigdatamlteamrepo_spark.queries.curation import (
        contamination_width_sweep,
    )
    from bigdatamlteamrepo_spark.queries.pipeline import _EVAL_N
    from bigdatamlteamrepo_spark.functions.text import shingles, tokenize
    from bigdatamlteamrepo_spark.catalog import load_table
    from pyspark.sql import functions as F

    # recompute flagged doc SETS per width (the registered query rolls
    # up to counts; the invariant lives at doc granularity)
    docs = load_table(spark, sf_dir, "documents")
    flagged = {}
    for w in (6, 8, 13):
        g = (
            docs.withColumn("toks", tokenize("text"))
            .filter(F.size("toks") >= w)
            .select("doc_id", F.explode(shingles(F.col("toks"), w)).alias("gram"))
        )
        ev = g.filter(F.col("doc_id") < _EVAL_N).select("gram").distinct()
        flagged[w] = {
            r.doc_id
            for r in g.filter(F.col("doc_id") >= _EVAL_N)
            .join(F.broadcast(ev), "gram", "left_semi")
            .select("doc_id")
            .distinct()
            .collect()
        }
    assert flagged[13] <= flagged[8] <= flagged[6]

    # and the registered rollup agrees with the recomputed sets
    counts = {}
    for r in contamination_width_sweep(spark, sf_dir).collect():
        counts[r.width] = counts.get(r.width, 0) + r.n_contaminated
    for w in (6, 8, 13):
        assert counts.get(w, 0) == len(flagged[w])


def test_tagged_gram_hashes_distinct_before_hash(spark):
    """r12 rewrite pin: the tagged gram stream hashes each DISTINCT
    per-doc gram exactly once — repeated grams add no rows, and the
    values equal md5-prefix 60-bit ints of the gram text (the hash-
    after-distinct order must not change the emitted multiset)."""
    import hashlib

    from bigdatamlteamrepo_spark.queries.curation import _tagged_gram_hashes

    t = spark.createDataFrame(
        [("s1", ["a", "b", "a", "b", "a"])], "source string, toks array<string>"
    )
    rows = [(r.n, r.gh) for r in _tagged_gram_hashes(t).collect()]

    def h60(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16)

    want = []
    toks = ["a", "b", "a", "b", "a"]
    for n in (1, 2, 3):
        grams, seen = [], set()
        for i in range(len(toks) - n + 1):
            g = " ".join(toks[i : i + n])
            if g not in seen:
                seen.add(g)
                grams.append(g)
        want += [(n, h60(g)) for g in grams]
    assert sorted(rows) == sorted(want)


def test_tagged_gram_hex_string_matches_int_counts(spark):
    """r13 pin: distinct/grouped counts over the 15-hex STRING gram key
    (as_int=False, the exact face's form) equal counts over
    the BIGINT form — the hex→int map is a bijection, so the key type
    cannot change any count."""
    from bigdatamlteamrepo_spark.queries.curation import _tagged_gram_hashes

    t = spark.createDataFrame(
        [("s1", ["a", "b", "a", "c", "b"]), ("s2", ["b", "b", "b"])],
        "source string, toks array<string>",
    )
    ints = [(r.source, r.n, r.gh) for r in _tagged_gram_hashes(t).collect()]
    strs = [
        (r.source, r.n, int(r.gh, 16))
        for r in _tagged_gram_hashes(t, as_int=False).collect()
    ]
    assert sorted(ints) == sorted(strs)

"""Exact-substring span dedup (stride-1 ExactSubstr tier): pinned
against an independent pure-Python brute force on the real fixture
corpus, plus structural-invariant and injected-duplicate coverage on
synthetic frames."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.queries.passages import (
    SPAN_W,
    dup_substring_spans,
    substring_dedup_summary,
    window_hashes,
)


def _brute_spans(texts: dict[int, str], w: int) -> set[tuple[int, int, int]]:
    """(doc_id, span_start, span_end) by literal re-derivation: count
    every stride-1 w-token window, keep those seen ≥2 times, merge
    overlapping/adjacent starts per doc.  Independent of the Spark
    implementation (dict counting + linear merge, no hashing tricks
    beyond md5 of the joined window)."""
    counts: dict[str, int] = {}
    per_doc: dict[int, list[int]] = {}
    for doc_id, text in texts.items():
        toks = re.split(r"\s+", text.lower())
        for i in range(len(toks) - w + 1):
            key = hashlib.md5(" ".join(toks[i : i + w]).encode()).hexdigest()
            counts[key] = counts.get(key, 0) + 1
            per_doc.setdefault(doc_id, []).append(i + 1)  # 1-based
    # second pass: keep only duplicated windows
    dup_starts: dict[int, list[int]] = {}
    for doc_id, text in texts.items():
        toks = re.split(r"\s+", text.lower())
        for i in range(len(toks) - w + 1):
            key = hashlib.md5(" ".join(toks[i : i + w]).encode()).hexdigest()
            if counts[key] >= 2:
                dup_starts.setdefault(doc_id, []).append(i + 1)
    spans = set()
    for doc_id, starts in dup_starts.items():
        starts.sort()
        lo = hi = starts[0]
        for s in starts[1:]:
            if s - hi <= w:
                hi = s
            else:
                spans.add((doc_id, lo, hi + w - 1))
                lo = hi = s
        spans.add((doc_id, lo, hi + w - 1))
    return spans


def test_spans_match_brute_force_on_fixture_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    expect = _brute_spans(texts, SPAN_W)
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dup_substring_spans(docs).collect()
    }
    assert got == expect
    assert got, "fixture corpus must contain duplicated spans"


def test_span_structural_invariants(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = dup_substring_spans(docs).collect()
    lens = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split(F.lower("text"), r"\s+")).alias("n")
        ).collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        assert r.span_tokens == r.span_end - r.span_start + 1
        assert r.span_tokens >= SPAN_W
        assert 1 <= r.span_start <= r.span_end <= lens[r.doc_id]
        # n_windows covers the span: a merged island of k windows spans
        # at most (k-1) gaps of ≤ SPAN_W tokens plus the final window
        assert r.span_tokens <= (r.n_windows - 1) * SPAN_W + SPAN_W
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_rows in by_doc.values():
        doc_rows.sort(key=lambda r: r.span_start)
        for a, b in zip(doc_rows, doc_rows[1:]):
            # maximal merge: consecutive spans are separated by more
            # than adjacency, else they would be one island
            assert b.span_start > a.span_end + 1


def test_summary_consistent_with_spans(spark, sf_dir, duck):
    docs = load_table(spark, sf_dir, "documents")
    spans = dup_substring_spans(docs).collect()
    summ = {r.source: r for r in substring_dedup_summary(spark, sf_dir).collect()}
    cut: dict[str, int] = {}
    docs_hit: dict[str, set] = {}
    n_spans: dict[str, int] = {}
    for r in spans:
        cut[r.source] = cut.get(r.source, 0) + r.span_tokens
        docs_hit.setdefault(r.source, set()).add(r.doc_id)
        n_spans[r.source] = n_spans.get(r.source, 0) + 1
    for src, row in summ.items():
        assert row.dup_span_tokens == cut.get(src, 0)
        assert row.n_docs_with_dup == len(docs_hit.get(src, set()))
        assert row.n_spans == n_spans.get(src, 0)
        assert (
            row.retained_ppm
            == (row.total_tokens - row.dup_span_tokens)
            * 1_000_000
            // row.total_tokens
        )


def _docs_frame(spark, texts: list[str]):
    return spark.createDataFrame(
        [(i, t, "synthetic") for i, t in enumerate(texts)],
        "doc_id bigint, text string, source string",
    )


def test_injected_boilerplate_is_cut_exactly(spark):
    """Two docs sharing an exact 20-token run embedded at different
    offsets produce exactly that run (±window-width slack at the
    borders only if shorter repeats exist — none here, so exact)."""
    shared = " ".join(f"boiler{i}" for i in range(20))
    a = "u0 u1 u2 u3 u4 " + shared + " tail0 tail1"
    b = "v0 " + shared + " w0 w1 w2 w3 w4 w5"
    out = dup_substring_spans(_docs_frame(spark, [a, b]), w=SPAN_W).collect()
    got = {(r.doc_id, r.span_start, r.span_end) for r in out}
    # doc 0: shared run occupies tokens 6..25; doc 1: tokens 2..21
    assert got == {(0, 6, 25), (1, 2, 21)}


def test_within_doc_repetition_is_detected(spark):
    """A single doc repeating its own 15-token block twice is a dup
    even with no second document — occurrence counting is global, not
    distinct-doc (the Lee et al. semantics: any repeated substring)."""
    block = " ".join(f"rep{i}" for i in range(SPAN_W))
    text = block + " mid0 mid1 mid2 " + block
    out = dup_substring_spans(_docs_frame(spark, [text]), w=SPAN_W).collect()
    got = {(r.span_start, r.span_end) for r in out}
    assert got == {(1, SPAN_W), (SPAN_W + 4, 2 * SPAN_W + 3)}


def test_short_docs_produce_no_windows(spark):
    texts = ["only three tokens", " ".join(f"t{i}" for i in range(SPAN_W - 1))]
    assert window_hashes(_docs_frame(spark, texts)).count() == 0
    assert dup_substring_spans(_docs_frame(spark, texts)).count() == 0


def test_apply_span_cuts_matches_brute_force(spark, sf_dir):
    """Cleaned text re-derived independently: split each doc on
    whitespace (case preserved), drop positions inside any brute-force
    span, rejoin."""
    from bigdatamlteamrepo_spark.queries.passages import apply_span_cuts

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text", "lang", "source", "n_chars").collect()
    texts = {r.doc_id: r.text for r in rows}
    spans_by_doc: dict[int, list[tuple[int, int]]] = {}
    for d, lo, hi in _brute_spans(texts, SPAN_W):
        spans_by_doc.setdefault(d, []).append((lo, hi))
    expect = {}
    for r in rows:
        cuts = spans_by_doc.get(r.doc_id)
        if not cuts:
            expect[r.doc_id] = (r.text, r.n_chars, 0)
            continue
        toks = re.split(r"\s+", r.text)
        keep = [
            t
            for i, t in enumerate(toks, start=1)
            if not any(lo <= i <= hi for lo, hi in cuts)
        ]
        clean = " ".join(keep)
        expect[r.doc_id] = (clean, len(clean), len(toks) - len(keep))

    out = apply_span_cuts(docs, dup_substring_spans(docs)).collect()
    assert len(out) == len(rows)
    for r in out:
        assert (r.text, r.n_chars, r.n_tokens_cut) == expect[r.doc_id], r.doc_id
    assert any(r.n_tokens_cut > 0 for r in out)


def test_cut_docs_shrink_dup_mass(spark, sf_dir):
    """Cutting is not idempotent in general (new adjacencies can form),
    but the duplicated-window mass must strictly shrink on the fixture
    corpus."""
    from bigdatamlteamrepo_spark.queries.passages import apply_span_cuts

    docs = load_table(spark, sf_dir, "documents")
    before = (
        dup_substring_spans(docs)
        .agg(F.sum("span_tokens").alias("t"))
        .collect()[0]
        .t
    )
    cleaned = apply_span_cuts(docs, dup_substring_spans(docs)).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    after = (
        dup_substring_spans(cleaned)
        .agg(F.sum("span_tokens").alias("t"))
        .collect()[0]
        .t
    )
    assert (after or 0) < before


def test_pipeline_span_cut_stage(spark, sf_dir, tmp_path):
    """cut_dup_spans=True leaves every stage upstream of the cut
    unchanged, ships cut-annotated docs, and never ships a doc LARGER
    than the plain build does (LM selection may legitimately pick a
    different doc SET on the cleaned text, so totals are not compared)."""
    from bigdatamlteamrepo_spark.pipelines import build_training_corpus

    plain = build_training_corpus(
        spark, sf_dir, str(tmp_path / "plain"), n_shards=2
    )
    cut = build_training_corpus(
        spark,
        sf_dir,
        str(tmp_path / "cut"),
        n_shards=2,
        cut_dup_spans=True,
    )
    p = {r.source: r for r in plain["report"].collect()}
    c = {r.source: r for r in cut["report"].collect()}
    assert p.keys() == c.keys()
    for src in p:
        assert p[src].n_gopher == c[src].n_gopher
        assert p[src].n_exact == c[src].n_exact
        assert p[src].n_neardup == c[src].n_neardup
        assert p[src].n_decontam == c[src].n_decontam

    orig_chars = {
        r.doc_id: r.n_chars
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    cut_rows = cut["selected"].select("doc_id", "n_chars", "text").collect()
    assert cut_rows
    for r in cut_rows:
        assert r.n_chars <= orig_chars[r.doc_id]
        assert r.n_chars == len(r.text)
    # the cut stage itself is pinned by the brute-force tests above;
    # whether a CUT doc ships depends on how the LM re-scores its
    # cleaned text, so shrinkage among shipped docs is reported, not
    # required — but the cut docs must exist somewhere in the corpus
    docs = load_table(spark, sf_dir, "documents")
    assert dup_substring_spans(docs).count() > 0


def test_no_python_udfs_in_span_plan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = dup_substring_spans(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Property coverage: random small-alphabet corpora (collision-heavy by
# construction) vs the independent Python brute force — the shared-bug
# defense on top of the fixture pin above.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_W = 4  # small width so short random docs still produce windows

_RAND_DOCS = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=3 * _W + 2),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(docs=_RAND_DOCS)
def test_spans_match_brute_force_on_random_corpora(spark, docs):
    texts = {i: " ".join(toks) if toks else "x" for i, toks in enumerate(docs)}
    df = spark.createDataFrame(
        [(i, t, "s") for i, t in texts.items()],
        "doc_id bigint, text string, source string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dup_substring_spans(df, w=_W).collect()
    }
    assert got == _brute_spans(texts, _W)

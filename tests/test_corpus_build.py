"""End-to-end corpus build (bigdatamlteamrepo_spark/pipelines.py):
stage monotonicity, shard/report consistency, and manifest checksum
verifiability — the composed run over the same operators the registry
value-checks individually."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.pipelines import build_training_corpus
from bigdatamlteamrepo_spark.queries.shards import hash32
from bigdatamlteamrepo_spark.queries.textmodel import _corpus_build_oracle


def test_build_training_corpus_end_to_end(spark, sf_dir, duck, tmp_path):
    out = str(tmp_path / "shards")
    res = build_training_corpus(spark, sf_dir, out, n_shards=4)
    report = res["report"].collect()
    assert report, "empty report"

    # the product's per-source accounting equals the independent DuckDB
    # chain behind the corpus_build_summary face (same column order)
    cols = [
        "source",
        "n_input",
        "n_gopher",
        "n_exact",
        "n_neardup",
        "n_selected",
        "chars_shipped",
    ]
    oracle = sorted(duck.execute(_corpus_build_oracle()).fetchall())
    assert [tuple(r[c] for c in cols) for r in report] == oracle
    # the report is one rollup over the stage frames: no join, and the
    # only scans of the documents table are the input and the Gopher
    # filter (every later stage is a lineage cut)
    plan = res["report"]._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"\bJoin\b", plan), plan
    assert len(re.findall(r"Relation \[[^\]]*\] parquet", plan)) <= 2, plan
    for r in report:
        # stage survivors shrink monotonically
        assert (
            r["n_input"]
            >= r["n_gopher"]
            >= r["n_exact"]
            >= r["n_neardup"]
            >= r["n_decontam"]
            >= r["n_selected"]
        ), r
        # no eval set passed: the decontamination stage is a no-op
        assert r["n_decontam"] == r["n_neardup"], r
        assert r["n_selected"] >= 0
    # something must actually ship and something must be filtered
    total_in = sum(r["n_input"] for r in report)
    total_out = sum(r["n_selected"] for r in report)
    assert 0 < total_out < total_in

    # shards on disk: row count equals the selected frame; the manifest
    # checksum re-derives from the shard files themselves
    disk = spark.read.parquet(out)
    assert disk.count() == total_out
    man = {r["shard"]: r for r in res["manifest"].collect()}
    recomputed = (
        disk.withColumn("__h", hash32(F.col("doc_id")))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("__h") % F.lit(2**63 - 1)).alias("id_checksum"),
        )
        .collect()
    )
    assert {r["shard"] for r in recomputed} == set(man)
    for r in recomputed:
        assert r["n_docs"] == man[r["shard"]]["n_docs"]
        assert r["id_checksum"] == man[r["shard"]]["id_checksum"]

    # selected docs pass the LM gate by construction: every shipped doc
    # carries a doc_id from the original corpus (no synthesis)
    orig_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    }
    shipped_ids = {r["doc_id"] for r in disk.select("doc_id").collect()}
    assert shipped_ids <= orig_ids


def test_decontamination_stage_drops_eval_overlap(spark, sf_dir, tmp_path):
    """Passing an eval set removes every survivor sharing an exact
    8-gram with it — and ONLY those — before the LM stage."""
    # baseline run: whatever ships is by construction a survivor of
    # every earlier stage — take two shipped docs as the "benchmark"
    base = build_training_corpus(spark, sf_dir, str(tmp_path / "base"), n_shards=2)
    leak_ids = [
        r["doc_id"]
        for r in base["selected"].select("doc_id").orderBy("doc_id").limit(2).collect()
    ]
    eval_docs = base["selected"].filter(
        F.col("doc_id").isin(leak_ids)
    ).select("text")
    res = build_training_corpus(
        spark,
        sf_dir,
        str(tmp_path / "shards"),
        n_shards=2,
        eval_docs=eval_docs,
    )
    rep = res["report"].collect()
    assert sum(r["n_decontam"] for r in rep) < sum(r["n_neardup"] for r in rep)
    shipped = {r["doc_id"] for r in res["selected"].select("doc_id").collect()}
    assert not shipped & set(leak_ids)
    # shipped docs share no 8-gram with the eval set
    from bigdatamlteamrepo_spark.functions.text import shingles, tokenize
    from bigdatamlteamrepo_spark.queries.pipeline import _DECON_W

    ev = {
        r["g"]
        for r in eval_docs.select(
            F.explode(shingles(tokenize("text"), _DECON_W)).alias("g")
        ).collect()
    }
    ship_grams = res["selected"].select(
        "doc_id", F.explode(shingles(tokenize("text"), _DECON_W)).alias("g")
    )
    hits = [r for r in ship_grams.collect() if r["g"] in ev]
    assert not hits, hits[:3]


def test_neardup_representative_chosen_among_survivors(spark, tmp_path):
    """A near-dup cluster whose corpus-global min doc_id FAILS the
    Gopher gate must still ship exactly one surviving member — the
    representative is chosen among stage-2 survivors, not from the raw
    corpus (regression: the old rep = component min could be a ghost,
    silently dropping every copy of the cluster's content)."""
    # cluster source "dup": doc 0 fails Gopher (13+ char word), docs
    # 1 and 2 pass and are near-dups of 0 and each other (>= 0.5
    # shingle Jaccard via the shared repeated base text)
    base = [
        "the", "quick", "brown", "horse", "jumps", "water",
        "table", "and", "chairs", "light",
    ] * 6
    d0 = " ".join(base + ["pneumonoultramicroscopicsilico"])
    d1 = " ".join(base)
    d2 = " ".join(base + ["extra"])

    # filler source "fill": unique Gopher-passing docs with disjoint
    # vocab (no 3-token shingle is shared across docs)
    def filler(i: int) -> str:
        toks = ["the", "and"]
        for j in range(58):
            n = i * 58 + j
            w = ""
            for _ in range(5):
                w += chr(ord("a") + n % 26)
                n //= 26
            toks.append(w)
        return " ".join(toks)

    rows = [
        (0, d0, "en", "dup", len(d0)),
        (1, d1, "en", "dup", len(d1)),
        (2, d2, "en", "dup", len(d2)),
    ] + [(10 + i, filler(i), "en", "fill", len(filler(i))) for i in range(9)]
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{corpus}/documents.parquet")

    res = build_training_corpus(
        spark, corpus, str(tmp_path / "shards"), n_shards=2
    )
    rep = {r["source"]: r for r in res["report"].collect()}
    # doc 0 gophered out; docs 1,2 survive stages 1-2; the near-dup
    # stage must keep exactly one of them (min survivor = doc 1)
    assert rep["dup"]["n_gopher"] == 2, rep["dup"]
    assert rep["dup"]["n_exact"] == 2, rep["dup"]
    assert rep["dup"]["n_neardup"] == 1, rep["dup"]
    survivors = {
        r["doc_id"]
        for r in res["selected"].filter(F.col("source") == "dup")
        .select("doc_id")
        .collect()
    }
    assert survivors <= {1}, survivors


def test_decontamination_cut_mode_ships_cleaned_docs(spark, sf_dir, tmp_path):
    """decon_mode='cut' ships every pre-decon survivor (no doc-level
    drop), yet shipped text shares zero 8-grams with the eval set —
    the keep-the-data-lose-the-leak trade."""
    base = build_training_corpus(spark, sf_dir, str(tmp_path / "b2"), n_shards=2)
    leak_ids = [
        r["doc_id"]
        for r in base["selected"].select("doc_id").orderBy("doc_id").limit(2).collect()
    ]
    eval_docs = base["selected"].filter(
        F.col("doc_id").isin(leak_ids)
    ).select("text")
    # cut_dup_spans=True as well: span cutting runs BEFORE decon, so
    # any eval gram a dup-span cut splices together is still caught —
    # the zero-overlap assertion below is the regression net for the
    # stage ordering
    res = build_training_corpus(
        spark,
        sf_dir,
        str(tmp_path / "s2"),
        n_shards=2,
        eval_docs=eval_docs,
        decon_mode="cut",
        cut_dup_spans=True,
    )
    rep = {r["source"]: r for r in res["report"].collect()}
    for src, r in rep.items():
        assert r["n_decontam"] == r["n_neardup"], src  # nothing dropped

    from bigdatamlteamrepo_spark.functions.text import shingles, tokenize
    from bigdatamlteamrepo_spark.queries.pipeline import _DECON_W

    ev = {
        r["g"]
        for r in eval_docs.select(
            F.explode(shingles(tokenize("text"), _DECON_W)).alias("g")
        ).collect()
    }
    ship_grams = res["selected"].select(
        "doc_id", F.explode(shingles(tokenize("text"), _DECON_W)).alias("g")
    )
    hits = [r for r in ship_grams.collect() if r["g"] in ev]
    assert not hits, hits[:3]


def test_quality_stage_threshold_and_accounting(spark, sf_dir, tmp_path):
    from bigdatamlteamrepo_spark.ml.quality import (
        score_documents_expr,
        train_quality_classifier,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qm = train_quality_classifier(docs)  # raw corpus: both label classes

    base = build_training_corpus(spark, sf_dir, str(tmp_path / "qb"), n_shards=2)
    assert "n_quality" not in base["report"].columns

    res = build_training_corpus(
        spark,
        sf_dir,
        str(tmp_path / "qt"),
        n_shards=2,
        quality_model=qm,
        quality_threshold=0.5,
    )
    report = res["report"].collect()
    assert "n_quality" in res["report"].columns
    for r in report:
        assert r["n_decontam"] >= r["n_quality"] >= r["n_selected"], r

    # exact pin: with no eval set / span cuts, the quality stage's input
    # is the near-dup survivor set (s3); n_quality must equal the count
    # of s3 docs scoring >= the threshold under the same model.  (At
    # threshold 0.5 this may be ALL of them — the classifier was trained
    # to generalize the very rules the survivors already passed.)
    from bigdatamlteamrepo_spark.pipelines import corpus_dedup_stages

    s3_docs = corpus_dedup_stages(spark, sf_dir)["s3"]
    expected = (
        score_documents_expr(qm, s3_docs)
        .filter(F.col("quality_prob") >= 0.5)
        .count()
    )
    assert sum(r["n_quality"] for r in report) == expected

    # every shipped doc scores >= the threshold under the same model
    sel_scores = score_documents_expr(qm, res["selected"]).collect()
    assert sel_scores and all(r["quality_prob"] >= 0.5 for r in sel_scores)


def test_quality_stage_top_fraction(spark, sf_dir, tmp_path):
    from bigdatamlteamrepo_spark.ml.quality import train_quality_classifier

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qm = train_quality_classifier(docs)
    res = build_training_corpus(
        spark,
        sf_dir,
        str(tmp_path / "qf"),
        n_shards=2,
        quality_model=qm,
        quality_top_frac=0.5,
    )
    report = res["report"].collect()
    tot_q = sum(r["n_quality"] for r in report)
    tot_decon = sum(r["n_decontam"] for r in report)
    # quantile cut keeps about half the scored survivors (ties and the
    # zero-term conservative drop move the boundary only)
    assert 0.3 * tot_decon <= tot_q <= 0.7 * tot_decon
    for r in report:
        assert r["n_decontam"] >= r["n_quality"] >= r["n_selected"], r


def test_quality_stage_mutually_exclusive_knobs(spark, sf_dir, tmp_path, monkeypatch):
    """Bad arguments fail before any Spark work: the first corpus stage
    function is replaced by one that raises, so reaching it fails the test."""
    import pytest

    from bigdatamlteamrepo_spark import pipelines

    def _no_spark_work(*a, **kw):
        raise AssertionError("argument check ran after the dedup stages")

    monkeypatch.setattr(pipelines, "corpus_dedup_stages", _no_spark_work)
    with pytest.raises(ValueError, match="mutually exclusive"):
        build_training_corpus(
            spark,
            sf_dir,
            str(tmp_path / "qx"),
            quality_threshold=0.5,
            quality_top_frac=0.5,
        )
    # a decon_mode typo is rejected even with no eval set given
    with pytest.raises(ValueError, match="decon_mode"):
        build_training_corpus(spark, sf_dir, str(tmp_path / "dx"), decon_mode="cutt")


def test_assign_splits_is_leakage_safe_and_gate_stable(spark, sf_dir, tmp_path):
    """assign_splits=True: every shipped doc carries train/val/test;
    no verified near-dup pair among shipped docs crosses splits; and a
    doc's split is invariant to which gates ran (the rep hash depends
    on the corpus-global cluster, not on survivorship)."""
    from pyspark.sql import functions as F

    from bigdatamlteamrepo_spark.queries.text_dedup import ngram_jaccard_pairs

    res = build_training_corpus(
        spark, sf_dir, str(tmp_path / "sp1"), n_shards=2, assign_splits=True
    )
    sel = res["selected"].select("doc_id", "split")
    rows = {r.doc_id: r.split for r in sel.collect()}
    assert rows and set(rows.values()) <= {"train", "val", "test"}

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b").collect()
    for p in pairs:
        if p.doc_a in rows and p.doc_b in rows:
            assert rows[p.doc_a] == rows[p.doc_b]

    # splits survive into the written shards
    shards = spark.read.parquet(str(tmp_path / "sp1"))
    assert "split" in shards.columns
    got = {r.doc_id: r.split for r in shards.select("doc_id", "split").collect()}
    assert got == rows

    # gate-stability: a stricter build never relabels a shipped doc
    res2 = build_training_corpus(
        spark,
        sf_dir,
        str(tmp_path / "sp2"),
        n_shards=2,
        quality_top_frac=0.8,
        assign_splits=True,
    )
    rows2 = {r.doc_id: r.split for r in res2["selected"].select("doc_id", "split").collect()}
    for d, s in rows2.items():
        if d in rows:
            assert s == rows[d]


def test_split_aware_shard_layout(spark, sf_dir, tmp_path):
    """assign_splits partitions the written layout by (split, shard):
    reading one split's directory yields exactly that split's docs, and
    the manifest keys and checksums verify per (split, shard)."""
    from pyspark.sql import functions as F

    from bigdatamlteamrepo_spark.queries.shards import hash32

    out = str(tmp_path / "spl")
    res = build_training_corpus(
        spark, sf_dir, out, n_shards=2, assign_splits=True
    )
    sel = {
        r.doc_id: r.split
        for r in res["selected"].select("doc_id", "split").collect()
    }
    man = res["manifest"].collect()
    assert {"split", "shard"} <= set(res["manifest"].columns)
    assert sum(r.n_docs for r in man) == len(sel)

    val_ids = {
        r.doc_id
        for r in spark.read.parquet(out)
        .filter(F.col("split") == "val")
        .select("doc_id")
        .collect()
    }
    assert val_ids == {d for d, s in sel.items() if s == "val"}

    # checksum re-derivation: an independent reader can verify a cell
    cell = man[0]
    cell_df = (
        spark.read.parquet(out)
        .filter(
            (F.col("split") == cell.split) & (F.col("shard") == cell.shard)
        )
        .select("doc_id")
    )
    got = cell_df.select(
        (F.sum(hash32(F.col("doc_id"))) % F.lit(2**63 - 1)).alias("c")
    ).collect()[0].c
    assert got == cell.id_checksum

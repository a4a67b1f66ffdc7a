"""End-to-end training-corpus build: the composed pipeline a user of
this engine actually runs — every stage is an operator the registry
already value-checks individually; this module wires them into one
materializing run with per-stage accounting.

    raw documents
      → Gopher quality gate          (queries/pipeline.gopher_rule_flags)
      → exact dedup (keep-min)       (md5 text key, per lang)
      → near-dup dedup (keep-rep)    (LSH candidates → Jaccard verify →
                                      connected components → min id)
      → eval decontamination         (optional: drop survivors sharing
                                      any exact 8-gram with ``eval_docs``
                                      — broadcast gram join, the
                                      doc_eval_contamination plan)
      → model quality selection      (optional: ml/quality.py n-gram LR
                                      scored via the expression path,
                                      threshold or top-fraction cut)
      → LM perplexity selection      (queries/textmodel.doc_lm_perplexity,
                                      tercile ≤ 2 — CCNet head/middle)
      → deterministic shard write    (sources/shard_writer)

Stage order is deliberate: the cheap row-local gate first (codegen
scan), exact dedup second (one hash groupBy removes the easy mass
before the LSH machinery runs), fuzzy dedup third, the model-based
selection last (the LM trains on the deduped corpus — training it on
raw duplicated text would bias the perplexity head toward boilerplate,
the CCNet caveat).  Every decision frame is per-document and
key-collapsed; no stage widens the data beyond the token explodes its
operator already documents.

The always-on decision chain (Gopher → exact → near-dup, then LM
selection) is :func:`corpus_dedup_stages` plus :func:`lm_select`; the
registered accounting faces (queries/textmodel.corpus_build_summary,
corpus_survivor_ids) call the same two functions, so they count
exactly what the product ships.  The per-source report is
:func:`stage_report`, which the product and corpus_build_summary
share: one union of the stage frames and one conditional rollup.

At 100 TB each arrow is the same plan the registered query proves at
driver SFs.  The Gopher gate is a row-local filter; the later stages
glue their survivors together with left-semi/anti joins on doc_id,
and the build ends in one repartition-by-shard write.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.operators import checkpoint


def corpus_dedup_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Stages 1–3 of the decision chain, exactly as the product runs
    them: ``{"docs": input, "s1": Gopher survivors, "s2": exact-dedup
    keepers, "s3": near-dup keepers, "labels": (node, component)
    near-dup clusters}``.  s1–s3 are document frames (every input
    column); s2 and s3 are lineage cuts.  The build and the registered
    accounting faces (queries/textmodel.corpus_build_summary,
    corpus_survivor_ids) all run this one chain."""
    from bigdatamlteamrepo_spark.operators.graph import connected_components
    from bigdatamlteamrepo_spark.queries.pipeline import (
        gopher_pass,
        gopher_rule_flags,
    )
    from bigdatamlteamrepo_spark.queries.text_dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")

    # ---- stage 1: Gopher quality gate (row-local flags, one scan)
    s1 = (
        gopher_rule_flags(docs, *docs.columns)
        .filter(gopher_pass() == 1)
        .select(*docs.columns)
    )

    # ---- stage 2: exact dedup — keep the min doc_id per (lang, md5)
    exact_keep = (
        s1.groupBy("lang", F.md5("text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s2 = checkpoint.truncate(s1.join(exact_keep, "doc_id", "left_semi"))

    # ---- stage 3: near-dup dedup — keep each cluster's min id.
    # Pairs come from the registered LSH→verify plan over the full
    # corpus (dedup decisions are corpus-level facts); survivors of
    # earlier stages are then filtered by the keep rule.
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    clustered = labels.select(F.col("node").alias("doc_id"))
    # The representative must be chosen AMONG STAGE-2 SURVIVORS: the
    # corpus-global component min may already have been removed by the
    # Gopher gate or exact dedup, and keeping only that ghost would
    # silently drop every surviving copy of the cluster's content.
    # Restrict labels to s2, then keep min(doc_id) per component — each
    # cluster with any surviving member ships exactly one.
    reps = (
        labels.join(
            s2.select(F.col("doc_id").alias("node")), "node", "left_semi"
        )
        .groupBy("component")
        .agg(F.min("node").alias("doc_id"))
        .select("doc_id")
    )
    # survive iff not in any near-dup cluster, or the cluster's
    # surviving representative
    s3 = checkpoint.truncate(
        s2.join(clustered, "doc_id", "left_anti").unionByName(
            s2.join(reps, "doc_id", "left_semi")
        )
    )
    return {"docs": docs, "s1": s1, "s2": s2, "s3": s3, "labels": labels}


def lm_select(frame: DataFrame, lm: DataFrame | None = None) -> DataFrame:
    """Stage 4 of the decision chain: keep ``frame``'s documents whose
    bigram-LM perplexity tercile is ≤ 2 (CCNet head/middle), as a
    lineage cut.  The LM trains on ``frame`` itself — the SAME plan as
    the registered queries/textmodel.doc_lm_perplexity, scoring the
    survivor frame directly — unless a precomputed (doc_id,
    ppl_tercile) frame is passed as ``lm``."""
    from bigdatamlteamrepo_spark.queries.textmodel import lm_perplexity_frame

    if lm is None:
        lm = lm_perplexity_frame(frame.select("doc_id", "lang", "text"))
    keep_lm = lm.filter(F.col("ppl_tercile") <= 2).select("doc_id")
    return checkpoint.truncate(frame.join(keep_lm, "doc_id", "left_semi"))


def stage_report(stages: dict[str, DataFrame]) -> DataFrame:
    """Per-source stage accounting in one rollup.  ``stages`` maps each
    report column to its document frame, in funnel order; the result
    is ``source``, one document count per entry and ``chars_shipped``
    (the ``n_chars`` sum of the last entry).  The frames' ``(source,
    n_chars)`` projections are unioned with their stage index and
    counted by one conditional ``groupBy`` — no join, so a stage that
    lost every document of a source counts 0."""
    frames = [
        df.select("source", "n_chars", F.lit(i).alias("stage"))
        for i, df in enumerate(stages.values())
    ]
    stage, last = F.col("stage"), len(frames) - 1
    return reduce(DataFrame.unionAll, frames).groupBy("source").agg(
        *[F.count(F.when(stage == i, 1)).alias(n) for i, n in enumerate(stages)],
        F.sum(F.when(stage == last, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_shipped"),
    )


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int = 8,
    lm: DataFrame | None = None,
    eval_docs: DataFrame | None = None,
    cut_dup_spans: bool = False,
    decon_mode: str = "drop",
    quality_model=None,
    quality_threshold: float | None = None,
    quality_top_frac: float | None = None,
    assign_splits: bool = False,
) -> dict[str, DataFrame]:
    """Run the full build; write shards to ``out_dir``; return
    ``{"report": per-source stage accounting, "manifest": shard
    manifest, "selected": the shipped documents frame}``.

    ``lm`` accepts a precomputed perplexity frame (doc_id,
    ppl_tercile); by default the bigram LM is trained on the
    POST-DEDUP corpus (see module docstring).

    ``cut_dup_spans``: when True, repeated ≥15-token spans among the
    survivors are cut from document TEXT (ExactSubstr, Lee et al.)
    after dedup and BEFORE decontamination (a cut can splice a new
    eval-matching gram; decon must see the cut text) — span-level
    surgery for the boilerplate that doc-level keep-rep cannot remove.

    ``eval_docs``: an optional (text) frame of held-out benchmark
    documents.  With ``decon_mode="drop"`` (default) survivors sharing
    ANY exact 8-token gram with it are removed whole; with
    ``decon_mode="cut"`` only the contaminated spans are cut from the
    text (queries/pipeline.surgical_decontaminate, iterated to a
    zero-overlap fixpoint) and the doc ships — the
    keep-the-data-lose-the-leak trade.  Either way the removal happens
    (decontamination) before the LM stage, so the selection
    model never trains on leaked eval content either.

    ``quality_threshold`` / ``quality_top_frac`` (mutually exclusive)
    enable the MODEL-BASED quality stage (ml/quality.py): score every
    decon survivor through the pure-expression path (broadcast
    (term, weight) join — no vectors at corpus scale) and keep docs
    with ``quality_prob >= quality_threshold``, or the top fraction by
    score via exact quantile-threshold selection
    (operators/sampling.select_top_fraction).  ``quality_model``
    accepts a prefit
    :class:`~bigdatamlteamrepo_spark.ml.quality.QualityModel`; by
    default one is trained on the RAW input corpus — the Gopher
    pseudo-labels are degenerate on post-Gopher survivors (all
    positive), so the classifier must see the full label distribution.
    Docs whose text yields zero terms never reach the scorer and are
    conservatively dropped by this stage (the <2-bigram LM convention).
    The stage runs after decontamination and before LM selection, so
    the perplexity model trains on quality-passing text only.  When
    active, the report gains an ``n_quality`` column.

    ``assign_splits``: when True the shipped docs (and shards) carry a
    ``split`` column — train/val/test hashed on the near-dup-cluster
    representative, so no verified near-dup pair straddles the eval
    boundary (the leakage_safe_split_summary guarantee, materialized).
    """
    from bigdatamlteamrepo_spark.sources.shard_writer import write_training_shards

    # argument checks run before the first Spark job
    if decon_mode not in ("drop", "cut"):
        raise ValueError(f"decon_mode must be 'drop' or 'cut': {decon_mode!r}")
    if quality_threshold is not None and quality_top_frac is not None:
        raise ValueError(
            "quality_threshold and quality_top_frac are mutually exclusive"
        )

    stages = corpus_dedup_stages(spark, sf_dir)
    docs, s1, s2, s3, labels = (
        stages[k] for k in ("docs", "s1", "s2", "s3", "labels")
    )

    # ---- stage 3.25 (optional): exact-substring span cutting — the
    # ExactSubstr pass (Lee et al.): repeated ≥15-token spans among the
    # SURVIVORS are cut from the text (not whole-doc removal), so
    # residual cross-doc boilerplate that near-dup's doc-level keep-rep
    # left behind never reaches the LM or the shards.  Spans are
    # derived from survivors only: content that lived exclusively in
    # dropped docs must not trigger cuts in kept ones.  This stage runs
    # BEFORE decontamination: a cut can splice its flanking tokens into
    # a new eval-matching 8-gram, and only the decon stage can see that
    # — the reverse order would re-leak what decon just removed.
    if cut_dup_spans:
        from bigdatamlteamrepo_spark.queries.passages import (
            apply_span_cuts,
            dup_substring_spans,
        )

        spans = dup_substring_spans(s3)
        s3cut = checkpoint.truncate(
            apply_span_cuts(s3, spans).drop("n_tokens_cut")
        )
    else:
        s3cut = s3

    # ---- stage 3.5 (optional): eval decontamination — drop survivors
    # sharing any exact 8-gram with the held-out eval set.  The eval
    # gram table is benchmark-sized and broadcast; the corpus side is
    # one explode + broadcast-hash-semi-join (the
    # queries/pipeline.doc_eval_contamination plan).
    if eval_docs is not None:
        from bigdatamlteamrepo_spark.functions.text import shingles, tokenize
        from bigdatamlteamrepo_spark.queries.pipeline import _DECON_W

        ev_grams = (
            eval_docs.select(
                F.explode(shingles(tokenize("text"), _DECON_W)).alias("gram")
            )
            .distinct()
        )
        if decon_mode == "cut":
            from bigdatamlteamrepo_spark.queries.pipeline import (
                surgical_decontaminate,
            )

            s35 = checkpoint.truncate(
                surgical_decontaminate(s3cut, ev_grams).drop("n_tokens_cut")
            )
        else:
            contaminated = (
                s3cut.select("doc_id", F.explode(shingles(tokenize("text"), _DECON_W)).alias("gram"))
                .join(F.broadcast(ev_grams), "gram")
                .select("doc_id")
                .distinct()
            )
            s35 = checkpoint.truncate(
                s3cut.join(contaminated, "doc_id", "left_anti")
            )
    else:
        s35 = s3cut

    # ---- stage 3.75 (optional): model-based quality selection —
    # score the decon survivors with the n-gram LR classifier through
    # the expression path (ml/quality.py: one scan + broadcast weights
    # join + doc-keyed sum, codegen end to end) and keep by absolute
    # threshold or top-fraction quantile cut.  Trained on the RAW
    # corpus (see docstring: survivor-only labels are degenerate).
    if quality_threshold is not None or quality_top_frac is not None:
        from bigdatamlteamrepo_spark.ml.quality import (
            score_documents_expr,
            train_quality_classifier,
        )
        from bigdatamlteamrepo_spark.operators.sampling import (
            select_top_fraction,
        )

        qm = quality_model or train_quality_classifier(docs)
        scores = score_documents_expr(qm, s35)
        if quality_threshold is not None:
            q_keep = scores.filter(F.col("quality_prob") >= quality_threshold)
        else:
            q_keep = select_top_fraction(scores, "quality_prob", quality_top_frac)
        s375 = checkpoint.truncate(
            s35.join(q_keep.select("doc_id"), "doc_id", "left_semi")
        )
    else:
        s375 = s35

    # ---- stage 4: LM perplexity selection (head/middle terciles),
    # trained on the survivors of every earlier stage by default
    selected = lm_select(s375, lm)

    # ---- per-source stage accounting (before split labels: the
    # shipped set is the same, and every counted frame is a scan or a
    # lineage cut)
    funnel = dict(n_input=docs, n_gopher=s1, n_exact=s2, n_neardup=s3, n_decontam=s35)
    if s375 is not s35:
        funnel["n_quality"] = s375
    funnel["n_selected"] = selected
    report = stage_report(funnel).orderBy("source")

    # ---- stage 4.5 (optional): leakage-safe split labels — every
    # shipped doc carries train/val/test hashed on its near-dup-cluster
    # representative (queries/pipeline.leakage_safe_split_summary), so
    # no verified near-dup pair can straddle the eval boundary.  The
    # component labels from stage 3 are reused (zero extra shuffles);
    # rep = corpus-global component min, singletons their own rep —
    # the split of a doc never depends on which cluster members
    # survived, so re-running the build with different gates can never
    # move a doc across splits.
    if assign_splits:
        from bigdatamlteamrepo_spark.queries.pipeline import split_of

        rep = labels.select(F.col("node").alias("doc_id"), "component")
        selected = (
            selected.join(rep, "doc_id", "left")
            .withColumn(
                "split",
                split_of(F.coalesce(F.col("component"), F.col("doc_id"))),
            )
            .drop("component")
        )

    # ---- stage 5: deterministic shard write + manifest (split-aware
    # layout when splits were assigned: loaders list only their split)
    manifest = write_training_shards(
        selected,
        out_dir,
        n_shards=n_shards,
        split_col="split" if assign_splits else None,
    )

    return {"report": report, "manifest": manifest, "selected": selected}

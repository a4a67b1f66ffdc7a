"""Set-similarity self-join with prefix filtering (AllPairs/PPJoin
family — Bayardo et al., "Scaling Up All Pairs Similarity Search",
WWW'07; Xiao et al., PPJoin, WWW'08).

The scalable alternative to token-blocking for fuzzy joins: blocking on
EVERY shared token floods the join with pairs that share only stopword-
frequency tokens (at web scale, one hot token can produce billions of
candidates).  Prefix filtering is lossless for Jaccard ≥ τ: order each
record's distinct tokens by ascending global document frequency (rarest
first, ties broken lexically — any TOTAL order works as long as both
records use the same one) and emit only the first

    p = n - ceil(τ·n) + 1

tokens as join keys (n = record's set size).  Two records with
J(a,b) ≥ τ must share at least one PREFIX token: if they shared none,
the overlap would be confined to the (n-p) suffix tokens of both, but
|a∩b| ≥ ceil(τ·max(|a|,|b|)) > n - p for either side — contradiction.
Candidates are verified with the exact Jaccard, so the join output is
identical to brute force (asserted against the O(n²) baseline in
tests/test_setjoin.py) while the candidate volume is governed by RARE
token co-occurrence only.

Spark shape (all built-in expressions, no UDFs):

  1. explode distinct tokens → global df per token (one groupBy,
     map-side combine);
  2. re-join df onto the exploded tokens, sort each record's tokens by
     (df, token) via array_sort over structs, slice the prefix;
  3. self-equi-join on prefix token (id_a < id_b) + size-compatibility
     pruning  min(n_a,n_b) ≥ τ·max(n_a,n_b)  (J ≤ min/max) + the
     PPJoin POSITIONAL filter: a prefix token at (1-based) rank i of a
     and j of b bounds the overlap by 1 + min(n_a−i, n_b−j) when no
     earlier token is shared, and J ≥ τ needs overlap ≥
     ceil(τ·(n_a+n_b)/(1+τ)); a pair is kept if ANY shared prefix
     occurrence passes — its FIRST shared token always carries a valid
     bound, so the filter is lossless while killing the tail-meets-tail
     candidates that dominate closed-vocabulary corpora;
  4. distinct candidate pairs → exact Jaccard verify ≥ τ.

At 100 TB: step 1-2 shuffle on token (uniform-ish after the rarest-
first trick keeps hot tokens OUT of prefixes for large records), step 3
shuffles on prefix tokens whose frequency is by construction low, and
the verify join moves only candidate rows.  No stage is quadratic in
the table size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.operators.checkpoint import truncate


#: τ is carried as the exact rational round(τ·1000)/1000 so prefix
#: lengths and size pruning are integer arithmetic — float ceil(τ·n)
#: can round the wrong way exactly at integer multiples (0.6·5), which
#: would silently shorten a prefix and break losslessness.
_TAU_DEN = 1000


def _prefix_len(n: Column, tau_num: int) -> Column:
    """p = n - ceil(τ·n) + 1, with ceil(a/b) = (a + b - 1) div b."""
    ceil_tn = (n * F.lit(tau_num) + F.lit(_TAU_DEN - 1)) / F.lit(_TAU_DEN)
    return n - ceil_tn.cast("int") + F.lit(1)


class CandidateVolumeExceeded(RuntimeError):
    """The prefix join's predicted candidate volume exceeds the guard
    bound — the corpus is in the regime where an EXACT set-similarity
    join is inherently super-linear (SCALING.md: measured 4→10→28 s at
    5k/20k/80k docs on a closed vocabulary with the positional filter;
    83.6 s at 80k before it).  Use the LSH
    candidates-then-verify path (queries/text_dedup.py
    lsh_candidate_pairs / ngram_jaccard_pairs) when approximate recall
    is acceptable, or raise ``max_candidates`` deliberately."""


#: default candidate guard: refuse plans predicted to shuffle more
#: than this many raw candidate rows (the honest Ω(n²) signal).
_DEFAULT_MAX_CANDIDATES = 50_000_000


def prefix_jaccard_join(
    sets: DataFrame,
    threshold: float,
    id_col: str = "id",
    set_col: str = "s",
    max_candidates: int | None = _DEFAULT_MAX_CANDIDATES,
) -> DataFrame:
    """All pairs (id_a < id_b) with Jaccard(set_a, set_b) ≥ threshold.

    ``sets``: one row per record, ``set_col`` an array of DISTINCT
    tokens.  Returns (id_a, id_b, jaccard).  Exact — identical result
    to the brute-force all-pairs join (prefix filtering is lossless).

    **Candidate-volume guard**: before building the self-join, the
    per-token prefix frequencies (a metadata-sized agg over the
    already-materialized prefix frame) predict the raw candidate count
    as Σ_t C(n_t, 2) — an upper bound on the join's output rows (each
    pair is counted once per shared prefix token; size pruning only
    shrinks it).  If the prediction exceeds ``max_candidates`` the
    operator raises :class:`CandidateVolumeExceeded` pointing at the
    LSH path instead of silently launching a quadratic shuffle — the
    engine-enforced form of the Ω(n²) honesty documented in SCALING.md.
    Pass ``max_candidates=None`` to disable (benchmarks, small known
    corpora)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    tau_num = round(threshold * _TAU_DEN)
    base = sets.select(
        F.col(id_col).alias("id"), F.col(set_col).alias("s"), F.size(set_col).alias("size")
    )
    # materialize once: token df, prefix build, and verify all read it
    base = truncate(base)

    tok = base.select("id", "size", F.explode("s").alias("t"))
    df_tok = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    # rarest-first total order: sort struct(df, token) — array_sort on
    # structs orders lexicographically by field, giving the global
    # (df, token) order every record agrees on
    ordered = (
        tok.join(df_tok, "t")
        .groupBy("id", "size")
        .agg(F.array_sort(F.collect_list(F.struct("df", "t"))).alias("ord"))
    )
    p = _prefix_len(F.col("size"), tau_num)
    # posexplode: pos is the token's 1-based rank in the record's FULL
    # rarest-first order (the prefix is its first p entries), feeding
    # the positional filter below
    prefix = ordered.select(
        "id",
        "size",
        F.posexplode(F.transform(F.slice("ord", 1, p), lambda x: x["t"])),
    ).select(
        "id", "size", (F.col("pos") + 1).alias("pos"), F.col("col").alias("t")
    )
    if max_candidates is not None:
        # materialize the prefix frame so the estimator pass and the
        # join read it once; the estimate itself is one tiny agg
        prefix = truncate(prefix)
        est_row = (
            prefix.groupBy("t")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.sum(
                    (F.col("n").cast("double") * (F.col("n") - 1) / 2)
                ).alias("est")
            )
            .collect()[0]
        )
        est = int(est_row["est"] or 0)
        if est > max_candidates:
            raise CandidateVolumeExceeded(
                f"prefix join predicts ~{est:,} candidate rows "
                f"(> max_candidates={max_candidates:,}); this corpus is in "
                "the super-linear regime for exact set-similarity joins — "
                "use the LSH candidates-then-verify path "
                "(queries/text_dedup.py) or raise max_candidates explicitly"
            )
    a, b = prefix.alias("a"), prefix.alias("b")
    size_ok = F.least(F.col("a.size"), F.col("b.size")) * F.lit(_TAU_DEN) >= F.greatest(
        F.col("a.size"), F.col("b.size")
    ) * F.lit(tau_num)
    # PPJoin positional filter (Xiao et al. WWW'08): J ≥ τ needs
    # overlap ≥ α = ceil(τ·(n_a+n_b)/(1+τ)); a shared prefix token at
    # ranks (i, j) with no earlier shared token bounds the overlap by
    # 1 + min(n_a−i, n_b−j).  Keeping a pair when ANY occurrence
    # passes is lossless: a true pair's first shared token carries a
    # valid bound ≥ overlap ≥ α.  All integer: ×(den+num) both sides.
    sum_sz = F.col("a.size") + F.col("b.size")
    ubound = F.lit(1) + F.least(
        F.col("a.size") - F.col("a.pos"), F.col("b.size") - F.col("b.pos")
    )
    pos_ok = ubound * F.lit(_TAU_DEN + tau_num) >= sum_sz * F.lit(tau_num)
    cand = (
        a.join(b, (F.col("a.t") == F.col("b.t")) & (F.col("a.id") < F.col("b.id")))
        .filter(size_ok & pos_ok)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = base.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = base.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def brute_force_jaccard_join(
    sets: DataFrame,
    threshold: float,
    id_col: str = "id",
    set_col: str = "s",
) -> DataFrame:
    """O(n²) baseline for the lossless-ness test.  Never register this."""
    base = sets.select(F.col(id_col).alias("id"), F.col(set_col).alias("s"))
    sa = base.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = base.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    return (
        sa.join(sb, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )

"""Sampling / splitting / class-rebalancing operators (SURVEY.md §2.5).

The reference uses these as first-class dataset operators:
  * fixed-size uniform sample  (model.py:42 ``df.sample(n=10000,
    random_state=1010)``; model.py:192 unseeded ``sample(5000)``)
  * fractional random split    (MLP.ipynb:c0:58 ``randomSplit([.8,.2])``)
  * three-way train/val/test   (model.py:90-91 two-stage sklearn split)
  * random undersampling to class balance (MLP.ipynb:c0:35-45)
  * class-weight computation   (MLP.ipynb:c1:31-40, via a dict-lookup UDF)

Spark-first re-expression, with determinism fixes (the reference leaves
two of these unseeded — everything here takes an explicit seed):

  * exact-n sampling has no native Spark op → ``orderBy(rand(seed)).
    limit(n)``.  This is a total sort: fine for the reference's 10k-row
    use, but at 100 TB prefer ``DataFrame.sample(fraction, seed=…)``
    (per-row Bernoulli, no shuffle) unless exactness is required — the
    docstring of each function states its shuffle cost.
  * undersampling = per-class exact-n via a single window pass (one
    shuffle on the class key) rather than N filtered sorts.
  * class weights = broadcast join against the tiny count aggregate —
    replaces the reference's driver-side dict + Python UDF (U1), keeping
    the whole plan in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sample_exact_n(df: DataFrame, n: int, seed: int | None = 42, by: Column | str | None = None) -> DataFrame:
    """Exactly-n uniform random sample (R1), seeded by default.

    ``seed=None`` is *faithful mode*: the reference leaves both of its
    exact-n samples unseeded (model.py:192 ``sample(5000)``,
    MLP.ipynb:c0:42 ``orderBy(rand())``) — nondeterministic on purpose
    only there; default engine behavior is reproducible.

    Cost: total sort by rand — a full shuffle of the input.  Use for
    bounded outputs (the reference's 10k/5k fine-tune samples); at
    cluster scale prefer a seeded ``DataFrame.sample`` (per-row
    Bernoulli, no shuffle) when ±√n slack is fine.
    ``TakeOrderedAndProject`` keeps only n rows per partition then n
    overall, so memory stays bounded even though the sort is global.
    """
    rand = F.rand() if seed is None else F.rand(seed)
    return df.orderBy(rand).limit(n)


def random_split(df: DataFrame, weights: list[float], seed: int) -> list[DataFrame]:
    """Fractional random split (R2): native ``randomSplit``, seeded.

    Spark semantics are per-row Bernoulli (approximate counts) vs
    sklearn's exact-count split (R3) — tests assert the partition
    property (disjoint, union-complete), not exact sizes (FIXTURES §6).
    """
    return df.randomSplit(weights, seed=seed)


def train_val_test_split(
    df: DataFrame, train: float = 0.765, val: float = 0.135, test: float = 0.10, seed: int = 42
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Three-way split (R3) — the reference's two-stage 90/10 → 85/15
    sklearn split (model.py:90-91) collapses to one 76.5/13.5/10 split."""
    a, b, c = df.randomSplit([train, val, test], seed=seed)
    return a, b, c


def undersample_to_balance(
    df: DataFrame, label_col: str, seed: int, id_cols: list[str] | None = None
) -> DataFrame:
    """Random undersampling to the minority-class count (R4).

    Reference idiom (MLP.ipynb:c0:35-45): filter each class, sort the
    majority by unseeded ``rand()``, limit to the minority count, union.
    That is two scans + a total sort and is nondeterministic.

    Here: one pass — window ``row_number`` over ``rand(seed)`` per
    class, keep rows ranked below the min class count.  One shuffle on
    the label key regardless of the number of classes; no action is
    triggered to learn the minority count (it's a scalar subquery via a
    window over the count aggregate).
    """
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("__cnt"))
    min_cnt = counts.agg(F.min("__cnt").alias("__min_cnt"))
    w = Window.partitionBy(label_col).orderBy(F.rand(seed))
    ranked = df.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(min_cnt))
        .filter(F.col("__rn") <= F.col("__min_cnt"))
        .drop("__rn", "__min_cnt")
    )


def class_weights(df: DataFrame, label_col: str, weight_col: str = "classWeightCol") -> DataFrame:
    """Attach ``weight = majority_count / class_count`` per row (R5).

    Replaces the reference's collect-to-driver dict + Python UDF
    (MLP.ipynb:c1:31-40) with a broadcast join against the class-count
    aggregate — no Python boundary, no driver round-trip, and the
    weight computation stays consistent under AQE re-planning.
    """
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("__cnt"))
    majority = counts.agg(F.max("__cnt").alias("__max_cnt"))
    weights = counts.crossJoin(F.broadcast(majority)).select(
        label_col,
        (F.col("__max_cnt").cast("double") / F.col("__cnt").cast("double")).alias(
            weight_col
        ),
    )
    return df.join(F.broadcast(weights), on=label_col, how="inner")


def score_threshold(
    df: DataFrame,
    score_col: str,
    top_frac: float,
    approx: bool = False,
    accuracy: int = 10000,
) -> float:
    """The score value at the ``1 - top_frac`` quantile of ``score_col``
    — the cut line for "ship the top ``top_frac`` of the corpus by
    score" without ever sorting the corpus.

    ``approx=False`` uses exact ``percentile`` (full sort of the score
    COLUMN within the aggregate — fine at test/driver SFs, and the
    cross-engine-reproducible anchor: linear interpolation, same as
    DuckDB's ``quantile_cont``).  ``approx=True`` is the 100 TB path:
    ``approx_percentile`` (Greenwald-Khanna, one pass, bounded memory
    per partition, error ≤ 1/accuracy of the rank) — the threshold may
    sit a few rank-ppm off the exact cut, which moves the boundary
    docs only.  Returns a driver-side float (1-row bounded collect —
    the threshold is a scalar PARAMETER of the downstream filter, and
    baking it in as a literal keeps the selection plan a codegen
    scan-filter instead of a window/join).
    """
    if not 0.0 < top_frac <= 1.0:
        raise ValueError(f"top_frac must be in (0, 1]: {top_frac}")
    q = 1.0 - top_frac
    expr = (
        F.expr(f"approx_percentile({score_col}, {q!r}, {accuracy})")
        if approx
        else F.expr(f"percentile({score_col}, {q!r})")
    )
    row = df.agg(expr.alias("__thr")).collect()[0]
    if row["__thr"] is None:
        raise ValueError("score_threshold on an empty frame")
    return float(row["__thr"])


def select_top_fraction(
    df: DataFrame,
    score_col: str,
    top_frac: float,
) -> DataFrame:
    """Keep the rows whose ``score_col`` is ≥ the ``1 - top_frac``
    quantile — quantile-threshold selection, the scale-safe form of
    "take the best p% of 100 TB": one aggregate to learn the cut, one
    codegen filter to apply it.  No global sort, no window over the
    corpus, no driver-side ranking.

    Ties AT the threshold are all kept (the filter is ``>=``), so the
    selected fraction can exceed ``top_frac`` on plateaued scores —
    deterministic and engine-independent, unlike any tie-breaking rank.
    """
    thr = score_threshold(df, score_col, top_frac)
    return df.filter(F.col(score_col) >= thr)

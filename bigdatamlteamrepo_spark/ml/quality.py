"""Model-based document quality classifier — the CCNet/GPT-3-style
curation stage the heuristic tiers (Gopher rules, quality-score
ratios) feed: learn what "passing" documents look like, then score the
WHOLE corpus with the model.

Design (Spark-first, two scoring paths):

* **Features**: unigrams + bigrams → ``CountVectorizer`` (explicit
  vocabulary, like the clustering tier's MLB translation, M6).  An
  explicit vocab — not ``HashingTF`` — is load-bearing: the fitted
  vocabulary makes the model a plain ``(term, weight)`` TABLE, so
  corpus-scale scoring is a broadcast join + per-doc sum of pure
  column expressions.  (HashingTF's murmur3 bucket is NOT reproducible
  by ``F.hash`` — verified empirically — so a hashed model would force
  scoring through the MLlib transform.)
* **Labels**: pseudo-labels from the Gopher rule rollup (pass = 1) —
  the classifier generalizes the rules into a soft score, exactly the
  bootstrap used when no human labels exist.  Class imbalance goes
  through the broadcast-join ``class_weights`` operator (R5 — no
  driver dict, no UDF).
* **Training**: MLlib LogisticRegression (elastic-net, weightCol) on
  the featurized frame — training-set-sized, the only stage that
  touches MLlib vectors.
* **Scoring at 100 TB**: ``score_documents_expr`` never builds a
  vector: explode terms, broadcast-join the (term, weight) model
  table (vocab-sized — thousands of rows), sum ``tf·w`` per doc, add
  the intercept, sigmoid.  One scan + one doc-keyed aggregation;
  whole-stage codegen end to end; pinned ≡ the MLlib transform path
  in tests.

Reference parity: extends the reference's supervised text classifiers
(MLP.ipynb c0:61/c1:54 TF-IDF + LR over allergen labels) to the
corpus-curation setting; same MLlib estimator family, corpus-scale
scoring path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.classification import (
    LogisticRegression,
    LogisticRegressionModel,
)
from pyspark.ml.feature import CountVectorizer, CountVectorizerModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.functions.text import tokenize
from bigdatamlteamrepo_spark.operators.sampling import class_weights

#: vocabulary cap: top-N terms by document frequency.  At 100 TB the
#: vocab stays a few-thousand-row broadcast table regardless of corpus
#: size — the model is constant-sized by construction.
QUALITY_VOCAB = 4096
#: ignore terms in fewer than this many documents (noise floor)
QUALITY_MIN_DF = 2.0
#: deterministic 1-in-N holdout for evaluation (md5 of doc_id)
HOLDOUT_MOD = 5


def quality_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, terms) with unigrams + bigrams of the lowercased
    whitespace tokenization — row-local array expressions only."""
    toks = tokenize("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(2)),
            lambda i: F.concat_ws(" ", F.get(toks, i), F.get(toks, i + F.lit(1))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id", F.concat(toks, bigrams).alias("terms")
    ).filter(F.size("terms") > 0)


def gopher_pass_labels(docs: DataFrame) -> DataFrame:
    """(doc_id, label) pseudo-labels: 1 = passes every Gopher rule."""
    from bigdatamlteamrepo_spark.queries.pipeline import (
        gopher_pass,
        gopher_rule_flags,
    )

    r = gopher_rule_flags(docs, "doc_id")
    return r.select("doc_id", gopher_pass().cast("double").alias("label"))


@dataclass
class QualityModel:
    """Fitted quality classifier: the CountVectorizer vocabulary plus
    the LR coefficients/intercept.  ``weights_frame`` is the
    scoring-table view (term, weight) — the model AS data."""

    cv: CountVectorizerModel
    lr: LogisticRegressionModel

    @property
    def intercept(self) -> float:
        return float(self.lr.intercept)

    def weights_frame(self, spark) -> DataFrame:
        coef = self.lr.coefficients
        rows = [
            (term, float(coef[i]))
            for i, term in enumerate(self.cv.vocabulary)
            if coef[i] != 0.0  # elastic-net zeros never join
        ]
        return spark.createDataFrame(rows, "term string, weight double")


def train_quality_classifier(
    docs: DataFrame,
    vocab_size: int = QUALITY_VOCAB,
    min_df: float = QUALITY_MIN_DF,
    reg_param: float = 1e-3,
    elastic_net: float = 0.1,
    max_iter: int = 100,
) -> QualityModel:
    """Fit the classifier on Gopher pseudo-labels with class-balance
    weights.  The input frame is the *training sample* — at 100 TB a
    deterministic subsample (doc_stratified_sample / doc_mixture_sample
    tier), never the whole corpus; the whole corpus only ever meets the
    fitted weights table."""
    feats = quality_terms(docs).join(gopher_pass_labels(docs), "doc_id")
    feats = class_weights(feats, "label", "w")
    cv = CountVectorizer(
        inputCol="terms",
        outputCol="features",
        vocabSize=vocab_size,
        minDF=min_df,
    ).fit(feats)
    vec = cv.transform(feats)
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        weightCol="w",
        regParam=reg_param,
        elasticNetParam=elastic_net,
        maxIter=max_iter,
        standardization=False,
    ).fit(vec)
    return QualityModel(cv=cv, lr=lr)


def score_documents_mllib(model: QualityModel, docs: DataFrame) -> DataFrame:
    """(doc_id, quality_prob) via the MLlib transform — the reference
    path the expression scorer is pinned against."""
    from pyspark.ml.functions import vector_to_array

    vec = model.cv.transform(quality_terms(docs))
    out = model.lr.transform(vec)
    return out.select(
        "doc_id",
        vector_to_array("probability").getItem(1).alias("quality_prob"),
    )


def score_documents_expr(model: QualityModel, docs: DataFrame) -> DataFrame:
    """(doc_id, quality_prob) as a pure DataFrame plan: explode terms,
    broadcast-join the (term, weight) model table, per-doc
    ``Σ tf·w + b`` → sigmoid.  No vectors, no UDFs — the 100 TB path.

    Docs whose terms all miss the vocabulary (or with zero terms)
    score ``sigmoid(b)`` exactly like the MLlib dense transform (an
    all-zero vector)."""
    return score_with_weights(
        docs, model.weights_frame(docs.sparkSession), model.intercept
    )


def score_with_weights(
    docs: DataFrame, weights: DataFrame, intercept: float
) -> DataFrame:
    """The expression-scoring core against an explicit ``(term,
    weight)`` frame + intercept — the model AS data, so a fitted
    classifier persisted as a parquet table scores any frame (batch or
    a foreachBatch micro-batch) without the Python model object."""
    w = weights
    terms = quality_terms(docs)
    tf = (
        terms.select("doc_id", F.explode("terms").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    margin = (
        tf.join(F.broadcast(w), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("weight")).alias("dot"))
    )
    # left join keeps vocab-miss docs at margin = intercept
    return (
        terms.select("doc_id")
        .join(margin, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(F.coalesce(F.col("dot"), F.lit(0.0)) + intercept)
                    )
                )
            ).alias("quality_prob"),
        )
    )


def save_quality_weights(model: QualityModel, weights_dir: str) -> None:
    """Persist the fitted classifier as a parquet TABLE: the (term,
    weight) rows plus one ``term IS NULL`` row carrying the intercept
    (exploded terms are never NULL, so the sentinel cannot collide).
    A few-thousand-row file — the deployable artifact a scoring
    cluster (or a streaming monitor) broadcast-joins, with no
    MLlib/Python model object on the scoring side."""
    w = model.weights_frame(_active_spark())
    w.unionByName(
        _active_spark().createDataFrame(
            [(None, model.intercept)], "term string, weight double"
        )
    ).coalesce(1).write.mode("overwrite").parquet(weights_dir)


def _active_spark():
    from pyspark.sql import SparkSession

    return SparkSession.active()


def load_quality_weights(spark, weights_dir: str) -> tuple[DataFrame, float]:
    """Read back ``save_quality_weights`` output → (weights_frame,
    intercept) for :func:`score_with_weights`."""
    tbl = spark.read.parquet(weights_dir)
    inter = tbl.filter(F.col("term").isNull()).collect()
    if len(inter) != 1:
        raise ValueError(
            f"{weights_dir}: expected exactly one intercept row, got {len(inter)}"
        )
    return tbl.filter(F.col("term").isNotNull()), float(inter[0]["weight"])


def holdout_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic (train, holdout) split: md5(doc_id) mod N — the
    engine's portable-hash split convention (no rand())."""
    from bigdatamlteamrepo_spark.queries.shards import hash32

    h = hash32(F.col("doc_id")) % HOLDOUT_MOD
    return docs.filter(h != 0), docs.filter(h == 0)


def evaluate_quality_model(model: QualityModel, docs: DataFrame) -> dict:
    """AUC + accuracy of the model against the Gopher pseudo-labels on
    the given frame (typically the holdout)."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    vec = model.cv.transform(
        quality_terms(docs).join(gopher_pass_labels(docs), "doc_id")
    )
    pred = model.lr.transform(vec)
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction"
    ).evaluate(pred)
    acc = pred.select(
        F.avg((F.col("prediction") == F.col("label")).cast("double"))
    ).collect()[0][0]
    return {"auc": float(auc), "accuracy": float(acc)}

"""Model-based document quality classification (LLM-data-pipeline
extension).

The standard curation pattern (fastText-style, as used by the public
LLM-data literature — e.g. CCNet, GPT-3's quality filter, RefinedWeb):
featurize each document as hashed unigram+bigram counts, train a linear
classifier on weak labels, keep documents the model scores as
high-quality. The heuristic ``quality_score`` (functions/text.py) seeds
the labels; the model generalizes beyond the hand rules.

Spark-first shape — every stage is the distributed one:

- featurization is ``HashingTF`` over token arrays (JVM-side, map-only,
  no vocabulary build and therefore no shuffle; the hash trick is what
  makes this work at 100 TB where a fitted vocabulary would itself be
  a big-data problem),
- training is ``pyspark.ml`` LogisticRegression — L-BFGS with
  ``treeAggregate`` gradient reduction across executors, never moving
  the corpus to the driver,
- inference is a broadcast of the (n_features-sized) coefficient vector
  and one map-only pass.

Model scores are float sums whose accumulation order varies with
partitioning, so downstream decisions made on a threshold very close to
a document's score can flip between runs — pin seeds/partitioning when
byte-stable outputs matter, or gate on the deterministic heuristic
instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"


def _token_arrays(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn(
        "__uni", F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)
    )


def quality_feature_pipeline(n_features: int = 4096):
    """Unfitted pyspark.ml stages mapping a ``__uni`` token-array column
    to a ``features`` vector: bigrams + two hashing TFs + assembly.
    Exposed so train and score provably share one featurization."""
    from pyspark.ml.feature import HashingTF, NGram, VectorAssembler

    return [
        NGram(n=2, inputCol="__uni", outputCol="__bi"),
        HashingTF(inputCol="__uni", outputCol="__f1", numFeatures=n_features),
        HashingTF(inputCol="__bi", outputCol="__f2", numFeatures=n_features),
        VectorAssembler(inputCols=["__f1", "__f2"], outputCol="features"),
    ]


def weak_quality_label(
    text_col: str, profile: dict, min_quality: float = 0.15
) -> Column:
    """Weak label from the deterministic heuristic quality score — the
    bootstrap signal the model trains against (double 0.0/1.0)."""
    from ..functions.text import quality_score

    return (quality_score(text_col, profile) >= min_quality).cast("double")


def train_quality_model(
    df: DataFrame,
    text_col: str,
    label_col: str,
    n_features: int = 4096,
    reg_param: float = 0.01,
    max_iter: int = 30,
):
    """Fit the hashed-n-gram logistic model. Returns a fitted
    ``PipelineModel`` (featurization + classifier, without its training
    summary) ready for ``score_quality``. Training cost: one shuffle-free featurization
    pass + L-BFGS iterations, each a treeAggregate over executors."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression

    lr = LogisticRegression(
        maxIter=max_iter,
        regParam=reg_param,
        labelCol=label_col,
        featuresCol="features",
    )
    pipe = Pipeline(stages=[*quality_feature_pipeline(n_features), lr])
    model = pipe.fit(_token_arrays(df, text_col))
    # The classifier's scoring closure captures the model, and the
    # model's training summary holds the SparkSession. Once any
    # ``Observation`` has run in the session (the join-MV pin, the
    # quality write metrics), the session carries a non-serializable
    # ObservationManager, and every scoring task then fails with "Task
    # not serializable". Nothing here reads the summary, so drop it.
    jvm = df.sparkSession._jvm
    model.stages[-1]._java_obj.setSummary(jvm.scala.Option.empty())
    return model


def score_quality(model, df: DataFrame, text_col: str) -> DataFrame:
    """Apply a fitted quality model: input columns plus
    ``quality_prob`` (P(label=1)) and ``quality_pred`` (0.0/1.0).
    Map-only — the coefficient vector broadcasts."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(_token_arrays(df, text_col))
    return scored.select(
        *df.columns,
        vector_to_array("probability").getItem(1).alias("quality_prob"),
        F.col("prediction").alias("quality_pred"),
    )


def model_quality_filter(
    df: DataFrame,
    text_col: str,
    profile: dict,
    min_quality: float = 0.15,
    keep_prob: float = 0.5,
    n_features: int = 4096,
) -> DataFrame:
    """End-to-end weak-label bootstrap: label with the heuristic, train,
    re-score every document with the model, keep rows whose modeled
    P(quality) >= ``keep_prob``. Returns input columns + quality_prob.

    This intentionally trains and scores on the same corpus (the
    production pattern holds out a labeled eval slice; tests here pin
    generalization on a held-out half instead)."""
    labeled = df.withColumn(
        "__y", weak_quality_label(text_col, profile, min_quality)
    )
    model = train_quality_model(labeled, text_col, "__y", n_features)
    scored = score_quality(model, labeled, text_col)
    return (
        scored.filter(F.col("quality_prob") >= keep_prob)
        .drop("__y")
    )

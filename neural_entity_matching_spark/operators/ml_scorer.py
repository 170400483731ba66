"""Trained pairwise matchers (reference M1/M2, script/model_magellan_ml.py).

The reference trains RandomForest / LogisticRegression / XGBoost on
Magellan feature vectors with random_state=0 (model_magellan_ml.py:226-244),
predicts with probabilities (:249-251), and REFITS on train+valid before
scoring test (:292-308). Spark mapping: spark.ml LogisticRegression /
GBTClassifier / RandomForestClassifier over a VectorAssembler of the pair
features; the fitted model broadcasts with the transform (north_star:
"broadcast logistic/GBT scorer"). The degenerate single-class bypass
(:119-134,214-219) short-circuits to operators/scoring.degenerate_scorer.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    GBTClassifier,
    LogisticRegression,
    RandomForestClassifier,
)
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neural_entity_matching_spark.operators.scoring import FEATURE_COLS

_MODELS = {
    "logistic": lambda seed: LogisticRegression(
        featuresCol="features", labelCol="y", probabilityCol="probability"
    ),
    "gbt": lambda seed: GBTClassifier(
        featuresCol="features", labelCol="y", seed=seed, maxIter=20
    ),
    "random_forest": lambda seed: RandomForestClassifier(
        featuresCol="features", labelCol="y", seed=seed, numTrees=50
    ),
}


def train_scorer(
    labeled_features: DataFrame,
    model: str = "logistic",
    feature_cols: list[str] | None = None,
    seed: int = 0,
) -> PipelineModel:
    """Fit a matcher on featurized labeled pairs (columns FEATURE_COLS + y).

    The post-blocking training set is small (blocking pruned the n^2 space),
    so the fit is cheap; the returned model is broadcast by Spark ML's
    transform for distributed scoring.
    """
    cols = feature_cols or FEATURE_COLS
    assembler = VectorAssembler(inputCols=cols, outputCol="features")
    est = _MODELS[model](seed)
    return Pipeline(stages=[assembler, est]).fit(labeled_features)


def score_with_model(
    model: PipelineModel, featurized: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Attach (score = P(match), is_match) — same contract as
    threshold_scorer so the pipeline stages are interchangeable."""
    out = model.transform(featurized)
    prob_col = "probability" if "probability" in out.columns else None
    if prob_col:
        out = out.withColumn("score", vector_to_array(F.col(prob_col)).getItem(1))
    else:  # GBT without calibrated probability still emits rawPrediction
        out = out.withColumn("score", F.col("prediction"))
    return (
        out.withColumn("is_match", (F.col("score") >= threshold).cast("int"))
        .drop("features", "rawPrediction", "probability", "prediction")
    )


def fit_predict_with_refit(
    train_feats: DataFrame,
    valid_feats: DataFrame,
    test_feats: DataFrame,
    model: str = "logistic",
    threshold: float = 0.5,
    seed: int = 0,
    feature_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Reference experiment shape: fit on train, predict train/valid, then
    refit on train+valid and predict test (model_magellan_ml.py:292-308).
    Falls back to the degenerate blocker-as-matcher when training labels
    are single-class (:214-219)."""
    from neural_entity_matching_spark.operators.scoring import (
        degenerate_scorer,
        is_single_class,
    )

    if is_single_class(train_feats):
        return (
            degenerate_scorer(train_feats),
            degenerate_scorer(valid_feats),
            degenerate_scorer(test_feats),
        )
    m1 = train_scorer(train_feats, model=model, seed=seed,
                      feature_cols=feature_cols)
    train_pred = score_with_model(m1, train_feats, threshold)
    valid_pred = score_with_model(m1, valid_feats, threshold)
    m2 = train_scorer(train_feats.unionByName(valid_feats), model=model,
                      seed=seed, feature_cols=feature_cols)
    test_pred = score_with_model(m2, test_feats, threshold)
    return train_pred, valid_pred, test_pred

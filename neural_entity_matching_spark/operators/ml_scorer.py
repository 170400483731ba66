"""Trained pairwise matchers (reference M1/M2, script/model_magellan_ml.py).

The reference trains RandomForest / LogisticRegression / XGBoost on
Magellan feature vectors with random_state=0 (model_magellan_ml.py:226-244),
predicts with probabilities (:249-251), and REFITS on train+valid before
scoring test (:292-308). The degenerate single-class bypass
(:119-134,214-219) short-circuits to operators/scoring.degenerate_scorer.

Spark mapping:

* ``'logistic'`` fits in driver memory, as the reference does. One Arrow
  ``toPandas`` collects the feature columns and the label, capped at
  ``driver_limits.LOCAL_MAX_FIT_ROWS + 1`` rows so the buffer is bounded
  before the size check. numpy then runs Newton/IRLS on the objective
  spark.ml's ``LogisticRegression`` minimizes at its defaults:
  unregularized mean log-loss with an intercept, maxIter 100, tol 1e-6.
  The checks, the row sort and the fit are ``fit_logistic``, which the
  pipeline's scored stage also calls on the features it computed on the
  driver (plans/pipeline.py), with no collect.
  Above the bound, spark.ml's ``LogisticRegression`` fits instead. Either
  way the result is a ``LogisticModel`` in raw feature units, and scoring
  is one JVM expression per row, ``1 / (1 + exp(-(b + sum_j w_j*x_j)))``:
  no vector column, no Python UDF.
* ``'gbt'`` and ``'random_forest'`` are spark.ml ``GBTClassifier`` and
  ``RandomForestClassifier`` over a ``VectorAssembler`` of the pair
  features, scored by the fitted ``PipelineModel``'s transform.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
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

from neural_entity_matching_spark.operators.driver_limits import LOCAL_MAX_FIT_ROWS
from neural_entity_matching_spark.operators.scoring import FEATURE_COLS

_MODELS = {
    "gbt": lambda seed: GBTClassifier(
        featuresCol="features", labelCol="y", seed=seed, maxIter=20
    ),
    "random_forest": lambda seed: RandomForestClassifier(
        featuresCol="features", labelCol="y", seed=seed, numTrees=50
    ),
}


@dataclass(frozen=True)
class LogisticModel:
    """A fitted logistic matcher in raw feature units:
    P(match) = 1 / (1 + exp(-(intercept + sum_j coefficients[j] * x_j)))
    with x_j the column ``feature_cols[j]``."""

    feature_cols: tuple[str, ...]
    coefficients: tuple[float, ...]
    intercept: float


def train_scorer(
    labeled_features: DataFrame,
    model: str = "logistic",
    feature_cols: list[str] | None = None,
    seed: int = 0,
) -> LogisticModel | PipelineModel:
    """Fit a matcher on featurized labeled pairs (columns FEATURE_COLS + y).

    ``'logistic'`` returns a ``LogisticModel``, fitted on the driver up to
    ``LOCAL_MAX_FIT_ROWS`` training rows and by spark.ml above that. A
    null or non-finite feature value raises, as ``VectorAssembler`` does.
    Single-class labels give spark.ml's answer: zero coefficients and an
    infinite intercept, so every score is 0.0 or every score is 1.0.
    ``'gbt'`` and ``'random_forest'`` return a spark.ml ``PipelineModel``.
    """
    cols = list(feature_cols or FEATURE_COLS)
    if model == "logistic":
        return _train_logistic(labeled_features, cols)
    assembler = VectorAssembler(inputCols=cols, outputCol="features")
    est = _MODELS[model](seed)
    return Pipeline(stages=[assembler, est]).fit(labeled_features)


def _train_logistic(labeled: DataFrame, cols: list[str]) -> LogisticModel:
    pdf = labeled.select(*cols, "y").limit(LOCAL_MAX_FIT_ROWS + 1).toPandas()
    if len(pdf) > LOCAL_MAX_FIT_ROWS:
        fitted = LogisticRegression(featuresCol="features", labelCol="y").fit(
            VectorAssembler(inputCols=cols, outputCol="features")
            .transform(labeled))
        return LogisticModel(tuple(cols),
                             tuple(fitted.coefficients.toArray().tolist()),
                             float(fitted.intercept))
    return fit_logistic(pdf[cols].to_numpy(dtype=np.float64),
                        pdf["y"].to_numpy(dtype=np.float64), cols)


def fit_logistic(x: np.ndarray, y: np.ndarray, cols: list[str]) -> LogisticModel:
    """The driver fit on training rows ``x`` (one column per ``cols``, a
    null as NaN) and labels ``y``: the row checks, the row sort, then
    ``_newton_logistic``. The scored stage's driver path calls it on rows
    it never collected through Spark."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if not np.isfinite(x).all():
        raise ValueError(f"null or non-finite feature value in {cols}")
    if not np.isin(y, (0.0, 1.0)).all():
        raise ValueError("labels y must be 0 or 1")
    # rows arrive in partition (or join) order, and the fit's float sums
    # depend on row order: sort by (y, features) so any order of the same
    # rows gives bit-identical coefficients
    order = np.lexsort(np.column_stack([x, y]).T)
    x, y = x[order], y[order]
    coef, intercept = _newton_logistic(x, y)
    return LogisticModel(tuple(cols), tuple(coef.tolist()), float(intercept))


def _log_loss(margin: np.ndarray, y: np.ndarray) -> float:
    return float(np.mean(np.logaddexp(0.0, margin) - y * margin))


def _newton_logistic(
    x: np.ndarray, y: np.ndarray, max_iter: int = 100, tol: float = 1e-6
) -> tuple[np.ndarray, float]:
    """(coefficients, intercept) minimizing the mean log-loss, in x's units.

    Newton steps on standardized columns from spark.ml's start point
    (zero coefficients, intercept log(n1/n0)), halving a step while it
    raises the loss. The step is a least-squares solve: separable labels
    push every weight p(1-p) to 0 and leave the Hessian singular. Stops
    when a step gains at most ``tol`` times the starting loss (spark.ml's
    relative function-value test) or after ``max_iter`` steps.
    """
    n, k = x.shape
    if n == 0:
        raise ValueError("empty training set")
    n1 = float(y.sum())
    if n1 in (0.0, n):  # spark.ml's constant-label answer
        return np.zeros(k), (np.inf if n1 else -np.inf)
    mean, std = x.mean(axis=0), x.std(axis=0)
    live = np.ptp(x, axis=0) > 0  # a constant column gets coefficient 0
    z = np.column_stack([np.ones(n), (x[:, live] - mean[live]) / std[live]])
    beta = np.zeros(z.shape[1])
    beta[0] = np.log(n1 / (n - n1))
    loss = start = _log_loss(z @ beta, y)
    for _ in range(max_iter):
        margin = z @ beta
        # p and 1-p from log-sigmoids, accurate at both tails
        p = np.exp(-np.logaddexp(0.0, -margin))
        w = p * np.exp(-np.logaddexp(0.0, margin))
        grad = z.T @ (p - y) / n
        hess = (z.T * w) @ z / n
        step = np.linalg.lstsq(hess, grad, rcond=None)[0]
        t = 1.0
        while (new := _log_loss(z @ (beta - t * step), y)) > loss:
            t /= 2
            if t < 1e-10:
                break
        if new > loss:
            break
        beta = beta - t * step
        gain, loss = loss - new, new
        if gain <= tol * start:
            break
    coef = np.zeros(k)
    coef[live] = beta[1:] / std[live]
    return coef, float(beta[0] - coef @ mean)


def score_with_model(
    model: LogisticModel | PipelineModel,
    featurized: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Attach (score = P(match), is_match) — same contract as
    threshold_scorer so the pipeline stages are interchangeable.

    A ``LogisticModel`` scores with one JVM expression; a null or NaN
    margin (a null or non-finite feature) raises instead of scoring.
    """
    if isinstance(model, LogisticModel):
        margin = F.lit(model.intercept)
        for col, w in zip(model.feature_cols, model.coefficients):
            margin = margin + F.lit(w) * F.col(col)
        out = featurized.withColumn("score", F.when(
            margin.isNull() | F.isnan(margin),
            F.raise_error(F.lit("null or non-finite feature value in "
                                f"{list(model.feature_cols)}")),
        ).otherwise(1.0 / (1.0 + F.exp(-margin))))
    else:
        out = model.transform(featurized)
        if "probability" in out.columns:
            out = out.withColumn(
                "score", vector_to_array(F.col("probability")).getItem(1))
        else:  # GBT without calibrated probability still emits rawPrediction
            out = out.withColumn("score", F.col("prediction"))
        out = out.drop("features", "rawPrediction", "probability",
                       "prediction")
    return out.withColumn("is_match", (F.col("score") >= threshold).cast("int"))


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

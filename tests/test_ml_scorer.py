"""Trained matcher path: LR/GBT on the synthetic fixture must reach the
same F1 >= 0.99 gate as the threshold scorer, plus the degenerate bypass.
The logistic fit on the driver and the spark.ml fit above the row bound
agree, and handle single-class labels and null features alike."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from neural_entity_matching_spark.functions.normalize import build_signatures
from neural_entity_matching_spark.operators import ml_scorer
from neural_entity_matching_spark.operators.blocking import lsh_block
from neural_entity_matching_spark.operators.evaluation import pairwise_f1
from neural_entity_matching_spark.operators.ml_scorer import (
    fit_predict_with_refit,
    score_with_model,
    train_scorer,
)
from neural_entity_matching_spark.operators.scoring import (
    FEATURE_COLS,
    FULL_FEATURE_COLS,
    attach_labels,
    featurize_pairs,
    is_single_class,
)

LSH = dict(num_hashes=128, bands=64, char_ngram=8, seed=42)


@pytest.fixture(scope="module")
def featurized_labeled(fixture_small):
    """The FULL north-star feature vector (lev, jaccard, len, JW, TF-IDF
    cosine) + the optional embedding cosine — every column the matcher can
    see, all non-null."""
    transcripts, labeled, _ = fixture_small
    sigs = build_signatures(transcripts).cache()
    candidates, _ = lsh_block(sigs, block_cap=35, **LSH)
    feats = attach_labels(
        featurize_pairs(candidates, sigs, with_jaro_winkler=True,
                        with_tfidf=True, with_embedding=True),
        labeled,
    ).cache()
    for c in FULL_FEATURE_COLS + ["embedding_cosine"]:
        assert c in feats.columns, c
        assert feats.filter(F.col(c).isNull()).count() == 0, c
    return feats, labeled, candidates


@pytest.mark.parametrize("model", ["logistic", "gbt"])
def test_trained_scorer_hits_f1_gate(featurized_labeled, model):
    """F1 gate on the 5-feature north-star vector."""
    feats, labeled, candidates = featurized_labeled
    m = train_scorer(feats, model=model, feature_cols=FULL_FEATURE_COLS)
    scored = score_with_model(m, feats)
    res = pairwise_f1(scored, labeled, universe=candidates)
    assert res.f1 >= 0.99, res


def test_embedding_feature_e2e(featurized_labeled):
    """Flag-on e2e: the matcher trains and hits the gate with the optional
    sentence-embedding (hash stand-in) cosine as a sixth feature."""
    feats, labeled, candidates = featurized_labeled
    m = train_scorer(feats, model="logistic",
                     feature_cols=FULL_FEATURE_COLS + ["embedding_cosine"])
    scored = score_with_model(m, feats)
    res = pairwise_f1(scored, labeled, universe=candidates)
    assert res.f1 >= 0.99, res


def test_refit_protocol(featurized_labeled, spark):
    feats, labeled, candidates = featurized_labeled
    train, valid, test = feats.randomSplit([0.6, 0.2, 0.2], seed=0)
    _, _, test_pred = fit_predict_with_refit(train, valid, test)
    res = pairwise_f1(test_pred, labeled, universe=test.select("conv_id_a", "conv_id_b"))
    assert res.f1 >= 0.97, res  # smaller split, slightly looser


def test_degenerate_single_class_bypass(featurized_labeled):
    feats, _, _ = featurized_labeled
    only_pos = feats.filter(F.col("y") == 1)
    assert is_single_class(only_pos)
    a, b, c = fit_predict_with_refit(only_pos, only_pos, only_pos)
    assert c.filter(F.col("is_match") != 1).count() == 0
    assert c.filter(F.col("score") != 1.0).count() == 0


def _fit_both(monkeypatch, labeled):
    """The logistic fit on the driver, then through spark.ml (the path
    above the row bound)."""
    local = train_scorer(labeled)
    with monkeypatch.context() as m:
        m.setattr(ml_scorer, "LOCAL_MAX_FIT_ROWS", 0)
        spark_ml = train_scorer(labeled)
    return local, spark_ml


def _decisions(model, feats):
    return {(r["conv_id_a"], r["conv_id_b"]): (r["is_match"], r["y"])
            for r in score_with_model(model, feats)
            .select("conv_id_a", "conv_id_b", "is_match", "y").collect()}


def test_driver_fit_agrees_with_spark_ml(featurized_labeled, monkeypatch):
    """Non-separable labels (the fixture's with every 23rd pair flipped)
    have one maximum-likelihood fit: both solvers reach it. Separable
    labels (the fixture's own) are classified by their label by both."""
    feats, _, _ = featurized_labeled
    flip = F.xxhash64("conv_id_a", "conv_id_b") % 23 == 0
    noisy = feats.withColumn(
        "y", F.when(flip, 1 - F.col("y")).otherwise(F.col("y")))
    assert noisy.filter(flip).count() > 0
    local, spark_ml = _fit_both(monkeypatch, noisy)
    assert local.feature_cols == spark_ml.feature_cols == tuple(FEATURE_COLS)
    np.testing.assert_allclose(local.coefficients, spark_ml.coefficients,
                               rtol=1e-4)
    np.testing.assert_allclose(local.intercept, spark_ml.intercept,
                               rtol=1e-4)
    noisy_local = _decisions(local, noisy)
    assert noisy_local == _decisions(spark_ml, noisy)
    assert any(m != y for m, y in noisy_local.values())

    for model in _fit_both(monkeypatch, feats):
        assert all(m == y for m, y in _decisions(model, feats).values())


@pytest.mark.parametrize("cap", [1_000_000, 0], ids=["driver", "spark_ml"])
@pytest.mark.parametrize("label", [0, 1])
def test_logistic_single_class_labels(spark, monkeypatch, cap, label):
    """spark.ml's constant-label answer on both sides of the row bound:
    zero coefficients, an infinite intercept, every score 0.0 or 1.0."""
    monkeypatch.setattr(ml_scorer, "LOCAL_MAX_FIT_ROWS", cap)
    feats = spark.createDataFrame(
        [(i / 20, (7 * i % 20) / 20, 1 - i / 40, label) for i in range(20)],
        "lev_ratio double, token_jaccard double, len_ratio double, y int")
    model = train_scorer(feats)
    assert model.coefficients == (0.0, 0.0, 0.0)
    assert model.intercept == (np.inf if label else -np.inf)
    scores = [(r["score"], r["is_match"])
              for r in score_with_model(model, feats).collect()]
    assert scores == [(float(label), label)] * 20


@pytest.mark.parametrize("cap", [1_000_000, 0], ids=["driver", "spark_ml"])
def test_logistic_null_feature_raises(spark, monkeypatch, cap):
    """A null feature fails the fit, as VectorAssembler's
    handleInvalid='error' does, and fails scoring too."""
    monkeypatch.setattr(ml_scorer, "LOCAL_MAX_FIT_ROWS", cap)
    feats = spark.createDataFrame(
        [(0.1, None, 0.3, 1), (0.2, 0.5, 0.3, 0), (0.9, 0.9, 0.9, 1)],
        "lev_ratio double, token_jaccard double, len_ratio double, y int")
    with pytest.raises(Exception, match="null"):
        train_scorer(feats)
    model = ml_scorer.LogisticModel(tuple(FEATURE_COLS), (1.0, 1.0, 1.0), 0.0)
    with pytest.raises(Exception, match="null"):
        score_with_model(model, feats).collect()


def test_logistic_fit_is_partition_invariant(featurized_labeled):
    """The driver fit sorts the collected rows, so the same rows in
    another partition layout give a bit-identical model."""
    feats, _, _ = featurized_labeled
    assert train_scorer(feats, model="logistic") == train_scorer(
        feats.repartition(7), model="logistic")

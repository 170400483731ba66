"""Trained matcher path: LR/GBT on the synthetic fixture must reach the
same F1 >= 0.99 gate as the threshold scorer, plus the degenerate bypass."""

import pyspark.sql.functions as F
import pytest

from neural_entity_matching_spark.functions.normalize import build_signatures
from neural_entity_matching_spark.operators.blocking import lsh_block
from neural_entity_matching_spark.operators.evaluation import pairwise_f1
from neural_entity_matching_spark.operators.ml_scorer import (
    fit_predict_with_refit,
    score_with_model,
    train_scorer,
)
from neural_entity_matching_spark.operators.scoring import (
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

"""The scored stage spreads snapshot reads that have fewer partitions than
cores before its pair kernels run, leaves wider ones alone, and decides
exactly as it would on the plain snapshot reads."""

import pyspark.sql.functions as F
import pytest

from neural_entity_matching_spark.operators import scoring
from neural_entity_matching_spark.operators.ml_scorer import (
    score_with_model,
    train_scorer,
)
from neural_entity_matching_spark.plans import pipeline
from neural_entity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
from neural_entity_matching_spark.sources.io import StageResult

PAIR = ["conv_id_a", "conv_id_b"]


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture
def one_file_snapshots(spark):
    """One shuffle partition, so every snapshot is written as one file:
    what AQE's coalescing gives at small scale, whatever the data size."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("scorer", ["threshold", "logistic"])
def test_scored_stage_kernels_read_spread_inputs(spark, fixture_small, tmp_path,
                                                 monkeypatch, one_file_snapshots,
                                                 scorer):
    transcripts, labeled, _ = fixture_small
    n = spark.sparkContext.defaultParallelism
    calls, outputs = [], []

    def spy(fn):
        def wrapped(candidates, signatures, **kw):
            calls.append((fn.__name__, candidates.rdd.getNumPartitions(),
                          signatures.rdd.getNumPartitions()))
            out = fn(candidates, signatures, **kw)
            outputs.append(out)
            return out
        return wrapped

    monkeypatch.setattr(pipeline, "fast_threshold_score",
                        spy(scoring.fast_threshold_score))
    monkeypatch.setattr(pipeline, "featurize_pairs",
                        spy(scoring.featurize_pairs))
    # the logistic stage runs on the driver below this bound, with no
    # spread; 0 keeps it on the Spark path this test checks
    monkeypatch.setattr(pipeline, "LOCAL_MAX_SCORE_PAIRS", 0)
    _, report = run_pipeline(
        spark, transcripts, str(tmp_path / "ckpt"),
        PipelineConfig(scorer=scorer), input_fingerprint="fx-small",
        run_id=f"spread-{scorer}", labeled_pairs=labeled)

    cand, sigs = report.outputs["candidates"], report.outputs["signatures"]
    assert cand.rdd.getNumPartitions() == sigs.rdd.getNumPartitions() == 1
    kernel = ("fast_threshold_score" if scorer == "threshold"
              else "featurize_pairs")
    assert [c[0] for c in calls] == [kernel]
    assert min(calls[0][1:]) >= n, calls

    scored = report.outputs["scored"]
    if scorer == "threshold":
        cols = PAIR + ["score", "is_match"]
        plain = scoring.fast_threshold_score(cand, sigs)
        assert _rows(scored, cols) == _rows(plain, cols)
    else:
        plain_feats = scoring.featurize_pairs(cand, sigs)
        assert (_rows(outputs[0], plain_feats.columns)
                == _rows(plain_feats, plain_feats.columns))
        model = train_scorer(scoring.attach_labels(plain_feats, labeled))
        plain = score_with_model(model, plain_feats)
        cols = PAIR + ["is_match"]
        assert _rows(scored, cols) == _rows(plain, cols)


def test_spread_only_narrow_snapshots(spark):
    n = spark.sparkContext.defaultParallelism
    wide = spark.range(4 * n).repartition(n)
    res = StageResult(wide, "wide", False, 4 * n, 0,
                      [(p, 4) for p in range(n)])
    assert pipeline._spread(res) is wide

    narrow = spark.range(4 * n).coalesce(1)
    res = StageResult(narrow, "narrow", False, 4 * n, 0, [(0, 4 * n)])
    spread = pipeline._spread(res)
    assert spread.rdd.getNumPartitions() == n
    assert sorted(spread.agg(F.collect_list("id")).first()[0]) == list(
        range(4 * n))

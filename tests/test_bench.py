"""bench.py's ER and ML legs run ``run_pipeline``: their counts equal a
direct call's, they fill every key of bench.py's JSON line, the ML leg's
part walls fit inside its stage wall on both scored-stage paths, and a
round leaves nothing persisted."""

import pytest

import bench
from neural_entity_matching_spark.plans import pipeline
from neural_entity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline

LINE_KEYS = {
    "metric", "value", "unit", "queries", "sf", "cpus", "rounds", "protocol",
    "queries_min", "total_min_of_rounds", "queries_raw", "er_pairs_scored",
    "pairs_scored_per_sec", "pairs_scored_per_sec_scoring_only", "er_info",
    "ml_scorer_logistic",
}
ER_INFO_KEYS = {"clusters", "oversized_blocks", "block_wall_median",
                "score_wall_median", "cluster_wall_median"}
ML_KEYS = {"wall_median", "featurize_wall_median", "train_wall_median",
           "score_wall_median", "pairs", "matches"}


@pytest.mark.parametrize("ml_path", ["driver", "spark"])
def test_legs_equal_run_pipeline(spark, fixture_small, tmp_path, monkeypatch,
                                 ml_path):
    transcripts, labeled, _ = fixture_small
    if ml_path == "spark":
        monkeypatch.setattr(pipeline, "LOCAL_MAX_SCORE_PAIRS", 0)
    transcripts.count(), labeled.count()  # the fixture's own caches
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    er, ml = bench.run_legs(spark, transcripts, labeled)
    assert persisted().size() == before

    ckpt = str(tmp_path)
    clusters, er_rep = run_pipeline(spark, transcripts, ckpt, PipelineConfig())
    _, ml_rep = run_pipeline(
        spark, transcripts, ckpt,
        PipelineConfig(scorer="logistic", threshold=0.5),
        labeled_pairs=labeled)
    assert er["pairs"] == er_rep.stages["candidates"]["rows"] > 0
    assert er["clusters"] == clusters.select("cluster_id").distinct().count()
    scored = ml_rep.stages["scored"]
    assert ml["pairs"] == scored["rows"] == er["pairs"]
    assert ml["matches"] == (
        ml_rep.outputs["scored"].filter("is_match = 1").count())
    assert 0 <= scored["featurize_ms"] + scored["train_ms"] <= scored["wall_ms"]
    assert ml["score_wall"] >= 0

    line = bench.summarize([{"er_pipeline": er["wall"]}], [er], [ml],
                           sf=0.01, cpus=4)
    assert set(line) == LINE_KEYS
    assert set(line["er_info"]) == ER_INFO_KEYS
    assert set(line["ml_scorer_logistic"]) == ML_KEYS
    assert line["er_pairs_scored"] == er["pairs"]
    assert line["ml_scorer_logistic"]["matches"] == ml["matches"]

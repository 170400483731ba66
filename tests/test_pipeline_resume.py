"""Resume test (SURVEY.md §5 item 4): kill after an intermediate stage,
rerun, byte-identical clusters and no recomputation of committed stages."""

import pyspark.sql.functions as F

from neural_entity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline


def _clusters_dict(df):
    return {r["conv_id"]: r["cluster_id"] for r in df.collect()}


def test_resume_identical_clusters(spark, fixture_small, tmp_path):
    transcripts, labeled, _ = fixture_small
    ckpt = str(tmp_path / "ckpt")

    clusters1, report1 = run_pipeline(
        spark, transcripts, ckpt, PipelineConfig(), input_fingerprint="fx-small",
        run_id="r1",
    )
    c1 = _clusters_dict(clusters1)
    assert not any(s.get("resumed") for s in report1.stages.values()
                   if isinstance(s, dict) and "resumed" in s)

    # simulate a crash after the 'scored' stage: clusters snapshot is lost
    import shutil

    shutil.rmtree(tmp_path / "ckpt" / "clusters")

    clusters2, report2 = run_pipeline(
        spark, transcripts, ckpt, PipelineConfig(), input_fingerprint="fx-small",
        run_id="r2",
    )
    c2 = _clusters_dict(clusters2)
    assert c1 == c2
    # committed stages were resumed, the lost one recomputed
    assert report2.stages["signatures"]["resumed"]
    assert report2.stages["candidates"]["resumed"]
    assert report2.stages["scored"]["resumed"]
    assert not report2.stages["clusters"]["resumed"]


def test_trained_scorer_rescores_when_labels_change(spark, fixture_small,
                                                    tmp_path):
    """Scored-stage checkpoint key folds in the label-set digest for
    trained scorers: same config + same candidates + CHANGED labels must
    retrain, never resume the stale scored snapshot."""
    transcripts, labeled, _ = fixture_small
    ckpt = str(tmp_path / "ckpt_ml")
    cfg = PipelineConfig(scorer="logistic")

    _, rep1 = run_pipeline(
        spark, transcripts, ckpt, cfg, input_fingerprint="fx-small",
        run_id="m1", labeled_pairs=labeled,
    )
    assert not rep1.stages["scored"]["resumed"]

    # identical rerun: everything resumes (labels digest is stable)
    _, rep2 = run_pipeline(
        spark, transcripts, ckpt, cfg, input_fingerprint="fx-small",
        run_id="m2", labeled_pairs=labeled,
    )
    assert rep2.stages["scored"]["resumed"]
    assert rep2.stages["clusters"]["resumed"]

    # flip one label: candidates still resume, scored must recompute
    one = labeled.orderBy("conv_id_a", "conv_id_b").limit(1).collect()[0]
    flipped = labeled.withColumn(
        "y",
        F.when(
            (F.col("conv_id_a") == one["conv_id_a"])
            & (F.col("conv_id_b") == one["conv_id_b"]),
            1 - F.col("y"),
        ).otherwise(F.col("y")),
    )
    _, rep3 = run_pipeline(
        spark, transcripts, ckpt, cfg, input_fingerprint="fx-small",
        run_id="m3", labeled_pairs=flipped,
    )
    assert rep3.stages["candidates"]["resumed"]
    assert not rep3.stages["scored"]["resumed"]

    # config change invalidates downstream stages
    clusters3, report3 = run_pipeline(
        spark, transcripts, ckpt, PipelineConfig(threshold=0.6),
        input_fingerprint="fx-small", run_id="r3",
    )
    assert not report3.stages["scored"]["resumed"]

    # lineage rows exist per stage with per-partition granularity
    # (read through the mergeSchema helper — a checkpoint_dir that
    # predates the event columns mixes 7- and 9-column files)
    from neural_entity_matching_spark.plans.pipeline import read_run_metrics

    metrics = read_run_metrics(spark, ckpt)
    stages = {r["stage"] for r in metrics.select("stage").distinct().collect()}
    assert {"signatures", "candidates", "scored", "clusters"} <= stages
    assert metrics.filter(F.col("rows_out") <= 0).count() == 0

    # cap events are queryable run_metrics rows (round-5 verdict item
    # #6), emitted only by runs that actually blocked (never on resume)
    ev = metrics.filter(F.col("event").isNotNull())
    names = {r["event"] for r in ev.select("event").distinct().collect()}
    assert {"total_blocks", "oversized_blocks", "dropped_memberships",
            "capped_at"} <= names
    over = ev.filter((F.col("stage") == "candidates")
                     & (F.col("event") == "oversized_blocks"))
    vals = {r["event_value"] for r in over.collect()}
    assert vals == {rep1.stages["_blocking_stats"]["oversized_blocks"]}
    # one event set per COMPUTED candidates stage: m1 and r3 recomputed
    # nothing upstream of scored, so exactly the first run's events exist
    assert over.count() == 1


def test_fingerprint_folds_minhash_family(monkeypatch):
    """A minhash-family change must invalidate every stage snapshot for
    otherwise-identical configs — resuming candidate snapshots across
    families would silently mix incompatible band-key spaces (round-4
    advice item #1). No Spark needed: fingerprints are pure."""
    from neural_entity_matching_spark.plans import pipeline as pl

    cfg = pl.PipelineConfig()
    before = {s: cfg.fingerprint(s, "up") for s in
              ("signatures", "candidates", "scored", "clusters")}
    monkeypatch.setattr(pl, "HASH_FAMILY", "some-older-family-v0")
    after = {s: cfg.fingerprint(s, "up") for s in before}
    for stage in before:
        assert before[stage] != after[stage], stage

"""run_metrics lineage comes from the counts each snapshot records: a
computed stage's rows equal its snapshot's partitions, a resumed stage's
rows come from its _SNAPSHOT.json, a snapshot written before the
partition_rows key still resumes, and run_pipeline releases every
persisted handle it creates, with the threshold scorer and with the
logistic matcher."""

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from neural_entity_matching_spark.plans.pipeline import (
    PipelineConfig,
    read_run_metrics,
    run_pipeline,
)

STAGES = ("signatures", "candidates", "scored", "clusters")


def _run(spark, transcripts, ckpt, run_id):
    return run_pipeline(spark, transcripts, ckpt, PipelineConfig(),
                        input_fingerprint="fx-small", run_id=run_id)


def _lineage(spark, ckpt, run_id, stage):
    rows = (read_run_metrics(spark, ckpt)
            .filter((F.col("run_id") == run_id) & (F.col("stage") == stage)
                    & F.col("event").isNull())
            .collect())
    return rows, sorted((r["partition_id"], r["rows_out"]) for r in rows)


def _partitions(df):
    return sorted(tuple(r) for r in
                  df.groupBy(F.spark_partition_id()).count().collect())


def _snapshot_path(ckpt, report, stage):
    return os.path.join(ckpt, stage, report.stages[stage]["snapshot_id"],
                        "_SNAPSHOT.json")


def _edit_snapshot(path, edit):
    with open(path) as f:
        snap = json.load(f)
    edit(snap)
    with open(path, "w") as f:
        json.dump(snap, f)


def test_lineage_rows_match_snapshots_and_resume(spark, fixture_small,
                                                 tmp_path):
    transcripts, _, _ = fixture_small
    ckpt = str(tmp_path / "ckpt")
    _, rep1 = _run(spark, transcripts, ckpt, "l1")
    for stage in STAGES:
        rows, parts = _lineage(spark, ckpt, "l1", stage)
        info = rep1.stages[stage]
        assert parts == _partitions(rep1.outputs[stage]), stage
        assert sum(n for _, n in parts) == info["rows"], stage
        assert {(r["wall_ms"], r["snapshot_id"], r["resumed"])
                for r in rows} == {(info["wall_ms"], info["snapshot_id"],
                                    False)}, stage

    # resume with: signatures' recorded partition ids shifted (so rows
    # that come from the file are recognisable), candidates'
    # partition_rows key removed (a snapshot written before it existed),
    # clusters lost
    sig_path = _snapshot_path(ckpt, rep1, "signatures")
    cand_path = _snapshot_path(ckpt, rep1, "candidates")
    _edit_snapshot(sig_path, lambda s: s.update(partition_rows=[
        [pid + 100, n] for pid, n in s["partition_rows"]]))
    _edit_snapshot(cand_path, lambda s: s.pop("partition_rows"))
    shutil.rmtree(os.path.join(ckpt, "clusters"))

    _, rep2 = _run(spark, transcripts, ckpt, "l2")
    assert [rep2.stages[s]["resumed"] for s in STAGES] == [
        True, True, True, False]
    sig_parts = _partitions(rep2.outputs["signatures"])
    assert _lineage(spark, ckpt, "l2", "signatures")[1] == [
        (pid + 100, n) for pid, n in sig_parts]
    for stage in ("candidates", "scored", "clusters"):
        assert (_lineage(spark, ckpt, "l2", stage)[1]
                == _partitions(rep2.outputs[stage])), stage
        assert rep2.stages[stage]["rows"] == rep1.stages[stage]["rows"]
    # the resumed old snapshot gained the key
    with open(cand_path) as f:
        snap = json.load(f)
    assert ([tuple(p) for p in snap["partition_rows"]]
            == _partitions(rep2.outputs["candidates"]))


@pytest.mark.parametrize("scorer", ["threshold", "logistic"])
def test_run_pipeline_releases_persisted_handles(spark, fixture_small,
                                                 tmp_path, scorer):
    transcripts, labeled, _ = fixture_small
    # the fixture's own caches register on first use
    transcripts.count()
    labeled.count()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    before = rdds.size()
    run_pipeline(spark, transcripts, str(tmp_path / "ckpt"),
                 PipelineConfig(scorer=scorer), input_fingerprint="fx-small",
                 run_id="leak", labeled_pairs=labeled)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before

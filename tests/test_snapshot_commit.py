"""A stage snapshot commits with its write as the only Spark job: counts
and schema come from the written files' parquet footers, every read
passes the recorded schema, a resumed stage runs no job, and a resume
whose data files no longer add up to the committed rows recomputes."""

import json
import os
import uuid

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from neural_entity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
from neural_entity_matching_spark.sources.io import CheckpointManager

STAGES = ("signatures", "candidates", "scored", "clusters")


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"snapshot-commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _partitions(df):
    return sorted(tuple(r) for r in
                  df.groupBy(F.spark_partition_id()).count().collect())


def _edit(path, edit):
    with open(path) as f:
        snap = json.load(f)
    edit(snap)
    with open(path, "w") as f:
        json.dump(snap, f)


def _stage_dir(ckpt, report, stage):
    return os.path.join(ckpt, stage, report.stages[stage]["snapshot_id"])


@pytest.mark.parametrize("scorer", ["threshold", "logistic"])
def test_stage_reads_have_the_inferred_schema(spark, fixture_small, tmp_path,
                                              scorer):
    transcripts, labeled, _ = fixture_small
    ckpt = str(tmp_path / "ckpt")
    _, report = run_pipeline(spark, transcripts, ckpt,
                             PipelineConfig(scorer=scorer),
                             input_fingerprint="fx-small", run_id="schema",
                             labeled_pairs=labeled)
    for stage in STAGES:
        plain = spark.read.parquet(
            os.path.join(_stage_dir(ckpt, report, stage), "data"))
        df = report.outputs[stage]
        assert df.schema == plain.schema, stage
        assert _rows(df) == _rows(plain), stage


def test_resume_recomputes_when_files_do_not_add_up(spark, fixture_small,
                                                    tmp_path):
    transcripts, _, _ = fixture_small
    ckpt = str(tmp_path / "ckpt")

    def run(run_id):
        return run_pipeline(spark, transcripts, ckpt, PipelineConfig(),
                            input_fingerprint="fx-small", run_id=run_id)[1]

    rep1 = run("f1")
    meta = os.path.join(_stage_dir(ckpt, rep1, "candidates"),
                        "_SNAPSHOT.json")
    rows = rep1.stages["candidates"]["rows"]
    _edit(meta, lambda s: s.update(rows=rows + 1))

    rep2 = run("f2")
    assert [rep2.stages[s]["resumed"] for s in STAGES] == [
        True, False, True, True]
    assert rep2.stages["candidates"]["rows"] == rows
    assert rep2.outputs["candidates"].count() == rows
    with open(meta) as f:
        assert json.load(f)["rows"] == rows


def test_commit_runs_only_the_write_job(spark, tmp_path):
    def plan():
        return spark.range(1000).repartition(3)

    _, direct = _jobs(spark, lambda: plan().write.parquet(
        str(tmp_path / "direct")))
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt"))
    res, computed = _jobs(spark, lambda: ckpt.run_or_resume("s", "fp", plan))
    assert not res.resumed
    assert computed == direct
    assert res.rows == 1000
    assert res.partition_rows == _partitions(res.df)

    res, resumed = _jobs(spark, lambda: ckpt.run_or_resume("s", "fp", plan))
    assert res.resumed
    assert resumed == 0
    assert res.rows == 1000


def test_old_snapshot_gains_schema_and_partition_rows_without_a_job(
        spark, tmp_path):
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt"))

    def plan():
        return spark.range(500).select(
            F.col("id"), F.array(F.col("id")).alias("ids"),
            F.struct(F.col("id").alias("x")).alias("s")).repartition(2)

    first = ckpt.run_or_resume("s", "fp", plan)
    meta = ckpt._paths("s", "fp")[1]
    committed = ckpt.load_snapshot("s", "fp")

    for key in ("schema", "partition_rows"):
        _edit(meta, lambda s: s.pop(key))
        res, jobs = _jobs(spark, lambda: ckpt.run_or_resume("s", "fp", plan))
        assert res.resumed, key
        assert jobs == 0, key
        assert ckpt.load_snapshot("s", "fp")[key] == committed[key]
        assert res.df.schema == first.df.schema
        assert res.partition_rows == first.partition_rows
        assert _rows(res.df) == _rows(first.df)


def test_empty_stage_output(spark, tmp_path):
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt"))

    def plan():
        return spark.range(10).filter(F.col("id") < 0).select(
            F.col("id"), F.lit("x").alias("tag"))

    for resumed in (False, True):
        res = ckpt.run_or_resume("empty", "fp", plan)
        assert res.resumed == resumed
        snap = ckpt.load_snapshot("empty", "fp")
        assert (snap["rows"], snap["partition_rows"]) == (0, [])
        assert (res.rows, res.partition_rows) == (0, [])
        data = ckpt._paths("empty", "fp")[0]
        assert res.df.schema == spark.read.parquet(data).schema
        assert res.df.count() == 0


@pytest.fixture
def split_reads(spark):
    """Small row groups and small read splits: each file is written as
    several row groups, large files are read in several ranges, and small
    ones are packed several to a read partition."""
    confs = {"parquet.block.size": "8192",
             "spark.sql.files.maxPartitionBytes": "24000",
             "spark.sql.files.openCostInBytes": "4000"}
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_partition_rows_follow_split_and_packed_reads(spark, tmp_path,
                                                      split_reads):
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt"))
    # uneven files: most rows in one large file, 20 in each small one
    res = ckpt.run_or_resume("s", "fp", lambda: spark.range(20000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("h"),
        F.when(F.col("id") < 19900, 0).otherwise(F.col("id") % 5).alias("k")
    ).repartition(6, "k"))
    data = ckpt._paths("s", "fp")[0]
    files = [os.path.join(data, n) for n in os.listdir(data)
             if n.startswith("part-")]
    assert len(files) > 2
    assert max(pq.read_metadata(f).num_row_groups for f in files) > 1
    assert res.df.rdd.getNumPartitions() > len(files)
    assert res.partition_rows == _partitions(res.df)
    assert res.rows == 20000

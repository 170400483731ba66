"""The benchmark's workloads.

Each workload builds its inputs from the seed (``setup``), runs one
operation through a public entry point of the package (``run_op``), and
counts that operation's output (``counts``, untimed). The first operation
of a run is the warm-up; its output is checked in full (``check``, which
also sets ``f1``) and fixes the counts every later operation of the run
must repeat exactly. ``end_to_end`` and ``layers`` name the metrics the
workload reports; ``op_metrics`` gives one operation's end-to-end values.
The ``unbounded`` end-to-end metrics go to the log, not the result line.
"""

from __future__ import annotations

import os
import shutil
import statistics

from pyspark.sql import functions as F

from neural_entity_matching_spark import schema
from neural_entity_matching_spark.functions.normalize import build_signatures
from neural_entity_matching_spark.operators.blocking import lsh_block
from neural_entity_matching_spark.operators.evaluation import (
    blocking_recall,
    pairwise_f1,
)
from neural_entity_matching_spark.operators.scoring import fast_threshold_score
from neural_entity_matching_spark.plans import pipeline
from neural_entity_matching_spark.plans.pipeline import PipelineConfig
from neural_entity_matching_spark.sources.synth import generate
from neural_entity_matching_spark.streaming.incremental_er import (
    incremental_er,
    read_current_matches,
)
from neural_entity_matching_spark.streaming.ingest import stream_transcripts

MIN_F1 = 0.99
PAIR = ("conv_id_a", "conv_id_b")

BATCH_N_BASE = 300
# outputs of run_pipeline(PipelineConfig()) at seed 42, n_base 300
BATCH_SEED42 = {"candidates": 4128, "clusters": 342}

STREAM_N_BASE = 150
# the drop dir holds STREAM_FILES files; stream_transcripts reads 4 per
# trigger, so one drain is STREAM_FILES / 4 micro-batches
STREAM_FILES = 8
STREAM_BLOCK_CAP = 100
STREAM_COMPACT_EVERY = 2
STREAM_PARTITIONS = 4
STREAM_LSH = dict(num_hashes=128, bands=64, char_ngram=8, seed=42)


def match_counts(scored) -> dict:
    """Match count and an order-free digest of the matched pairs."""
    row = (scored.filter(F.col("is_match") == 1)
           .agg(F.count("*").alias("n"),
                F.bit_xor(F.xxhash64(*PAIR)).alias("h"))
           .collect()[0])
    return {"matches": row["n"], "match_digest": row["h"] or 0}


class Corpus:
    """A ``run_pipeline`` workload over the synth corpus and its labels,
    both cached DataFrames. Both batch workloads report the same metrics,
    so a layer one of them does not reach reads 0 there."""

    end_to_end = {"wall_s": "s", "pairs_per_s": "pairs/s"}
    # measured and logged, not printed in the result line: at this corpus
    # size the wall hardly depends on the candidate count, so pairs/s
    # follows the seed's count (2,900-4,300) and cannot hold a bound
    unbounded = ("pairs_per_s",)
    layers = ("normalize", "blocking", "scoring", "featurize", "ml_scorer",
              "clustering", "io", "pipeline")
    layer_units = {
        "normalize.rows_out": "rows",
        "blocking.candidates": "pairs",
        "blocking.oversized_blocks": "count",
        "blocking.dropped_memberships": "count",
        "blocking.recall": "ratio",
        "scoring.matches": "pairs",
        "scoring.match_yield": "ratio",
        "featurize.pairs": "pairs",
        "ml_scorer.pairs": "pairs",
        "ml_scorer.matches": "pairs",
        "clustering.clusters": "count",
        "io.bytes_written": "bytes",
        "io.snapshot_writes": "count",
        "io.snapshot_reads": "count",
    }

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed

    def setup(self, data_dir: str) -> None:
        turns, labels, _ = generate(n_base=BATCH_N_BASE, seed=self.seed)
        self.turns = len(turns)
        self.fingerprint = f"synth-{BATCH_N_BASE}-{self.seed}"
        self.transcripts = self.spark.createDataFrame(
            turns, schema=schema.TRANSCRIPTS).cache()
        self.labels = self.spark.createDataFrame(
            labels, schema=schema.LABELED_PAIRS).cache()
        self.transcripts.count()
        self.labels.count()
        self.ckpt = os.path.join(data_dir, "ckpt")

    def run(self, checkpoint_dir: str, config: PipelineConfig) -> dict:
        clusters, self.report = pipeline.run_pipeline(
            self.spark, self.transcripts, checkpoint_dir, config,
            input_fingerprint=self.fingerprint, run_id=self.name,
            labeled_pairs=self.labels)
        return {"clusters": clusters.select("cluster_id").distinct().count()}

    def counts(self, out: dict) -> dict:
        return {**out, **match_counts(self.report.outputs["scored"]),
                "candidates": self.report.stages["candidates"]["rows"]}

    def op_metrics(self, wall: float, counts: dict) -> dict:
        return {"wall_s": wall, "pairs_per_s": counts["candidates"] / wall}

    def check(self, counts: dict) -> list[str]:
        """Pairwise F1 at the fixed blocking keys."""
        self.f1 = pairwise_f1(self.report.outputs["scored"], self.labels,
                              universe=self.report.outputs["candidates"]).f1
        return ([] if self.f1 >= MIN_F1 else
                [f"pairwise_f1 {self.f1:.4f} < {MIN_F1}"])


class BatchER(Corpus):
    """``run_pipeline(PipelineConfig())`` (threshold scorer, bands 64,
    block_cap 35) into an empty checkpoint dir, then the cluster count:
    every stage computes and writes its snapshot."""

    name = "batch_er"

    def run_op(self, op_dir: str) -> dict:
        return self.run(op_dir, PipelineConfig())

    def check(self, counts: dict) -> list[str]:
        errors = super().check(counts)
        if self.seed == 42:
            errors += [f"{k}={counts[k]}, seed 42 expects {v}"
                       for k, v in BATCH_SEED42.items() if counts[k] != v]
        return errors

    def layer_counts(self, counts: dict) -> dict:
        blocking = self.report.stages["_blocking_stats"]
        return {
            "normalize.rows_out": self.report.stages["signatures"]["rows"],
            "blocking.candidates": counts["candidates"],
            "blocking.oversized_blocks": blocking["oversized_blocks"],
            "blocking.dropped_memberships": blocking["dropped_memberships"],
            "blocking.recall": blocking_recall(
                self.report.outputs["candidates"], self.labels),
            "scoring.matches": counts["matches"],
            "scoring.match_yield": counts["matches"] / counts["candidates"],
            "clustering.clusters": counts["clusters"],
        }


class MLRescore(Corpus):
    """The trained-matcher step. The warm-up writes the signatures and
    candidates snapshots; each later operation drops the scored and
    clusters snapshots and runs ``run_pipeline`` with the logistic
    matcher, which resumes (reads) those two snapshots and computes
    featurize, train, score and clusters."""

    name = "ml_rescore"

    def run_op(self, op_dir: str) -> dict:
        resume = os.path.isdir(os.path.join(self.ckpt, "candidates"))
        for stage in ("scored", "clusters", "run_metrics"):
            shutil.rmtree(os.path.join(self.ckpt, stage), ignore_errors=True)
        out = self.run(self.ckpt, PipelineConfig(scorer="logistic"))
        if resume and not all(self.report.stages[s]["resumed"]
                              for s in ("signatures", "candidates")):
            raise RuntimeError("signatures/candidates snapshots not resumed")
        return out

    def layer_counts(self, counts: dict) -> dict:
        return {
            "featurize.pairs": counts["candidates"],
            "ml_scorer.pairs": counts["candidates"],
            "ml_scorer.matches": counts["matches"],
            "clustering.clusters": counts["clusters"],
        }


class StreamER:
    """Drain a file-drop dir of turns through ``incremental_er`` with fresh
    work and checkpoint dirs; the drained match set must equal the batch
    match set at the same blocking keys."""

    name = "stream_er"
    end_to_end = {"wall_s": "s", "turns_per_s": "turns/s",
                  "epoch_p50_s": "s"}
    unbounded = ()
    layers = ("normalize", "blocking_stream", "scoring", "incremental_er")
    layer_units = {
        "normalize.rows_out": "rows",
        "blocking_stream.candidates_per_epoch": "pairs",
        "scoring.matches": "pairs",
        "scoring.match_yield": "ratio",
        "incremental_er.compaction_ratio": "ratio",
        "stream.epochs": "count",
        "stream.epoch_max_s": "s",
        "stream.add_batch_s": "s",
        "stream.wal_commit_s": "s",
        "stream.query_planning_s": "s",
    }

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed

    def setup(self, data_dir: str) -> None:
        spark = self.spark
        turns, labels, _ = generate(n_base=STREAM_N_BASE, seed=self.seed)
        self.turns = len(turns)
        self.labels = spark.createDataFrame(
            labels, schema=schema.LABELED_PAIRS).cache()
        self.src = os.path.join(data_dir, "drop")
        # ts-ordered files, so the stream sees conversations in arrival
        # order and long ones straddle micro-batches
        (spark.createDataFrame(turns, schema=schema.TRANSCRIPTS)
         .repartitionByRange(STREAM_FILES, "ts").sortWithinPartitions("ts")
         .write.mode("overwrite").parquet(self.src))

    def run_op(self, op_dir: str) -> dict:
        self.work = os.path.join(op_dir, "work")
        query = incremental_er(
            self.spark, stream_transcripts(self.spark, self.src), self.work,
            os.path.join(op_dir, "stream_ckpt"), block_cap=STREAM_BLOCK_CAP,
            compact_every=STREAM_COMPACT_EVERY,
            store_partitions=STREAM_PARTITIONS, **STREAM_LSH).start()
        try:
            query.awaitTermination()
        finally:
            query.stop()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        self.progress = [p for p in query.recentProgress
                         if p["numInputRows"] > 0]
        return {"epochs": len(self.progress)}

    def counts(self, out: dict) -> dict:
        self.got = {tuple(r) for r in read_current_matches(
            self.spark, self.work).select(*PAIR).collect()}
        # distinct pairs the stream scored (the log keeps every evaluation
        # of a pair until the next compaction)
        self.evaluated = (
            self.spark.read.parquet(os.path.join(self.work, "matches"))
            .select(*PAIR).distinct())
        return {**out, "matches": len(self.got),
                "pairs": self.evaluated.count(),
                # set digest: stable within the process, which is all the
                # comparison with the warm-up needs
                "match_digest": hash(frozenset(self.got))}

    def epoch_s(self) -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1000
                for p in self.progress]

    def op_metrics(self, wall: float, counts: dict) -> dict:
        return {"wall_s": wall, "turns_per_s": self.turns / wall,
                "epoch_p50_s": statistics.median(self.epoch_s())}

    def check(self, counts: dict) -> list[str]:
        """The batch match set at the stream's blocking keys, computed once
        after the warm-up, must equal the drained set. Pairwise F1 is
        reported, not gated: at block_cap 100 the synth corpus's hot
        greeting block is scored, and its pairs are not labeled matches."""
        spark = self.spark
        sigs = build_signatures(spark.read.parquet(self.src)).cache()
        cand, _ = lsh_block(sigs, block_cap=STREAM_BLOCK_CAP, **STREAM_LSH)
        scored = fast_threshold_score(cand, sigs, threshold=0.55).persist()
        scored.count()  # materialize before filtering is_match
        expected = {tuple(r) for r in scored.filter(F.col("is_match") == 1)
                    .select(*PAIR).collect()}
        for df in (scored, cand, sigs):
            df.unpersist()
        predicted = (spark.createDataFrame(sorted(self.got), list(PAIR))
                     .withColumn("is_match", F.lit(1)))
        self.f1 = pairwise_f1(predicted, self.labels,
                              universe=self.evaluated).f1
        return ([] if self.got == expected else
                ["drained matches differ from the batch match set"])

    def layer_counts(self, counts: dict) -> dict:
        durations = [p["durationMs"] for p in self.progress]
        epochs = self.epoch_s()

        def median_s(key):
            return statistics.median(d.get(key, 0) for d in durations) / 1000

        # signatures rebuilt: the conversations each epoch touched
        rebuilt = (self.spark.read.parquet(os.path.join(self.work, "turns"))
                   .select("epoch", "conv_id").distinct().count())
        return {
            "normalize.rows_out": rebuilt,
            "scoring.matches": counts["matches"],
            "scoring.match_yield": counts["matches"] / counts["pairs"],
            "stream.epochs": len(epochs),
            "stream.epoch_max_s": max(epochs),
            "stream.add_batch_s": median_s("addBatch"),
            "stream.wal_commit_s": median_s("walCommit"),
            "stream.query_planning_s": median_s("queryPlanning"),
        }


WORKLOADS = {w.name: w for w in (BatchER, MLRescore, StreamER)}

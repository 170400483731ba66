"""End-to-end pipeline orchestration: block -> score -> cluster, with
snapshot checkpoints, resume, and per-partition lineage metrics.

This is the Spark lifecycle of the reference's EP2
(reference script/model_magellan_ml.py:138-430) re-expressed as staged
DataFrame jobs (SURVEY.md §3): scan -> normalize -> signature -> minhash
band keys -> capped band-key blocks (or the sequential token-overlap
cascade) -> candidate pairs -> scorer (fused threshold cascade, or
features + trained matcher) -> edge list -> connected components ->
clusters table. Each stage commits a snapshot (sources/io.py), so a
killed run resumes from the last committed stage (north rule).

Per-partition lineage and the blocker's cap/fallback events go to the
append-only ``run_metrics`` table in one write per run. Their rows are
built on the driver from the counts each snapshot records, which come
from the written files' parquet footers, so lineage costs no job beyond
that write. Clustering runs on the driver (``algorithm='local'``) when
the scored stage's row count, which bounds the match count, is at most
``LOCAL_MAX_EDGES``; above it, distributed label propagation.

The logistic matcher's scored stage runs on the driver within
``LOCAL_MAX_SCORE_PAIRS`` candidates and the blocker's signature row and
byte bounds (``_score_on_driver``): pyarrow reads both committed
snapshots, the featurize kernel runs once in numpy, and labels, the
single-class guard and the fit follow on the driver, with one label
collect as the only job before the snapshot write, which scores. The
label count comes from the label digest's aggregate, before any collect.
Above a bound, and for the ``gbt``/``random_forest`` matchers, whose
spark.ml fits depend on partitioning, the Spark path below runs.

The scored stage's Spark path reads its two inputs spread over every
core. At small scale each snapshot is one parquet file and reads back as
one partition;
both payload joins then broadcast the candidate table and stream the
one-partition signature table, so the whole per-pair kernel (the
Levenshtein cascade, or the featurize Arrow UDF) would run in one task.
When a snapshot has fewer non-empty partitions than
``defaultParallelism``, the read is round-robin repartitioned to that
count first. The rule is conditional because a snapshot at scale already
has at least that many partitions, and an unconditional repartition would
shuffle the signature table, the pipeline's largest, for nothing. The
partition count comes from ``_SNAPSHOT.json``, where the commit counted
the read's partitions from the data files' footers, so neither the
commit nor the decision costs a job.
Blocking and clustering read the snapshots as written.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neural_entity_matching_spark.functions.minhash import HASH_FAMILY
from neural_entity_matching_spark.functions.normalize import build_signatures
from neural_entity_matching_spark.operators.blocking import lsh_block
from neural_entity_matching_spark.operators.clustering import connected_components
from neural_entity_matching_spark.operators.driver_limits import (
    LOCAL_MAX_EDGES,
    LOCAL_MAX_FIT_ROWS,
    LOCAL_MAX_LABEL_ROWS,
    LOCAL_MAX_SCORE_PAIRS,
    LOCAL_MAX_SIGNATURE_BYTES,
    LOCAL_MAX_SIGNATURES,
)
from neural_entity_matching_spark.operators.scoring import (
    FEATURE_COLS,
    attach_labels,
    attach_labels_local,
    degenerate_scorer,
    fast_threshold_score,
    featurize_pairs,
    featurize_pairs_local,
    is_single_class,
)
from neural_entity_matching_spark.sources.io import (
    CheckpointManager,
    StageResult,
    arrow_frame,
    fingerprint,
)


# which config fields a stage's output actually depends on — the grid
# runner sweeps configs, and two configs that agree on a stage's fields
# (and upstream) share the stage snapshot instead of recomputing it
# (reference expand_grid recomputes everything per combination,
# model_magellan_ml.py:383-430)
STAGE_FIELDS = {
    "signatures": (),
    "candidates": ("blocker", "num_hashes", "bands", "char_ngram", "seed",
                   "block_cap", "seq_min_tokens", "seq_cutoff",
                   "seq_max_token_df"),
    "scored": ("scorer", "threshold", "w_lev", "w_jacc", "ml_seed"),
    "clusters": (),
}


@dataclass
class PipelineConfig:
    # blocking axis — the reference grid sweeps blocker type
    # {lsh, sequential} x params (model_magellan_ml.py:183-193,383-396):
    # 'lsh' = MinHash-LSH band join; 'sequential' = token-overlap
    # candidates then edit-distance filter on survivors
    blocker: str = "lsh"
    num_hashes: int = 128
    bands: int = 64
    char_ngram: int = 8
    seed: int = 42
    block_cap: int = 35
    # sequential-blocker params (reference overlap_size and
    # cutoff_distance in {50,60,70,80}, model_magellan_ml.py:391)
    seq_min_tokens: int = 2
    seq_cutoff: float = 60.0
    seq_max_token_df: int | None = 1000
    # scoring axis — 'threshold' (deterministic linear, scored by the
    # fused JVM cascade fast_threshold_score) or a trained matcher
    # 'logistic' | 'gbt' | 'random_forest' over the featurize_pairs table
    # (reference M1, trained on the post-blocking labeled candidates;
    # requires labeled_pairs). Neither path takes a physical or
    # feature-variant option.
    # A trained scorer's output depends on the label table; run_pipeline
    # digests labeled_pairs and folds it into the scored-stage
    # fingerprint, so a changed label set re-scores instead of resuming
    # a stale snapshot (enforced in code, not a caller contract).
    scorer: str = "threshold"
    ml_seed: int = 0
    threshold: float = 0.55
    w_lev: float = 0.5
    w_jacc: float = 0.5
    # bumped whenever ANY persisted stage output changes meaning for the
    # same config fields ("2": round-4 minhash family change — old
    # candidate snapshots are key-space-incompatible and must not resume)
    version: str = "2"

    def fingerprint(self, stage: str, upstream: str) -> str:
        d = asdict(self)
        fields = STAGE_FIELDS.get(stage)
        sel = sorted(d.items()) if fields is None else [
            (k, d[k]) for k in sorted(fields)
        ]
        # the minhash family tag is folded into EVERY stage fingerprint
        # (not just 'candidates'): a family change invalidates candidates
        # and everything downstream of them, and version bumps alone are
        # easy to forget when the family moves again
        return fingerprint(stage, upstream, sel, self.version, HASH_FAMILY)


@dataclass
class PipelineReport:
    run_id: str
    # stage-name -> {rows, wall_ms, resumed, snapshot_id}; a trained
    # matcher's scored stage adds featurize_ms and train_ms, the parts of
    # its wall_ms before scoring, when it computes (not when resumed)
    stages: dict = field(default_factory=dict)
    # stage-name -> output DataFrame (in-process handles for grid/eval)
    outputs: dict = field(default_factory=dict)


def _spread(res: StageResult) -> DataFrame:
    """``res.df`` round-robin repartitioned to ``defaultParallelism`` when
    its snapshot read has fewer non-empty partitions than that, else
    ``res.df`` itself; the scored stage's Spark path reads its inputs
    through it. The count is ``len(res.partition_rows)``, which the
    commit took from the planned read and the data files' footers: no
    job."""
    n = res.df.sparkSession.sparkContext.defaultParallelism
    if len(res.partition_rows) >= n:
        return res.df
    return res.df.repartition(n)


def _ms_since(t0: float) -> int:
    return int((time.monotonic() - t0) * 1000)


def _score_on_driver(cand_res: StageResult, sig_res: StageResult,
                     labeled_pairs: DataFrame, n_labels: int,
                     threshold: float, parts: dict) -> DataFrame | None:
    """The logistic scored stage computed on the driver, or None above a
    bound, where the Spark path runs instead.

    Within ``LOCAL_MAX_SCORE_PAIRS`` candidates, ``LOCAL_MAX_SIGNATURES``
    signatures and ``LOCAL_MAX_SIGNATURE_BYTES`` bytes of ``sig_text``
    (the counts from ``_SNAPSHOT.json``, the bytes from the footers) and
    ``LOCAL_MAX_LABEL_ROWS`` labels (``n_labels``, the count
    ``_labels_digest`` took), it reads both snapshots with pyarrow and
    collects the labels as one Arrow table, the stage's only job before
    its write. It then featurizes
    (``featurize_pairs_local``), attaches the labels
    (``attach_labels_local``, None above ``LOCAL_MAX_FIT_ROWS`` training
    rows), applies the single-class guard and fits (``fit_logistic``).
    The features go back as a frame over Arrow batches, and
    ``score_with_model``'s JVM expression scores them inside the snapshot
    write. Every feature, coefficient and decision equals the Spark
    path's. ``parts`` gets the stage's part walls when it returns a
    frame: ``featurize_ms`` (reads, label collect, featurize, attach) and
    ``train_ms`` (the fit)."""
    from neural_entity_matching_spark.operators.ml_scorer import (
        fit_logistic,
        score_with_model,
    )

    if (cand_res.rows > LOCAL_MAX_SCORE_PAIRS
            or sig_res.rows > LOCAL_MAX_SIGNATURES
            or sig_res.column_bytes("sig_text") > LOCAL_MAX_SIGNATURE_BYTES
            or n_labels > LOCAL_MAX_LABEL_ROWS):
        return None
    t0 = time.monotonic()
    labels = labeled_pairs.select("conv_id_a", "conv_id_b", "y").toArrow()
    feats = featurize_pairs_local(
        cand_res.to_arrow(),
        sig_res.to_arrow(["conv_id", "sig_text"], dictionary=("sig_text",)))
    train = attach_labels_local(feats, labels, LOCAL_MAX_FIT_ROWS)
    if train is None:
        return None
    frame = arrow_frame(cand_res.df.sparkSession, feats)
    y = train.column("y")
    parts.update(featurize_ms=_ms_since(t0), train_ms=0)
    t1 = time.monotonic()
    if pc.count_distinct(y, mode="all").as_py() < 2:
        return degenerate_scorer(frame)
    x = np.column_stack([train.column(c).to_numpy(zero_copy_only=False)
                         for c in FEATURE_COLS])
    model = fit_logistic(x, y.to_numpy(), FEATURE_COLS)
    parts["train_ms"] = _ms_since(t1)
    return score_with_model(model, frame, threshold=threshold)


def _labels_digest(labeled_pairs: DataFrame) -> tuple[str, int]:
    """Order-independent content digest of the label table (bit_xor of
    row hashes + count), and the count. One aggregate job over the
    o(corpus) label set — cheap insurance that a trained scorer never
    resumes a snapshot built from different labels; the count is what the
    scored stage's driver path checks against ``LOCAL_MAX_LABEL_ROWS``."""
    row = labeled_pairs.agg(
        F.bit_xor(F.xxhash64("conv_id_a", "conv_id_b", "y")).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return f"+labels:{row['n']}:{row['h']}", row["n"]


# the run_metrics row: per-partition lineage rows carry partition_id,
# rows_out and wall_ms; event rows carry event and event_value
_RUN_METRICS_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("stage", pa.string()),
    ("partition_id", pa.int32()), ("rows_out", pa.int64()),
    ("wall_ms", pa.int64()), ("snapshot_id", pa.string()),
    ("resumed", pa.bool_()), ("event", pa.string()),
    ("event_value", pa.int64()),
])


def _lineage_rows(run_id: str, stage: str, res) -> list[tuple]:
    """Per-partition lineage (north rule 'per-partition lineage +
    metrics'): one row per non-empty partition of the stage's snapshot,
    from the counts the snapshot recorded."""
    return [(run_id, stage, pid, n, res.wall_ms, res.snapshot_id,
             res.resumed, None, None) for pid, n in res.partition_rows]


def _event_rows(run_id: str, stage: str, snapshot_id: str,
                stats) -> list[tuple]:
    """Cap/fallback events as queryable ``run_metrics`` rows (north rule:
    caps must be 'semantically visible', not just in-memory stats): one
    row per event with a numeric value; the grouped blocker's
    prune-before-collect fallback trigger is folded into the event name
    (``fallback:<trigger>``, value 1). Same schema as the per-partition
    lineage rows with partition_id/rows_out/wall_ms null."""
    events: list[tuple[str, int]] = []
    for name in ("total_blocks", "oversized_blocks", "dropped_memberships",
                 "capped_at"):
        v = getattr(stats, name, None)
        if v is not None:
            events.append((name, int(v)))
    hot = stats.extra.get("hot_tokens_dropped")
    if hot is not None:
        events.append(("hot_tokens_dropped", int(hot)))
    fb = stats.extra.get("fallback")
    if fb:
        events.append((f"fallback:{fb}", 1))
    return [(run_id, stage, None, None, None, snapshot_id, False, k, v)
            for k, v in events]


def _append_run_metrics(spark: SparkSession, checkpoint_dir: str,
                        rows: list[tuple]) -> None:
    """One append of driver-built rows through an Arrow local relation."""
    table = pa.Table.from_pylist(
        [dict(zip(_RUN_METRICS_SCHEMA.names, r)) for r in rows],
        schema=_RUN_METRICS_SCHEMA)
    (spark.createDataFrame(table).write.mode("append")
     .parquet(f"{checkpoint_dir}/run_metrics"))


def read_run_metrics(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """THE way to read the lineage table. ``run_metrics`` is append-only
    and gained the (event, event_value) columns in a later release, so a
    long-lived checkpoint_dir mixes 7- and 9-column files; a bare
    ``read.parquet`` infers the schema from one arbitrary footer and can
    either drop the new columns or fail on ``col('event')``. mergeSchema
    unions the footers (pre-event rows read as NULL events)."""
    return (spark.read.option("mergeSchema", "true")
            .parquet(f"{checkpoint_dir}/run_metrics"))


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    checkpoint_dir: str,
    config: PipelineConfig | None = None,
    input_fingerprint: str = "",
    run_id: str = "run",
    labeled_pairs: DataFrame | None = None,
) -> tuple[DataFrame, PipelineReport]:
    """Run (or resume) the full chain; returns (clusters, report).

    ``input_fingerprint`` should identify the input snapshot (e.g. the
    Iceberg snapshot id of the transcripts table); stages re-run only when
    it or the config changes. ``labeled_pairs`` (conv_id_a, conv_id_b, y)
    is required when ``config.scorer`` is a trained matcher — its identity
    should be part of ``input_fingerprint`` (see PipelineConfig note).
    """
    cfg = config or PipelineConfig()
    ckpt = CheckpointManager(spark, checkpoint_dir)
    report = PipelineReport(run_id=run_id)
    metrics: list[tuple] = []

    def stage(name: str, upstream_fp: str, compute, repartition_by=None):
        fp = cfg.fingerprint(name, upstream_fp + input_fingerprint)
        res = ckpt.run_or_resume(name, fp, compute, repartition_by=repartition_by)
        report.stages[name] = {
            "rows": res.rows, "wall_ms": res.wall_ms, "resumed": res.resumed,
            "snapshot_id": res.snapshot_id,
        }
        metrics.extend(_lineage_rows(run_id, name, res))
        report.outputs[name] = res.df
        return res

    sig_res = stage(
        "signatures", "input", lambda: build_signatures(transcripts),
        repartition_by=["conv_id"],
    )

    pair_handle: list[DataFrame] = []
    bstats_holder: list = []  # BlockingStats when candidates ran this run

    def compute_candidates():
        if cfg.blocker == "sequential":
            # reference sequential mode: cheap token-overlap candidates,
            # edit-distance predicate on the survivors only
            # (model_magellan_ml.py:189-191)
            from neural_entity_matching_spark.operators.blocking import (
                edit_distance_filter,
                token_overlap_block,
            )

            cand, stats = token_overlap_block(
                sig_res.df, min_shared_tokens=cfg.seq_min_tokens,
                max_token_df=cfg.seq_max_token_df,
            )
            pairs = edit_distance_filter(
                cand, sig_res.df, cutoff_ratio=cfg.seq_cutoff)
            report.stages["_blocking_stats"] = {
                "strategy": "sequential",
                "hot_tokens_dropped": stats.extra.get("hot_tokens_dropped"),
                "capped_at": stats.capped_at,
            }
            bstats_holder.append(stats)
            return pairs
        pairs, stats = lsh_block(
            sig_res.df,
            num_hashes=cfg.num_hashes, bands=cfg.bands,
            char_ngram=cfg.char_ngram, seed=cfg.seed, block_cap=cfg.block_cap,
        )
        pair_handle.append(pairs)  # released after the snapshot write
        report.stages["_blocking_stats"] = {
            "total_blocks": stats.total_blocks,
            "oversized_blocks": stats.oversized_blocks,
            "dropped_memberships": stats.dropped_memberships,
            "capped_at": stats.capped_at,
        }
        bstats_holder.append(stats)
        return pairs

    cand_res = stage("candidates", sig_res.snapshot_id, compute_candidates,
                     repartition_by=["conv_id_a"])
    for h in pair_handle:
        h.unpersist()
    if bstats_holder:
        # cap/fallback events land in run_metrics next to the stage's
        # per-partition rows; a RESUMED candidates stage emits none (the
        # events describe the run that actually blocked)
        metrics.extend(_event_rows(run_id, "candidates",
                                   cand_res.snapshot_id, bstats_holder[0]))

    feat_handle: list[DataFrame] = []
    # a trained matcher's part walls, filled only when the stage computes
    parts: dict[str, int] = {}

    def compute_scored():
        if cfg.scorer == "logistic":
            local = _score_on_driver(cand_res, sig_res, labeled_pairs,
                                     n_labels, cfg.threshold, parts)
            if local is not None:
                return local
        # the per-pair kernel runs in the tasks that stream the signature
        # side of the payload joins: spread one-file snapshot reads over
        # every core first (see the module docstring for why it is
        # conditional)
        cand, sigs = _spread(cand_res), _spread(sig_res)
        if cfg.scorer in ("logistic", "gbt", "random_forest"):
            # trained matcher (reference M1): featurize once, train on the
            # label-attached candidates (negatives implied by absence),
            # score every candidate with the fitted model (logistic: one
            # JVM expression) — with the reference's degenerate
            # single-class bypass
            from neural_entity_matching_spark.operators.ml_scorer import (
                score_with_model,
                train_scorer,
            )

            t0 = time.monotonic()
            feats = featurize_pairs(cand, sigs).persist()
            feat_handle.append(feats)  # fit + transform share one pass
            labeled = attach_labels(feats, labeled_pairs)
            # the guard's job reads every partition of feats, so it fills
            # the cache: featurize ends here
            single = is_single_class(labeled)
            parts.update(featurize_ms=_ms_since(t0), train_ms=0)
            t1 = time.monotonic()
            if single:
                return degenerate_scorer(feats)
            model = train_scorer(labeled, model=cfg.scorer, seed=cfg.ml_seed)
            parts["train_ms"] = _ms_since(t1)
            return score_with_model(model, feats, threshold=cfg.threshold)
        return fast_threshold_score(
            cand, sigs, threshold=cfg.threshold,
            w_lev=cfg.w_lev, w_jacc=cfg.w_jacc,
        )

    # fold the label-set identity into the scored fingerprint for trained
    # scorers: same config + same candidates + DIFFERENT labels must
    # retrain, never resume the stale snapshot
    labels_fp, n_labels = "", 0
    if cfg.scorer in ("logistic", "gbt", "random_forest"):
        if labeled_pairs is None:
            raise ValueError(f"scorer={cfg.scorer!r} needs labeled_pairs")
        labels_fp, n_labels = _labels_digest(labeled_pairs)

    scored_res = stage(
        "scored", cand_res.snapshot_id + labels_fp, compute_scored,
        repartition_by=["conv_id_a"],
    )
    report.stages["scored"].update(parts)
    for h in feat_handle:
        h.unpersist()

    # the scored row count (known without a job) bounds the match edges:
    # small graphs are clustered on the driver from one collect, the same
    # min-id labels without a job per propagation round
    algorithm = ("local" if scored_res.rows <= LOCAL_MAX_EDGES
                 else "label_propagation")
    cluster_res = stage(
        "clusters",
        scored_res.snapshot_id,
        lambda: connected_components(
            scored_res.df.filter(F.col("is_match") == 1)
            .select("conv_id_a", "conv_id_b"),
            vertices=sig_res.df,
            algorithm=algorithm,
        ),
        repartition_by=["cluster_id"],
    )

    _append_run_metrics(spark, checkpoint_dir, metrics)
    return cluster_res.df, report


def run_grid(
    spark: SparkSession,
    transcripts: DataFrame,
    labeled_pairs: DataFrame,
    checkpoint_dir: str,
    configs: list[PipelineConfig],
    input_fingerprint: str = "",
    run_id: str = "grid",
) -> tuple[DataFrame, list[PipelineReport]]:
    """Hyperparameter-grid runner (reference M5): sweep the configs, land
    ONE metrics row per config in ``<checkpoint_dir>/grid_metrics``
    (the Spark shape of the reference's expand_grid loop writing one
    result object per {sampler x blocker x params} combination,
    model_magellan_ml.py:383-430).

    Stage resume makes shared prefixes free: stage fingerprints hash only
    the fields that stage depends on (STAGE_FIELDS), and the snapshot
    store is fingerprint-keyed, so e.g. two configs that differ only in
    ``threshold`` share signatures AND candidates (resumed, not
    recomputed) and only re-score.

    Metrics per config: blocking recall / pruning (at that config's
    blocking keys), pairwise F1 vs the labeled pairs restricted to the
    candidate universe — the reference's eval protocol
    (evaluation_functions.py:100-125).
    """
    from neural_entity_matching_spark.operators.evaluation import (
        blocking_recall,
        pairwise_f1,
        pruning_rate,
    )

    reports: list[PipelineReport] = []
    rows = []
    for idx, cfg in enumerate(configs):
        rid = f"{run_id}-{idx:03d}"
        _, report = run_pipeline(
            spark, transcripts, checkpoint_dir, cfg,
            input_fingerprint=input_fingerprint, run_id=rid,
            labeled_pairs=labeled_pairs,
        )
        reports.append(report)
        cand = report.outputs["candidates"]
        scored = report.outputs["scored"]
        n_entities = report.stages["signatures"]["rows"]
        n_cand = report.stages["candidates"]["rows"]
        rec = blocking_recall(cand, labeled_pairs)
        f1 = pairwise_f1(scored, labeled_pairs, universe=cand)
        rows.append({
            "run_id": rid,
            "config": json.dumps(asdict(cfg), sort_keys=True),
            "n_candidates": int(n_cand),
            "blocking_recall": float(rec),
            "pruning_rate": float(pruning_rate(n_cand, n_entities)),
            "precision": float(f1.precision),
            "recall": float(f1.recall),
            "f1": float(f1.f1),
            "resumed_stages": sum(
                1 for s in ("signatures", "candidates", "scored", "clusters")
                if report.stages[s]["resumed"]
            ),
        })
    out = spark.createDataFrame(rows)
    out.write.mode("append").parquet(f"{checkpoint_dir}/grid_metrics")
    return out, reports

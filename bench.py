"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline set = the scale-path operators (LSH dedup, TF-IDF cosine, ANN
top-k, windowed agg, sessionization, joins/aggs) over the driver tables,
plus the flagship ER pipeline over a deterministic synthetic transcript
corpus sized to the scale factor.

The ER pipeline is ``run_pipeline`` itself, called twice per round into
one fresh temporary checkpoint dir that the round removes afterwards:

* the ER leg, ``PipelineConfig()`` (the threshold scorer): every stage
  computes and commits its snapshot. ``er_pipeline`` is the call's wall,
  so snapshot writes, commits and the ``run_metrics`` append count;
  ``er_info``'s block / score / cluster walls are the report's stage
  walls (block = signatures + candidates);
* the ML leg, ``PipelineConfig(scorer="logistic", threshold=0.5)``: the
  signatures and candidates snapshots resume, so it times the trained
  matcher only. Its wall is the scored stage's; featurize and train are
  the part walls that stage records, and score is the rest.

Cluster and match counts are taken outside every wall.

Measurement protocol (interleaved rounds, median and min): the
WHOLE query set runs ``SPARK_GRAFT_BENCH_ROUNDS`` (default 4) full
interleaved rounds and the reported per-query number is the MEDIAN
across rounds; the raw per-round values are published under
``queries_raw``. This kills two artifacts that polluted earlier
single-shot runs: (a) first-run fixed costs — whole-stage-codegen JIT,
Python-UDF worker fork + pandas/arrow import — which measured 2-4x on
top of steady-state for the ER chain, and (b) this host's multi-minute
noisy-neighbor slow windows, which inflate whichever single run they
happen to overlap (round 2's unattributed "regression" of er_pipeline,
36.0s vs 21.4s for byte-identical output, was exactly these two
artifacts; steady-state is ~8s).

Throughput keys: ``pairs_scored_per_sec`` is candidate pairs scored per
END-TO-END pipeline second (includes signature build, blocking and
clustering — the harness number); ``pairs_scored_per_sec_scoring_only``
divides by the scoring stage alone, which is the number comparable to
the north-rule per-executor scoring throughput (the other stages
amortize at real scale but dominate a 3k-doc harness run).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "signature_build",
    "positive_pairs_join",
    "group_stats",
    "topk_per_group",
    "dedup_exact",
    "ngram_jaccard_dedup",
    "minhash_lsh_dedup",
    "tfidf_cosine_pairs",
    "embedding_cosine_topk",
    "text_quality",
    "token_count",
    "sessionize",
    "window_agg",
]

ER_N_BASE = {0.001: 100, 0.01: 600, 0.1: 3000}


def run_er_leg(spark, transcripts, checkpoint_dir: str) -> dict:
    """``run_pipeline(PipelineConfig())`` (the threshold scorer) into an
    empty ``checkpoint_dir``; returns its walls and outputs.

    ``wall`` is the call's wall. The stage walls are the report's:
    ``block_wall`` is signatures plus candidates, ``score_wall`` and
    ``cluster_wall`` the scored and clusters stages. The cluster count
    is taken after the call, outside every wall."""
    from neural_entity_matching_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    t0 = time.monotonic()
    clusters, report = run_pipeline(spark, transcripts, checkpoint_dir,
                                    PipelineConfig(), run_id="bench-er")
    wall = time.monotonic() - t0
    st = report.stages
    return {
        "wall": wall,
        "block_wall": (st["signatures"]["wall_ms"]
                       + st["candidates"]["wall_ms"]) / 1000,
        "score_wall": st["scored"]["wall_ms"] / 1000,
        "cluster_wall": st["clusters"]["wall_ms"] / 1000,
        "pairs": st["candidates"]["rows"],
        "clusters": clusters.select("cluster_id").distinct().count(),
        "oversized_blocks": st["_blocking_stats"]["oversized_blocks"],
    }


def run_ml_leg(spark, transcripts, labeled, checkpoint_dir: str) -> dict:
    """``run_pipeline`` with the logistic matcher (seed 0, threshold 0.5)
    on the ``checkpoint_dir`` the ER leg wrote: signatures and
    candidates resume, so the leg times the trained matcher only.

    ``wall`` is the scored stage's wall; ``featurize_wall`` and
    ``train_wall`` are the part walls it records, and ``score_wall`` is
    the rest (scoring, the snapshot write and its commit). The match
    count is taken after the call, outside every wall."""
    from pyspark.sql import functions as F

    from neural_entity_matching_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    _, report = run_pipeline(
        spark, transcripts, checkpoint_dir,
        PipelineConfig(scorer="logistic", threshold=0.5), run_id="bench-ml",
        labeled_pairs=labeled)
    st = report.stages
    if not (st["signatures"]["resumed"] and st["candidates"]["resumed"]):
        raise RuntimeError("the ML leg did not resume blocking")
    scored = st["scored"]
    wall = scored["wall_ms"] / 1000
    featurize = scored["featurize_ms"] / 1000
    train = scored["train_ms"] / 1000
    n_matches = (report.outputs["scored"].agg(F.sum("is_match"))
                 .collect()[0][0])
    return {
        "wall": wall,
        "featurize_wall": featurize,
        "train_wall": train,
        "score_wall": wall - featurize - train,
        "pairs": scored["rows"],
        "matches": int(n_matches or 0),
    }


def run_legs(spark, transcripts, labeled) -> tuple[dict, dict]:
    """The ER leg, then the ML leg, in one fresh checkpoint dir that is
    removed afterwards."""
    ckpt = tempfile.mkdtemp(prefix="nem-bench-")
    try:
        return (run_er_leg(spark, transcripts, ckpt),
                run_ml_leg(spark, transcripts, labeled, ckpt))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def summarize(raw: list[dict], er_runs: list[dict], ml_runs: list[dict],
              sf: float, cpus: int) -> dict:
    """The JSON line from the per-round query walls and leg results."""
    queries = {
        name: round(statistics.median(r[name] for r in raw), 3)
        for name in raw[0]
    }
    total = round(sum(queries.values()), 3)
    # capability line (declared protocol, min-wall estimator): per-query
    # min across rounds. Outputs are byte-identical across rounds, so the
    # minimum is the host-noise-robust location estimate — the number the
    # plan delivers when the host delivers its nominal resources. Median
    # stays the headline 'value' for cross-round comparability; both are
    # published.
    queries_min = {
        name: round(min(r[name] for r in raw), 3) for name in raw[0]
    }
    total_min = round(sum(queries_min.values()), 3)
    er_wall = statistics.median(e["wall"] for e in er_runs)
    score_wall = statistics.median(e["score_wall"] for e in er_runs)
    n_pairs = er_runs[0]["pairs"]
    return {
        "metric": "total_headline_seconds",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "rounds": len(raw),
        "protocol": ("median over interleaved full rounds (headline) + "
                     "min-of-rounds capability line; raw in queries_raw"),
        "queries_min": queries_min,
        "total_min_of_rounds": total_min,
        "queries_raw": raw,
        "er_pairs_scored": n_pairs,
        "pairs_scored_per_sec": round(n_pairs / er_wall, 1) if er_wall else 0.0,
        "pairs_scored_per_sec_scoring_only": (
            round(n_pairs / score_wall, 1) if score_wall else 0.0
        ),
        "er_info": {
            "clusters": er_runs[0]["clusters"],
            "oversized_blocks": er_runs[0]["oversized_blocks"],
            "block_wall_median": round(statistics.median(
                e["block_wall"] for e in er_runs), 3),
            "score_wall_median": round(score_wall, 3),
            "cluster_wall_median": round(statistics.median(
                e["cluster_wall"] for e in er_runs), 3),
        },
        # trained-matcher cost (M1 fit + M2 score over the LSH candidates)
        # — outside the headline total so it stays comparable to r<=3
        "ml_scorer_logistic": {
            "wall_median": round(statistics.median(
                m["wall"] for m in ml_runs), 3),
            "featurize_wall_median": round(statistics.median(
                m["featurize_wall"] for m in ml_runs), 3),
            "train_wall_median": round(statistics.median(
                m["train_wall"] for m in ml_runs), 3),
            "score_wall_median": round(statistics.median(
                m["score_wall"] for m in ml_runs), 3),
            "pairs": ml_runs[0]["pairs"],
            "matches": ml_runs[0]["matches"],
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "4"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from neural_entity_matching_spark.plans import contract
    from neural_entity_matching_spark.session import get_spark
    from neural_entity_matching_spark.sources.synth import to_spark

    spark = get_spark(
        app_name="nem-bench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        tmpfs_shuffle=True)

    n_base = ER_N_BASE.get(sf, max(100, int(30000 * sf)))
    transcripts, labeled, _ = to_spark(spark, n_base=n_base, seed=42)
    transcripts = transcripts.cache()
    transcripts.count()
    labeled = labeled.cache()
    labeled.count()

    # declared warm-up (outside every measured round): both legs on a
    # small slice JIT the whole-stage-codegen paths and fork the
    # Python/Arrow UDF workers. First-ROUND walls previously carried
    # 2-4x of exactly this fixed cost (r6 raw: er 33.3/14.5/9.2s across
    # rounds for byte-identical output); measuring steady-state is the
    # point of the multi-round protocol, so the JIT pass is explicit
    # rather than silently polluting round 1.
    warm = transcripts.limit(1500).cache()
    warm.count()
    run_legs(spark, warm, labeled)
    warm.unpersist()

    raw: list[dict[str, float]] = []
    er_runs: list[dict] = []
    ml_runs: list[dict] = []
    for _ in range(rounds):
        q: dict[str, float] = {}
        for name in BENCH_QUERIES:
            fn = contract.QUERIES[name]
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            q[name] = round(time.monotonic() - t0, 3)
        er, ml = run_legs(spark, transcripts, labeled)
        q["er_pipeline"] = round(er["wall"], 3)
        raw.append(q)
        er_runs.append(er)
        ml_runs.append(ml)

    out = summarize(raw, er_runs, ml_runs, sf, cpus)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
